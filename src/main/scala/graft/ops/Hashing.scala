package graft.ops

/** Shared md5-nibble arithmetic — the cross-engine pseudo-randomness
  * device: the first `nibbles` hex chars of an md5 value read as a
  * base-16 integer, generated as a SQL fragment for `expr(...)`. Used by
  * j23 (split bucket), j28 (sampling fraction), j30 (shard), j31
  * (hyperplane components), j32 (sketch cells); every DuckDB oracle carries the strpos()
  * mirror of the identical arithmetic, so the pseudo-random choices are
  * bit-reproducible across engines, runs, and cluster layouts. */
private[graft] object Hashing {
  def nibbleInt(h: String, nibbles: Int = 4): String =
    (0 until nibbles).map { i =>
      val w = 1 << (4 * (nibbles - 1 - i))
      val term = s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1)"
      if (w == 1) term else s"$term * $w"
    }.mkString("(", " + ", ")")

  /** DuckDB mirror of [[nibbleInt]] over an inline md5 expression
    * (strpos-for-instr, same base-16 weights) — the same arithmetic the
    * Spark side evaluates, so draws are bit-reproducible cross-engine. */
  def duckNibble(h: String, nibbles: Int = 4): String =
    (0 until nibbles).map { i =>
      val w = 1L << (4 * (nibbles - 1 - i))
      val term = s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1)"
      if (w == 1L) term else s"$term * $w"
    }.mkString("(", " + ", ")")
}
