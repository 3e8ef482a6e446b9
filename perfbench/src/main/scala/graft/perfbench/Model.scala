package graft.perfbench

import scala.collection.mutable

/** C*'s per-cell conflict rule: the greater write stamp wins; on equal
  * stamps the greater value wins, compared as C* compares cell bytes
  * (unsigned, big-endian, a longer prefix greater). On a full tie the
  * stored cell stays. */
object CellRule {
  final case class Cell(value: Any, stamp: Long)

  def wins(cand: Cell, stored: Cell): Boolean =
    cand.stamp > stored.stamp ||
      (cand.stamp == stored.stamp && valueGt(cand.value, stored.value))

  def valueGt(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _) => false
    case (_, null) => true
    case (x: Long, y: Long) => java.lang.Long.compareUnsigned(x, y) > 0
    case (x: String, y: String) =>
      val (p, q) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      java.util.Arrays.compareUnsigned(p, q) > 0
    case _ => throw new IllegalArgumentException(s"incomparable cells $a / $b")
  }
}

/** Reference model of the cell loop: every generated write, resolved by
  * [[CellRule]]. It predicts the final C* row and ES doc of every key. */
final class CellModel(val cells: Seq[String]) {
  import CellRule.Cell
  val merged = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Cell]]
  /** The C* `ts` cell: the stamp of the key's last C*-side write (the
    * relay never writes it). */
  val cqlTs = mutable.HashMap.empty[Long, Long]
  /** Greatest stamp any write to the key carried: the ES doc's `ts`. */
  val maxStamp = mutable.HashMap.empty[Long, Long]

  def write(fromCql: Boolean, key: Long, values: Map[String, Any], stamp: Long): Unit = {
    val row = merged.getOrElseUpdate(key, mutable.Map.empty)
    values.foreach { case (c, v) =>
      require(cells.contains(c), s"unknown cell $c")
      val cand = Cell(v, stamp)
      if (row.get(c).forall(CellRule.wins(cand, _))) row(c) = cand
    }
    maxStamp(key) = math.max(maxStamp.getOrElse(key, Long.MinValue), stamp)
    if (fromCql) cqlTs(key) = math.max(cqlTs.getOrElse(key, Long.MinValue), stamp)
  }

  def cell(key: Long, c: String): Option[Cell] = merged.get(key).flatMap(_.get(c))
}

/** One version of a row-loop row. */
final case class Row(ts: Long, uid: Long, payload: String)

/** Reference model of the row loop: per key the row with the greatest
  * `ts` wins, ties broken by the greater `uid`. Only changed keys are
  * held; every other key keeps its preloaded row. */
final class RowModel {
  val rows = mutable.LinkedHashMap.empty[Long, Row]

  def wins(cand: Row, stored: Row): Boolean =
    cand.ts > stored.ts || (cand.ts == stored.ts && cand.uid > stored.uid)

  def write(key: Long, row: Row, preloaded: Option[Row]): Unit = {
    val cur = rows.get(key).orElse(preloaded)
    if (cur.forall(wins(row, _))) rows(key) = row
  }
}
