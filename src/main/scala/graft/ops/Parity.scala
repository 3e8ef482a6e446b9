package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine hash-stability helpers (SURVEY.md §7.5#3-4).
  *
  * Money trap: `round(double, 2)` disagrees between engines on boundary
  * values — Spark rounds the shortest-decimal representation (via
  * BigDecimal.valueOf) while DuckDB rounds the true binary value, so a
  * computed 90591.694999…97 renders as 90591.70 in Spark and 90591.69 in
  * DuckDB. All monetary columns in the test data are verified 2dp-clean, so
  * the fix is exact DECIMAL(18,2) arithmetic on both sides: cast before
  * multiplying/summing, round the exact decimal result, cast back to
  * DOUBLE. Decimal→double conversion is uniquely defined, so the outputs
  * are bit-identical.
  */
object Parity {
  /** Exact 2dp decimal view of a stored-as-double money column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Canonical money output: round the exact decimal to 2dp, emit DOUBLE. */
  def money(c: Column): Column = round(c, 2).cast("double")

  /** CSV-encode a list column. The driver's pandas compare cannot sort
    * array cells (round-1 crash), so NO query may output an array column —
    * every list is serialized through this one helper (DuckDB mirror:
    * `array_to_string(list, ',')`). */
  def csv(arr: Column): Column =
    array_join(transform(arr, x => x.cast("string")), ",")

  /** Exact-DECIMAL discounted revenue Σ price·(1−discount) — the TPC-H
    * money aggregate, single-sourced (r7 review: five byte-identical
    * inline copies is five places a precision edit can diverge). */
  def discRevenue(price: Column, discount: Column): Column =
    money(sum(dec2(price) * (lit(1) - dec2(discount))))

  /** Order-deterministic double sum for a grouped aggregation: collect,
    * sort, THEN fold — plain sum() over doubles is order-nondeterministic
    * across shuffles, which breaks the oracle hash compare (j24/j33/j34
    * discipline). DuckDB mirror: `list_sum(list_sort(list(x)))`. Every
    * score-summing search/LM operator goes through this one helper.
    *
    * SCALE CONTRACT: the group must be BOUNDED (per-doc term lists,
    * banded scalar frames, ≤window-width buffers) — the aggregation
    * buffer holds the whole group's list. For corpus- or vocab-unbounded
    * groups use [[qsum]], which is partial-aggregable. */
  def sortedFoldSum(c: Column): Column =
    aggregate(array_sort(collect_list(c)), lit(0.0), (a, x) => a + x)

  /** Order-INDEPENDENT exact sum for corpus-unbounded groups — the j205
    * quantized exact-sum device as a reusable aggregate: quantize each
    * value to integer micro-units (round(x·10⁶), the j49 round-cast
    * shape), sum the integers EXACTLY in DECIMAL(28,0)→(38,0) (partial-
    * aggregable: map-side combine works, constant per-group state — no
    * collect_list buffer), then ONE cast back to double and ONE division
    * by the scale. Integer addition commutes, so the result is bit-
    * stable across any shuffle layout, and the decimal accumulator has
    * 100 TB headroom (10³⁸ ≫ n·|x|·10⁶ at any real corpus). The value is
    * DEFINED at 1e-6 quantization — both engines quantize identically,
    * so outputs rounded at 6dp hash-match.
    *
    * DuckDB mirror: `CAST(sum(CAST(round(x * 1000000) AS BIGINT))
    * AS DOUBLE) / 1000000.0` (DuckDB's BIGINT sum is an exact HUGEINT;
    * the final double conversions agree because both are IEEE
    * round-to-nearest of the same exact integer). */
  def qsum(c: Column): Column =
    sum(round(c * lit(1000000.0), 0).cast(DecimalType(28, 0)))
      .cast("double") / lit(1000000.0)

  /** Cross-engine-stable 6dp rounding for a [[qsum]]-derived MEAN.
    * `round(x, 6)` is two different algorithms: Spark HALF_UPs the
    * shortest-decimal repr, DuckDB the binary value — and a quantized
    * mean (k/10⁶)/n lands EXACTLY on the half boundary whenever
    * 2·k·10⁶/n is an odd integer, where the two algorithms disagree by
    * 1e-6 (caught by the r13 six-leg sweep: j105's label-9 centroid at
    * sf0.1). floor(x·10⁶ + 0.5) evaluates the SAME double with the
    * SAME algorithm in both engines — half-boundary direction becomes
    * a property of the value, not of the engine. (floor rounds a
    * negative half toward −∞ where HALF_UP goes away from zero — a
    * deliberate, documented deviation; identical both sides is the
    * contract.) DuckDB mirror: floor(x * 1000000 + 0.5) / 1000000.0 */
  def round6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("double") / lit(1000000.0)

  /** The DuckDB oracles' [[round6]] of the [[qsum]] mean of `x` over a
    * group. */
  private[ops] def qmeanSql(x: String): String =
    s"""floor((CAST(sum(CAST(round($x * 1000000) AS BIGINT)) AS DOUBLE)
       |             / 1000000.0 / count(*)) * 1000000 + 0.5) / 1000000.0""".stripMargin
}
