package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2-D aggregation operators.
  *
  * All of these compile to Spark's partial+final hash aggregate (map-side
  * combine before the shuffle), which is the shape that survives a 100 TB
  * scale-up: the shuffle carries one row per (partition × group), not per
  * input row. Doubles are rounded in-query (and identically in the oracle
  * SQL) for hash stability — see SURVEY.md §7.5#3.
  */
object Aggregates {

  /** d1_agg_group — TPC-H Q1 shape; the flagship query.
    * Filter → groupBy → 6 aggregates → ORDER BY group keys.
    */
  def d1AggGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        Parity.discRevenue($"l_extendedprice", $"l_discount").as("sum_disc_price"),
        Parity.round6(avg($"l_quantity")).as("avg_qty"),
        Parity.round6(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** d2_agg_count_distinct — exact distinct per group. */
  def d2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** d3_agg_approx_distinct — HLL sketch. Sketch estimates differ across
    * engines, so the oracle compares the exact count plus a tolerance
    * boolean both engines agree on, keeping the approx path exercised AND
    * hash-checkable. */
  def d3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        count_distinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id").as("approx_users"))
      // HLL estimates differ between engines, so only the exact count and
      // a generous 10%-relative-error bound (HLL default rsd is ~2.3%) are
      // emitted for the oracle compare; the sketch itself stays exercised.
      .select(
        $"event_type", $"exact_users",
        (abs($"approx_users" - $"exact_users") <=
          $"exact_users" * 0.1).as("approx_within_10pct"))
      .orderBy($"event_type")
  }

  /** The d4/d14 oracles' totals per grouping set, before the GROUP BY. */
  private val GroupingTotalsSql =
    """SELECT o_orderstatus, o_orderpriority,
      |round(sum(o_totalprice), 2) AS total,
      |count(*) AS n,
      |CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
      |FROM 'orders.parquet'""".stripMargin

  /** d4_agg_rollup — ROLLUP with grouping() disambiguation. */
  def d4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(
        round(sum($"o_totalprice"), 2).as("total"),
        count(lit(1)).as("n"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_prio"))
      .orderBy($"g_status", $"g_prio", $"o_orderstatus", $"o_orderpriority")
  }

  /** d14_agg_cube — full grouping-sets lattice (CUBE): all 4 combinations
    * of (status, priority) including both totals, disambiguated by
    * grouping(). Completes the ROLLUP family (d4). */
  def d14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(
        round(sum($"o_totalprice"), 2).as("total"),
        count(lit(1)).as("n"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_prio"))
      .orderBy($"g_status", $"g_prio", $"o_orderstatus", $"o_orderpriority")
  }

  /** d5_agg_having — post-aggregation filter. */
  def d5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 15)
      .orderBy($"o_custkey")
  }

  /** d6_agg_global — no-key aggregate. */
  def d6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      round(sum($"l_extendedprice"), 2).as("sum_price"),
      Parity.round6(avg($"l_quantity")).as("avg_qty"),
      min($"l_shipdate").as("min_ship"),
      max($"l_shipdate").as("max_ship"))
  }

  /** d7_agg_stats — stddev/variance/corr/covar. */
  def d7(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 6).as("sd_qty"),
        round(var_samp($"l_quantity"), 6).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_discount"), 6).as("covar_qty_disc"))
      .orderBy($"l_returnflag")
  }

  /** d8_agg_argmax — LWW as an aggregate: value at the latest timestamp.
    * (user_id, µs-ts) is verified unique at every SF, so no tiebreak needed.
    */
  def d8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(
        max_by($"event_type", $"ts").as("last_type"),
        max($"ts").as("last_ts"))
      .orderBy($"user_id")
  }

  /** d9_agg_collect_sorted — ordered list-of-values per group, serialized
    * to a CSV string: the driver's pandas compare cannot sort ndarray
    * cells (round-1 crash), so list outputs must be scalar-encoded. */
  def d9(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(Parity.csv(sort_array(collect_list($"event_id"))).as("event_ids"))
      .orderBy($"user_id")
  }

  /** d10_agg_conditional — filtered/conditional aggregates. */
  def d10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        count_if($"value" > 250).as("n_high"),
        round(sum(when($"user_id" % 2 === 0, $"value").otherwise(0d)), 2).as("even_user_value"))
      .orderBy($"event_type")
  }

  /** d11_agg_distinct_mixed — distinct + plain aggregates in one pass
    * (Catalyst's expand rewrite). */
  def d11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        round(sum($"value"), 2).as("sum_value"),
        countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  /** d12_agg_percentile — exact percentiles (not approx). */
  def d12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25_price"))
      .orderBy($"l_returnflag")
  }

  /** d15_agg_approx_percentile — the sketch percentile for 100 TB, where
    * exact `percentile` (d12) must materialize and sort every group value:
    * `approx_percentile` (t-digest-style, bounded accuracy parameter) keeps
    * per-group state constant. Cross-engine sketch internals differ, so the
    * oracle follows d3's discipline: emit the exact percentile plus a
    * tolerance boolean both engines agree on — the approx path stays
    * exercised AND hash-checkable. Tolerance: the events `value` spans
    * ~0..500, accuracy 1000 bounds rank error well under 1%, so |approx −
    * exact| ≤ max(1.0, 5% · exact) is generous and stable. */
  def d15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
        expr("approx_percentile(value, 0.5, 1000)").as("approx_p50"),
        round(expr("percentile(value, 0.95)"), 6).as("exact_p95"),
        expr("approx_percentile(value, 0.95, 1000)").as("approx_p95"))
      .select(
        $"event_type", $"exact_p50", $"exact_p95",
        (abs($"approx_p50" - $"exact_p50") <=
          greatest(lit(1.0), $"exact_p50" * 0.05)).as("p50_within_tol"),
        (abs($"approx_p95" - $"exact_p95") <=
          greatest(lit(1.0), $"exact_p95" * 0.05)).as("p95_within_tol"))
      .orderBy($"event_type")
  }

  /** d13_agg_salted_skew — the hot-key mitigation as a graded operator:
    * two-level salted aggregation (scatter each key over 16 deterministic
    * sub-keys, partial-agg, combine). The oracle is the PLAIN group-by —
    * exact DECIMAL arithmetic makes the salted result bit-identical
    * regardless of combination order, which is precisely the property
    * that makes salting safe to deploy (Skew.saltedSumCount; SURVEY §6). */
  def d13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Skew.saltedSumCount(Tables.events(s, d),
      $"user_id", Parity.dec2($"value"), $"event_id", salts = 16)
      .select($"k".as("user_id"),
        Parity.money($"sum_value").as("sum_value"), $"n")
      .orderBy($"user_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_agg_group" -> d1AggGroup, "d2_agg_count_distinct" -> d2,
    "d3_agg_approx_distinct" -> d3, "d4_agg_rollup" -> d4,
    "d5_agg_having" -> d5, "d6_agg_global" -> d6, "d7_agg_stats" -> d7,
    "d8_agg_argmax" -> d8, "d9_agg_collect_sorted" -> d9,
    "d10_agg_conditional" -> d10, "d11_agg_distinct_mixed" -> d11,
    "d12_agg_percentile" -> d12, "d13_agg_salted_skew" -> d13,
    "d14_agg_cube" -> d14, "d15_agg_approx_percentile" -> d15)

  val oracle: Map[String, String] = Map(
    "d1_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base_price,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |floor(avg(l_quantity) * 1000000 + 0.5) / 1000000.0 AS avg_qty,
        |floor(avg(l_discount) * 1000000 + 0.5) / 1000000.0 AS avg_disc,
        |count(*) AS count_order
        |FROM 'lineitem.parquet'
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "d2_agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM 'events.parquet' GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d3_agg_approx_distinct" ->
      """SELECT event_type,
        |count(DISTINCT user_id) AS exact_users,
        |abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |  <= count(DISTINCT user_id) * 0.1 AS approx_within_10pct
        |FROM 'events.parquet' GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d15_agg_approx_percentile" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 6) AS exact_p50,
        |round(quantile_cont(value, 0.95), 6) AS exact_p95,
        |abs(approx_quantile(value, 0.5) - round(quantile_cont(value, 0.5), 6))
        |  <= greatest(1.0, round(quantile_cont(value, 0.5), 6) * 0.05) AS p50_within_tol,
        |abs(approx_quantile(value, 0.95) - round(quantile_cont(value, 0.95), 6))
        |  <= greatest(1.0, round(quantile_cont(value, 0.95), 6) * 0.05) AS p95_within_tol
        |FROM 'events.parquet' GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d4_agg_rollup" ->
      s"""$GroupingTotalsSql
         |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_prio,
         |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "d5_agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM 'orders.parquet'
        |GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""".stripMargin,
    "d6_agg_global" ->
      """SELECT count(*) AS n_rows,
        |round(sum(l_extendedprice), 2) AS sum_price,
        |floor(avg(l_quantity) * 1000000 + 0.5) / 1000000.0 AS avg_qty,
        |min(l_shipdate) AS min_ship,
        |max(l_shipdate) AS max_ship
        |FROM 'lineitem.parquet'""".stripMargin,
    "d7_agg_stats" ->
      """SELECT l_returnflag,
        |round(stddev_samp(l_quantity), 6) AS sd_qty,
        |round(var_samp(l_quantity), 6) AS var_qty,
        |round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
        |FROM 'lineitem.parquet' GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "d8_agg_argmax" ->
      """SELECT user_id,
        |arg_max(event_type, CAST(ts AS TIMESTAMP)) AS last_type,
        |max(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM 'events.parquet' GROUP BY user_id ORDER BY user_id""".stripMargin,
    "d9_agg_collect_sorted" ->
      """SELECT user_id, array_to_string(list_sort(array_agg(event_id)), ',') AS event_ids
        |FROM 'events.parquet' GROUP BY user_id ORDER BY user_id""".stripMargin,
    "d10_agg_conditional" ->
      """SELECT event_type,
        |count(*) FILTER (WHERE value > 250) AS n_high,
        |round(sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0 END), 2) AS even_user_value
        |FROM 'events.parquet' GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d11_agg_distinct_mixed" ->
      """SELECT event_type,
        |round(sum(value), 2) AS sum_value,
        |count(DISTINCT user_id) AS n_users,
        |count(*) AS n_events
        |FROM 'events.parquet' GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d12_agg_percentile" ->
      """SELECT l_returnflag,
        |round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6) AS p50_qty,
        |round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 6) AS p90_qty,
        |round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p25_price
        |FROM 'lineitem.parquet' GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "d13_agg_salted_skew" ->
      """SELECT user_id,
        |CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
        |count(*) AS n
        |FROM 'events.parquet' GROUP BY user_id ORDER BY user_id""".stripMargin,
    "d14_agg_cube" ->
      s"""$GroupingTotalsSql
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
}
