package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** The reference's sync semantics as relational operators: as-of lookup
  * (apply newest state), incremental LWW merge (the main sync loop), and
  * the typed-Aggregator form of last-write-wins.
  *
  * c10 deliberately avoids the pair-join emulation of ASOF: the union-tag +
  * running-last window does ONE shuffle on user_id and carries O(1) state
  * per row, so it scales to arbitrarily long histories — the pair-join
  * form is quadratic in events-per-user.
  */
object SyncOps {

  /** c10_join_asof — each purchase matched to the latest same-user view
    * at-or-before it (inner as-of; ties impossible: (user, µs-ts) unique). */
  def c10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view").select(
      $"user_id", $"ts",
      $"event_id".as("v_id"), $"ts".as("v_ts_src"),
      lit(null).cast("long").as("p_id"), lit(0).as("tag"))
    val p = ev.filter($"event_type" === "purchase").select(
      $"user_id", $"ts",
      lit(null).cast("long").as("v_id"), lit(null).cast("timestamp_ntz").as("v_ts_src"),
      $"event_id".as("p_id"), lit(1).as("tag"))
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"tag".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v.unionByName(p)
      .withColumn("view_id", last($"v_id", ignoreNulls = true).over(w))
      .withColumn("v_ts", last($"v_ts_src", ignoreNulls = true).over(w))
      .filter($"tag" === 1 && $"view_id".isNotNull)
      .select($"p_id".as("purchase_id"), $"ts".as("p_ts"), $"view_id", $"v_ts")
      .orderBy($"purchase_id")
  }

  /** c12_join_asof_native — the same as-of semantics as c10, but through
    * the engine's first-class operator (graft.plans.AsOfJoinExec: custom
    * LogicalPlan + Strategy + merge-join physical node) instead of the
    * union+window composition. Same oracle as c10. */
  def c12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("p_ts"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("v_ts"))
    graft.plans.AsOf.join(p, v, Seq("user_id"), "p_ts", "v_ts")
      .select($"purchase_id", $"p_ts", $"view_id", $"v_ts")
      .orderBy($"purchase_id")
  }

  /** i6_incremental_lww_merge — the reference's main loop as one operator:
    * base snapshot (LWW state at the watermark) + change batch → merged
    * snapshot, newest per key wins. Batch form of the foreachBatch upsert
    * in streaming.Sync. */
  def i6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    val ev = Tables.events(s, d)
    val keep = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    // base: LWW state as of the watermark (one row per key)
    val base = ev.filter($"ts" <= cutoff)
      .withColumn("rn", row_number().over(keep)).filter($"rn" === 1).drop("rn")
    // delta: the change feed since the watermark (many rows per key)
    val delta = ev.filter($"ts" > cutoff)
    base.unionByName(delta)
      .withColumn("rn", row_number().over(keep)).filter($"rn" === 1)
      .select($"user_id", $"event_id", $"ts", $"event_type",
        when($"ts" <= cutoff, "base").otherwise("delta").as("src"))
      .orderBy($"user_id")
  }

  /** i12_lww_delete_merge — delete propagation in the batch surface: the
    * LIVE VIEW after an LWW merge where the winning change can be a
    * tombstone. Keep each key's newest change; a key whose newest change
    * is a tombstone is absent from the view. `event_type = 'error'`
    * stands in for the payload-NULL tombstone of the streaming layer.
    * Batch twin of `Sync.liveView(Sync.mergeLww(...))` — NOT
    * of the merge alone: the merge must RETAIN winning tombstones (or a
    * replayed older update would resurrect the key, see Sync.scala); only
    * the read-side view drops them, which is what this query computes.
    * One window shuffle on the key; the tombstone filter rides after the
    * rank, so a key deleted-then-rewritten correctly survives. */
  def i12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"event_type" =!= "error")
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .orderBy($"user_id")
  }

  /** i11_sync_stats — the sync loop's observability: classify every key
    * touched by a batch round as insert (new key), update (existing key,
    * newer change) or untouched (no change since the watermark), with
    * counts — what the reference logs after each round. */
  def i11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // orders as the change log (dates 1995–2001; events are too dense —
    // every user straddles any cutoff, collapsing the classes to 'update')
    val cutoff = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    val o = Tables.orders(s, d)
    val baseKeys = o.filter($"o_orderdate" <= cutoff).select($"o_custkey").distinct()
    val deltaKeys = o.filter($"o_orderdate" > cutoff).select($"o_custkey").distinct()
    baseKeys.withColumn("in_base", lit(1))
      .join(deltaKeys.withColumn("in_delta", lit(1)), Seq("o_custkey"), "full_outer")
      .select(
        when($"in_base".isNull, "insert")
          .when($"in_delta".isNull, "untouched")
          .otherwise("update").as("op"))
      .groupBy($"op").agg(count(lit(1)).as("n_keys"))
      .orderBy($"op")
  }

  /** i13_sync_diff — the sync tool's `verify` subcommand: reconcile the
    * source store against a (simulated) lagging replica by row checksum
    * and report every divergence class with counts per event_type. The
    * replica is derived deterministically from the source inside the
    * query — identically in both engines — with three injected fault
    * classes: missed inserts (event_id % 97 == 0 absent), divergent
    * updates (event_id % 101 == 0 carries value+1), and orphans
    * (event_id % 103 == 0 re-keyed by negation — `-id - 1` is disjoint
    * from the non-negative source id space at ANY scale; a fixed offset
    * would collide once real ids pass it).
    *
    * Row identity = md5 over the canonical value string (h9's checksum
    * discipline: money as integer cents — no stringified double ever
    * enters a hash; props verbatim). Divergence classes:
    * `missing_in_target` / `missing_in_source` / `checksum_mismatch` /
    * `in_sync`.
    *
    * Scale shape: one full-outer equi-join keyed on the row id — both
    * sides shuffle-partition on the same key, which is the honest cost of
    * a full-store reconcile (the reference pages both stores and compares
    * in the driver; co-partitioned merge IS that loop distributed). The
    * report aggregates map-side to |classes|×|event_types| rows. */
  /** The event-row checksum — ONE definition shared by batch i13 and the
    * streaming [[graft.streaming.Sync.syncDiffStreamReleasable]] (h9's
    * canonical-string discipline: money as integer cents, props verbatim), so the
    * two reconcile surfaces can't disagree about row identity. */
  def eventChecksum(df: DataFrame): DataFrame = df.withColumn("cs",
    md5(concat_ws("|", col("user_id"), col("event_type"),
      round(col("value") * 100, 0).cast("long"), col("props"))))

  def i13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withCs = eventChecksum _
    val src = withCs(Tables.eventsRaw(s, d)
      .select($"event_id", $"user_id", $"event_type", $"value", $"props"))
    val tgt = withCs(Tables.eventsRaw(s, d)
      .select($"event_id", $"user_id", $"event_type", $"value", $"props")
      .filter($"event_id" % 97 =!= 0)
      .withColumn("value",
        when($"event_id" % 101 === 0, $"value" + 1.0).otherwise($"value")))
      .withColumn("event_id",
        when($"event_id" % 103 === 0, -$"event_id" - 1L)
          .otherwise($"event_id"))
    src.select($"event_id", $"event_type".as("et_s"), $"cs".as("cs_s"))
      .join(tgt.select($"event_id", $"event_type".as("et_t"), $"cs".as("cs_t")),
        Seq("event_id"), "full_outer")
      .select(
        when($"cs_t".isNull, "missing_in_target")
          .when($"cs_s".isNull, "missing_in_source")
          .when($"cs_s" =!= $"cs_t", "checksum_mismatch")
          .otherwise("in_sync").as("status"),
        coalesce($"et_s", $"et_t").as("event_type"))
      .groupBy($"status", $"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"status", $"event_type")
  }

  /** i14_ttl_expiry — Cassandra per-row TTL semantics on the batch
    * surface (C* `USING TTL` / `INSERT ... TTL n`): every event carries a
    * row-level TTL (derived from props.k as `k mod 48` hours — the a3
    * schema-on-read path, computed identically in both engines), and the
    * LIVE view as of a fixed read time T₀ (2024-01-15 00:00 UTC, mid-
    * span) classifies each row: written after T₀ (not yet visible),
    * expired (ts + ttl ≤ T₀ — what C* purges at compaction), or live.
    * The sync loop must respect this: an expired source row must not be
    * resurrected into the target index. Reported per event_type with the
    * live rows' exact cents balance.
    *
    * Scale shape: pure row-local integer-µs arithmetic + ONE keyed
    * map-combined aggregation (classification needs no state — TTL is a
    * pure function of the row and the read time). */
  def i14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoffUs = 1705276800000000L // 2024-01-15T00:00:00Z as epoch-µs
    Tables.eventsUs(s, d)
      .select($"event_type", $"ts_us",
        round($"value" * 100, 0).cast("long").as("cents"),
        (get_json_object($"props", "$.k").cast("long") % 48).as("ttl_h"))
      .withColumn("expiry_us", $"ts_us" + $"ttl_h" * 3600000000L)
      .withColumn("status",
        when($"ts_us" > cutoffUs, "future")
          .when($"expiry_us" <= cutoffUs, "expired")
          .otherwise("live"))
      .groupBy($"event_type")
      .agg(
        count(when($"status" === "live", 1)).as("n_live"),
        count(when($"status" === "expired", 1)).as("n_expired"),
        count(when($"status" === "future", 1)).as("n_future"),
        round(coalesce(sum(when($"status" === "live", $"cents")), lit(0L))
          / lit(100.0), 2).as("live_value"))
      .orderBy($"event_type")
  }

  /** The cell write stamp as ONE exact integer: ts_us·10⁸ + event_id.
    * (ts_us, event_id) is unique, so the stamp is a total order; both
    * engines compare the same integer — Spark DECIMAL(38,0) (1.7e23 ≪
    * 10³⁸), DuckDB HUGEINT. Shared by i20 and its streaming twin
    * (graft.streaming.Sync.cellLwwSink) so the conflict rule cannot
    * drift between surfaces. */
  private[graft] def cellStamp(tsUs: org.apache.spark.sql.Column,
      eventId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    tsUs.cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
      lit(100000000L) + eventId

  /** The i20 change feed: each change writes a SUBSET of the row's cells
    * (event_id mod 3 → {status}, {val}, or both — the partial-UPDATE
    * shape of real CQL writes), derived deterministically from events in
    * both engines. Shared by the batch query and the streaming twin. */
  private[graft] def cellChanges(s: SparkSession, d: String): DataFrame =
    cellChangesFrom(Tables.eventsUs(s, d))

  /** [[cellChanges]] over any events-shaped frame carrying ts_us — the
    * streaming twin feeds micro-batches through the SAME derivation. */
  private[graft] def cellChangesFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.select($"user_id", $"event_type", $"ts_us", $"event_id",
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
      ($"event_id" % 3 =!= 1).as("ws"),  // writes the status cell
      ($"event_id" % 3 =!= 0).as("wv"))  // writes the val cell
  }

  /** Per-key per-CELL LWW state for one slice of the change feed — the
    * composable inner aggregate of i20 (compose ∘ compose = compose: the
    * streaming twin merges these across micro-batches). One map-combined
    * keyed aggregation; max_by skips rows whose ordering is null, which
    * is how "this change did not write that cell" threads through. */
  private[graft] def cellMergeSlice(changes: DataFrame): DataFrame = {
    import changes.sparkSession.implicits._
    changes.groupBy($"user_id").agg(
      max_by($"event_type", when($"ws", cellStamp($"ts_us", $"event_id"))).as("status"),
      max(when($"ws", $"ts_us")).as("status_ts_us"),
      max(when($"ws", cellStamp($"ts_us", $"event_id"))).as("s_ord"),
      max_by($"cents", when($"wv", cellStamp($"ts_us", $"event_id"))).as("val_cents"),
      max(when($"wv", $"ts_us")).as("val_ts_us"),
      max(when($"wv", cellStamp($"ts_us", $"event_id"))).as("v_ord"),
      count(lit(1)).as("n_changes"),
      max($"ts_us").as("row_ts_us"))
  }

  /** i20_cell_lww_merge — Cassandra's TRUE conflict semantics: per-CELL
    * (per-column) last-write-wins. C*'s WRITETIME is per column, and a
    * correct bidirectional merge resolves EACH column to its newest
    * writer — NOT the whole row to the newest change (i6's row-granular
    * rule), which silently discards newer cells carried by the losing
    * row whenever two writers updated DIFFERENT columns. Each cell
    * resolves by argmax over its own write stamps; `split_writers`
    * marks the keys whose two cells come from DIFFERENT changes — the
    * rows a row-granular LWW gets wrong (the fixture exercises both
    * classes). Cells nobody wrote stay NULL (C*: column absent).
    *
    * Scale shape: ONE map-combined keyed aggregation — constant state
    * per (group × cell), no window, no self-join; at 100 TB this is a
    * single shuffle on the key, and the same aggregate composes across
    * epochs (streaming twin Sync.cellLwwSink merges slice states by the
    * same per-cell argmax). */
  def i20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cellMergeSlice(cellChanges(s, d))
      .select($"user_id", $"status", $"status_ts_us", $"val_cents",
        $"val_ts_us", $"n_changes", $"row_ts_us",
        when($"s_ord".isNull || $"v_ord".isNull, 0)
          .when($"s_ord" =!= $"v_ord", 1).otherwise(0).as("split_writers"))
      .orderBy($"user_id")
  }

  /** Input/buffer row for the LWW aggregator: a (timestamp, value) pair. */
  case class TsVal(ts_us: Long, v: String)

  /** k2 — last-write-wins as a typed Aggregator[IN, BUF, OUT]: returns the
    * value carried by the max-timestamp row. Commutative + associative
    * merge, so Spark can partial-aggregate map-side — the property that
    * makes LWW safe to distribute. */
  object LwwAggregator extends Aggregator[TsVal, TsVal, String] {
    def zero: TsVal = TsVal(Long.MinValue, null)
    def reduce(b: TsVal, a: TsVal): TsVal = if (a.ts_us > b.ts_us) a else b
    def merge(x: TsVal, y: TsVal): TsVal = if (x.ts_us >= y.ts_us) x else y
    def finish(b: TsVal): String = b.v
    def bufferEncoder: Encoder[TsVal] = Encoders.product[TsVal]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** k2_typed_aggregator — LWW via the typed-UDAF codepath (= d8 semantics
    * through a custom Aggregator instead of the built-in max_by). */
  def k2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lww = udaf(LwwAggregator)
    s.udf.register("lww_last", lww)
    Tables.eventsUs(s, d)
      .select($"user_id", $"ts_us", $"event_type")
      .groupBy($"user_id")
      .agg(lww($"ts_us", $"event_type").as("last_type"))
      .orderBy($"user_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c10_join_asof" -> c10, "c12_join_asof_native" -> c12,
    "i6_incremental_lww_merge" -> i6, "i11_sync_stats" -> i11,
    "i12_lww_delete_merge" -> i12, "i13_sync_diff" -> i13,
    "i14_ttl_expiry" -> i14, "k2_typed_aggregator" -> k2,
    "i20_cell_lww_merge" -> i20)

  /** c10 and c12 implement the SAME semantics (composed vs native) and are
    * graded against one oracle text — edit here, both keys follow. */
  private val asofOracle: String =
    """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM 'events.parquet' WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM 'events.parquet' WHERE event_type = 'view')
      |SELECT p.event_id AS purchase_id, p.ts AS p_ts,
      |       v.event_id AS view_id, v.ts AS v_ts
      |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY purchase_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "i20_cell_lww_merge" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 100000000
        |               + event_id AS ord,
        |             event_id % 3 <> 1 AS ws, event_id % 3 <> 0 AS wv
        |           FROM 'events.parquet')
        |SELECT user_id,
        |       arg_max(event_type, ord) FILTER (WHERE ws) AS status,
        |       max(ts_us) FILTER (WHERE ws) AS status_ts_us,
        |       arg_max(cents, ord) FILTER (WHERE wv) AS val_cents,
        |       max(ts_us) FILTER (WHERE wv) AS val_ts_us,
        |       count(*) AS n_changes,
        |       max(ts_us) AS row_ts_us,
        |       CASE WHEN max(ord) FILTER (WHERE ws) IS NULL
        |              OR max(ord) FILTER (WHERE wv) IS NULL THEN 0
        |            WHEN max(ord) FILTER (WHERE ws) <> max(ord) FILTER (WHERE wv) THEN 1
        |            ELSE 0 END AS split_writers
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "i14_ttl_expiry" ->
      """WITH e AS (SELECT event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) % 48 AS ttl_h
        |           FROM 'events.parquet'),
        |c AS (SELECT event_type, cents,
        |        CASE WHEN us > 1705276800000000 THEN 'future'
        |             WHEN us + ttl_h * 3600000000 <= 1705276800000000 THEN 'expired'
        |             ELSE 'live' END AS status
        |      FROM e)
        |SELECT event_type,
        |       count(*) FILTER (WHERE status = 'live') AS n_live,
        |       count(*) FILTER (WHERE status = 'expired') AS n_expired,
        |       count(*) FILTER (WHERE status = 'future') AS n_future,
        |       round(CAST(coalesce(sum(cents) FILTER (WHERE status = 'live'), 0) AS BIGINT)
        |             / 100.0, 2) AS live_value
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,
    "i13_sync_diff" ->
      """WITH s AS (SELECT event_id, event_type,
        |             md5(concat_ws('|', user_id, event_type,
        |               CAST(round(value * 100, 0) AS BIGINT), props)) AS cs
        |           FROM 'events.parquet'),
        |t0 AS (SELECT event_id, event_type, user_id,
        |         CASE WHEN event_id % 101 = 0 THEN value + 1.0 ELSE value END AS value,
        |         props
        |       FROM 'events.parquet' WHERE event_id % 97 <> 0),
        |t AS (SELECT CASE WHEN event_id % 103 = 0 THEN -event_id - 1 ELSE event_id END AS event_id,
        |        event_type,
        |        md5(concat_ws('|', user_id, event_type,
        |          CAST(round(value * 100, 0) AS BIGINT), props)) AS cs
        |      FROM t0)
        |SELECT CASE WHEN t.cs IS NULL THEN 'missing_in_target'
        |            WHEN s.cs IS NULL THEN 'missing_in_source'
        |            WHEN s.cs <> t.cs THEN 'checksum_mismatch'
        |            ELSE 'in_sync' END AS status,
        |       coalesce(s.event_type, t.event_type) AS event_type,
        |       count(*) AS n
        |FROM s FULL OUTER JOIN t USING (event_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "c10_join_asof" -> asofOracle,
    "c12_join_asof_native" -> asofOracle,
    "i6_incremental_lww_merge" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |            FROM 'events.parquet'),
        |base AS (SELECT * FROM ev WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
        |delta AS (SELECT * FROM ev WHERE ts > TIMESTAMP '2024-01-15 00:00:00'),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
        |SELECT user_id, event_id, ts, event_type,
        |CASE WHEN ts <= TIMESTAMP '2024-01-15 00:00:00' THEN 'base' ELSE 'delta' END AS src
        |FROM u
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "i11_sync_stats" ->
      """WITH b AS (SELECT DISTINCT o_custkey FROM 'orders.parquet'
        |           WHERE o_orderdate <= TIMESTAMP '1998-01-01 00:00:00'),
        |     d AS (SELECT DISTINCT o_custkey FROM 'orders.parquet'
        |           WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00')
        |SELECT CASE WHEN b.o_custkey IS NULL THEN 'insert'
        |            WHEN d.o_custkey IS NULL THEN 'untouched'
        |            ELSE 'update' END AS op,
        |       count(*) AS n_keys
        |FROM b FULL OUTER JOIN d ON b.o_custkey = d.o_custkey
        |GROUP BY op ORDER BY op""".stripMargin,
    "i12_lww_delete_merge" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |FROM 'events.parquet'
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
        |  AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "k2_typed_aggregator" ->
      """SELECT user_id, arg_max(event_type, CAST(ts AS TIMESTAMP)) AS last_type
        |FROM 'events.parquet' GROUP BY user_id ORDER BY user_id""".stripMargin)
}
