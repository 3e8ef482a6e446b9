package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single place that maps logical table names to DataFrames.
  *
  * This is the engine's "source connector" layer: the reference syncs a
  * fixed-schema store (Cassandra tables) with a dynamic-document store
  * (Elasticsearch indices); in this zero-egress harness both endpoints are
  * represented by parquet-backed tables (see README). All schema quirks are
  * handled here, ONCE, so operators never touch reader configs:
  *
  *  - `events.parquet` has shipped with TWO timestamp encodings across
  *    driver rounds: ns-precision INT64 timestamps that stock Spark 4.1.2
  *    rejects (`PARQUET_TYPE_ILLEGAL` — rounds 1-4), and native µs
  *    `timestamp_ntz` (round 5+). [[events]] detects the encoding from the
  *    resolved schema and canonicalizes BOTH to the same µs TimestampNTZ
  *    column: for ns data we flip `spark.sql.legacy.parquet.nanosAsLong`
  *    (a runtime-settable session conf) and truncate — digit-for-digit
  *    what DuckDB's silent ns→µs cast does (SURVEY.md §7.5#1-2); for µs
  *    data the read is already canonical. Operators only ever see the
  *    canonical shape, so the storage encoding can keep changing under us.
  *
  * Scale note (100 TB design): each reader is a plain parquet scan, so
  * Catalyst's predicate pushdown / column pruning / partition pruning apply
  * unchanged when the path points at a partitioned multi-file dataset on a
  * real cluster; nothing here assumes a single file.
  */
object Tables {

  // One schema resolution per (session, dir, table): spark.read.parquet
  // re-reads footers for schema inference on EVERY call, which at ~100
  // queries × ~2 tables each is pure per-query planning floor. The
  // returned DataFrame is an immutable logical plan, so sharing one
  // instance across queries is safe (self-joins deduplicate attribute ids
  // via Catalyst's usual aliasing). Keyed on the session identity so
  // Verify/Bench/test sessions never cross; entries die with the process
  // (bounded: #sessions × #dirs × 10 tables).
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), DataFrame]()

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (System.identityHashCode(spark), sfDir, name)
    val cached = resolved.get(key)
    // identity re-check: identityHashCode can be reused after a session is
    // GC'd, so a hash hit alone could hand back a plan bound to a dead
    // session — `eq` makes staleness impossible (worst case: recompute)
    if (cached != null && (cached.sparkSession eq spark)) cached
    else {
      if (resolved.size > 256) resolved.clear() // bound stale-session pins
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      resolved.put(key, df)
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Raw events exactly as stored: `ts` is LongType ns-since-epoch in the
    * legacy encoding, µs TimestampNTZ in the current one. Callers that
    * don't touch `ts` (JSON/props queries) read this; time arithmetic goes
    * through [[events]]/[[eventsUs]]. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    // Runtime-settable (verified SURVEY.md probe 7b); Verify's session does
    // not pre-set it, so the reader must. Harmless for µs data (the conf
    // only changes how ns annotations are read).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(s, d, "events")
  }

  import org.apache.spark.sql.types.{LongType, TimestampNTZType, StructType, StructField, StringType, DoubleType, TimestampType}

  /** ts → canonical µs TimestampNTZ, whatever the storage encoding. */
  private def canonTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // legacy ns longs: truncate exactly like DuckDB
        df.withColumn("ts",
          expr("cast(timestamp_micros(cast(ts div 1000 as long)) as timestamp_ntz)"))
      case TimestampNTZType => df // already canonical
      case TimestampType => // defensive: instant-typed µs; UTC sessions only
        df.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported storage type $other")
    }

  /** Events with `ts` as a µs-precision TimestampNTZ — the canonical shape
    * every time-based operator consumes. Equals DuckDB's
    * `CAST(ts AS TIMESTAMP)` exactly under either storage encoding.
    */
  def events(s: SparkSession, d: String): DataFrame = canonTs(eventsRaw(s, d))

  /** Events with an additional `ts_us` epoch-µs LONG column — the integer
    * domain the deterministic window/decay arithmetic runs in (Spark and
    * DuckDB subtract identically on longs; SURVEY §7.5#2). Single sourced
    * here so the encoding switch can't drift per-operator. All engine
    * sessions run with spark.sql.session.timeZone=UTC, so the ntz→epoch
    * mapping below is the same one DuckDB's `epoch_us(ts)` applies. */
  def eventsUs(s: SparkSession, d: String): DataFrame = {
    // the ntz→timestamp cast below applies the SESSION timezone; any zone
    // but UTC silently shifts every epoch by the offset (no error, wrong
    // numbers). Fail loudly instead — every engine entry point (Verify,
    // Bench, TestSpark, MultiExplain, Probe16) sets UTC.
    val tz = s.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"eventsUs needs spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the ts_us epoch mapping would shift by the zone offset")
    // canonicalize FIRST so `ts` has one shape (µs TimestampNTZ) under
    // either storage encoding; ts_us from the truncated canonical value
    // equals the legacy `ts div 1000` exactly
    events(s, d).withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
  }

  /** The events table as an unbounded stream (same canonical µs shape) —
    * the change-log side of the sync read as Structured Streaming. Any
    * event-time operator defined on [[events]] runs on this unchanged;
    * StreamingSpec asserts the batch/stream equivalence. The stream schema
    * mirrors whatever encoding the batch footer resolves to, so the
    * stream/batch pair can never disagree about `ts`. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = eventsRaw(s, d).schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the file source wants a directory: point at sfDir, glob the one file
    canonTs(s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d))
  }
}
