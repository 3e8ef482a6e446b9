package graft

import graft.streaming.Sync
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Delete propagation (tombstones), the sink layer, and batch↔stream
  * equivalence of the event-time operators over the real events table.
  */
class SinksAndDeletesSpec extends AnyFunSuite {
  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("tombstones delete keys and stay deleted against older replays") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq(
      Change(1, ts("2024-01-01 10:00:00"), 1, "v1"),
      Change(2, ts("2024-01-01 10:00:00"), 2, "w1")).toDF()
    val delete = Seq(
      Change(1, ts("2024-01-01 11:00:00"), 3, null)).toDF() // tombstone for key 1
    val snap = Sync.mergeLww(base, delete)
    assert(Sync.liveView(snap).select($"key").as[Long].collect().toSet === Set(2L))
    // an UPDATE for key 1 that is OLDER than the delete replays late:
    val staleReplay = Seq(Change(1, ts("2024-01-01 10:30:00"), 4, "resurrect?")).toDF()
    val snap2 = Sync.mergeLww(snap, staleReplay)
    assert(Sync.liveView(snap2).select($"key").as[Long].collect().toSet === Set(2L),
      "a stale update resurrected a deleted key")
    // compaction keeps winning tombstones until the watermark passes them
    val compacted = Sync.compactTombstones(snap2, ts("2024-01-01 12:00:00"))
    assert(compacted.filter($"payload".isNull).count() === 0)
    assert(Sync.liveView(compacted).count() === 1)
  }

  test("TTL view hides lapsed rows, keeps TTL-0/NULL forever, and a fresh write re-lives the key") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq(
      Change(1, ts("2024-01-01 10:00:00"), 1, "v1"), // ttl 3600 → expires 11:00
      Change(2, ts("2024-01-01 10:00:00"), 2, "w1"), // ttl 0    → never
      Change(3, ts("2024-01-01 10:00:00"), 3, "x1")) // ttl null → never
      .toDF()
      .withColumn("ttl_s",
        when($"key" === 1, 3600L).when($"key" === 2, 0L))
    def live(at: String) =
      Sync.liveViewTtl(base, "ttl_s", ts(at)).select($"key").as[Long].collect().toSet
    assert(live("2024-01-01 10:30:00") === Set(1L, 2L, 3L)) // nothing lapsed yet
    assert(live("2024-01-01 11:00:00") === Set(2L, 3L)) // key 1 expiry is exclusive (<=)
    // a NEWER write for key 1 carries its own TTL — the key comes back
    val rewrite = Seq(Change(1, ts("2024-01-01 12:00:00"), 4, "v2")).toDF()
      .withColumn("ttl_s", lit(7200L))
    val snap2 = Sync.mergeLww(base, rewrite)
    assert(Sync.liveViewTtl(snap2, "ttl_s", ts("2024-01-01 13:00:00"))
      .filter($"key" === 1).select($"payload").as[String].collect().toSeq === Seq("v2"))
    // ...and lapses again once ITS ttl passes
    assert(Sync.liveViewTtl(snap2, "ttl_s", ts("2024-01-01 14:00:00"))
      .filter($"key" === 1).count() === 0)
  }

  test("partitioned sink lays out directories the reader can prune") {
    val spark = TestSpark.spark
    import spark.implicits._
    val out = tmp("sink-part") + "/docs"
    Sinks.writePartitioned(Tables.documents(spark, TestSpark.sf0001), out, "lang")
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("lang=")) === 5, dirs.mkString(","))
    val back = spark.read.parquet(out).filter($"lang" === "en")
    back.collect()
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p) // pruning reached the scan
    assert(back.count() ===
      Tables.documents(spark, TestSpark.sf0001).filter($"lang" === "en").count())
  }

  test("bucketed sink: co-bucketed join plans with NO shuffle exchange") {
    val spark = TestSpark.spark
    import spark.implicits._
    Sinks.writeBucketed(
      Tables.orders(spark, TestSpark.sf0001).select($"o_orderkey", $"o_custkey", $"o_totalprice"),
      "orders_bucketed", "o_custkey", 4)
    Sinks.writeBucketed(
      Tables.customer(spark, TestSpark.sf0001).select($"c_custkey", $"c_mktsegment"),
      "customer_bucketed", "c_custkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val j = spark.table("orders_bucketed")
        .join(spark.table("customer_bucketed"), $"o_custkey" === $"c_custkey")
      assert(j.count() === 1500L) // FK join is lossless
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      // the layout payoff: both sides read pre-bucketed, no Exchange at all
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS customer_bucketed")
    }
  }

  test("jsonl sink round-trips the dynamic-document export") {
    val spark = TestSpark.spark
    val out = tmp("sink-json") + "/docs"
    Sinks.writeJsonl(Tables.documents(spark, TestSpark.sf0001).limit(50), out)
    assert(spark.read.json(out).count() === 50L)
  }

  test("event-time windowed agg: streaming over the real events table equals batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    // batch form (= declared i1 without the final orderBy projection)
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("hour_start"), $"event_type", $"n")
    // identical transform over the unbounded reader, complete mode
    val q = Tables.eventsStream(spark, TestSpark.sf0001)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("hour_start"), $"event_type", $"n")
      .writeStream.format("memory").queryName("i1_stream").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamRows = spark.table("i1_stream")
        .select($"hour_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      val batchRows = batch
        .select($"hour_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(streamRows === batchRows)
      assert(streamRows.nonEmpty)
    } finally q.stop()
  }
}
