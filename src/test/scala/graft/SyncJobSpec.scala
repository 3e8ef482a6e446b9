package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** The bidirectional sync job end-to-end: both sides' feeds converge into
  * the opposite snapshots; a second round is incremental and idempotent.
  */
class SyncJobSpec extends AnyFunSuite {
  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("YAML config loads the reference shape (sections, comments, quotes, interval)") {
    val root = tmp("syncyaml")
    val yaml =
      s"""# reference-shaped sync config
         |cassandra:
         |  feed: $root/feedA        # change feed
         |  snapshot: "$root/snapA"
         |elasticsearch:
         |  feed: $root/feedB
         |  snapshot: $root/snapB
         |checkpoint_dir: $root/ckpt
         |sync_interval: 30
         |""".stripMargin
    val cfg = SyncConfig.fromYaml(yaml)
    assert(cfg.sideA === s"$root/feedA")
    assert(cfg.snapshotA === s"$root/snapA")
    assert(cfg.sideB === s"$root/feedB")
    assert(cfg.snapshotB === s"$root/snapB")
    assert(cfg.checkpointDir === s"$root/ckpt")
    assert(cfg.interval === Trigger.ProcessingTime(30000L))
    // absent interval → one-shot
    val oneShot = SyncConfig.fromYaml(yaml.linesIterator
      .filterNot(_.startsWith("sync_interval")).mkString("\n"))
    assert(oneShot.interval === Trigger.AvailableNow())
    // missing key errors name the key, not NPE later
    val e = intercept[IllegalArgumentException](
      SyncConfig.fromYaml("cassandra:\n  feed: /x\n"))
    assert(e.getMessage.contains("elasticsearch.feed") ||
      e.getMessage.contains("missing"))
    // quoted value with a trailing comment strips the comment, keeps the value
    val q = SyncConfig.fromYaml(yaml.replace(
      s"""snapshot: "$root/snapA"""", s"""snapshot: "$root/snapA"   # quoted + comment"""))
    assert(q.snapshotA === s"$root/snapA")
    // deeper nesting is out of grammar → missing-key error, not a silent ""
    val deep = intercept[IllegalArgumentException](SyncConfig.fromYaml(
      "cassandra:\n  feed:\n    url: /x\nelasticsearch:\n  feed: /y\n  snapshot: /z\ncheckpoint_dir: /c\n"))
    assert(deep.getMessage.contains("cassandra."))
    // non-integer interval names the key instead of a bare NumberFormatException
    val bad = intercept[IllegalArgumentException](
      SyncConfig.fromYaml(yaml.replace("sync_interval: 30", "sync_interval: 30s")))
    assert(bad.getMessage.contains("sync_interval"))
    // a '#' INSIDE a value is not a comment (YAML: only after whitespace)
    val hash = SyncConfig.fromYaml(yaml.replace(
      s"snapshot: $root/snapB", s"snapshot: $root/snap#prod"))
    assert(hash.snapshotB === s"$root/snap#prod")
  }

  test("a YAML-loaded config drives a full sync round end-to-end") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmp("syncyamlrun")
    val yamlPath = java.nio.file.Paths.get(root, "sync.yaml")
    java.nio.file.Files.write(yamlPath,
      s"""cassandra:
         |  feed: $root/feedA
         |  snapshot: $root/snapA
         |elasticsearch:
         |  feed: $root/feedB
         |  snapshot: $root/snapB
         |checkpoint_dir: $root/ckpt
         |""".stripMargin.getBytes("UTF-8"))
    val cfg = SyncConfig.load(yamlPath.toString)
    Seq(Change(1, ts("2024-01-01 10:00:00"), 1, "a1")).toDF()
      .write.mode("append").parquet(cfg.sideA)
    Seq(Change(2, ts("2024-01-01 10:00:00"), 2, "b2")).toDF()
      .write.mode("append").parquet(cfg.sideB)
    val (na, nb) = SyncJob.runOnce(spark, cfg)
    assert((na, nb) === (1L, 1L))
  }

  test("a graft-sync feed drives the same sync loop (format: graft-sync in YAML)") {
    // the connector as the configured endpoint: side A's change feed is a
    // graft-sync store (ts as epoch-micros longs), side B stays parquet —
    // the mixed-endpoint deployment the reference models
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmp("syncgsync")
    val cfg = SyncConfig.fromYaml(
      s"""cassandra:
         |  feed: $root/feedA
         |  snapshot: $root/snapA
         |  format: graft-sync
         |elasticsearch:
         |  feed: $root/feedB
         |  snapshot: $root/snapB
         |checkpoint_dir: $root/ckpt
         |""".stripMargin)
    assert(cfg.formatA === "graft-sync")
    assert(cfg.formatB === "parquet")
    def us(s: String): Long = ts(s).getTime * 1000L
    Seq((1L, us("2024-01-01 10:00:00"), 1L, "a1"),
        (2L, us("2024-01-01 10:00:00"), 2L, "a2"))
      .toDF("key", "ts", "uid", "payload")
      .write.format("graft-sync").mode("append").save(cfg.sideA)
    Seq(Change(2, ts("2024-01-01 11:00:00"), 3, "b2-newer")).toDF()
      .write.mode("append").parquet(cfg.sideB)
    val (na, nb) = SyncJob.runOnce(spark, cfg)
    assert((na, nb) === (1L, 2L))
    val snapB = spark.read.parquet(cfg.snapshotB)
      .select($"key", $"payload").as[(Long, String)].collect().toMap
    assert(snapB === Map(1L -> "a1", 2L -> "a2"))
    // incremental: a new committed generation in the connector feed wins LWW
    Seq((1L, us("2024-01-01 12:00:00"), 4L, "a1-v2"))
      .toDF("key", "ts", "uid", "payload")
      .write.format("graft-sync").mode("append").save(cfg.sideA)
    SyncJob.runOnce(spark, cfg)
    val snapB2 = spark.read.parquet(cfg.snapshotB)
      .select($"key", $"payload").as[(Long, String)].collect().toMap
    assert(snapB2 === Map(1L -> "a1-v2", 2L -> "a2"))
  }

  test("a row sync loop survives a compaction of its graft-sync feed between rounds") {
    // the feed's stream resumes past the compaction snapshot, which holds
    // only rows it has consumed, and reads the generation after it
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmp("synccompact")
    val cfg = SyncConfig.fromYaml(
      s"""cassandra:
         |  feed: $root/feedA
         |  snapshot: $root/snapA
         |  format: graft-sync
         |elasticsearch:
         |  feed: $root/feedB
         |  snapshot: $root/snapB
         |checkpoint_dir: $root/ckpt
         |""".stripMargin)
    val written = Seq.newBuilder[Change]
    def appendA(rows: Change*): Unit = {
      written ++= rows
      rows.map(c => (c.key, c.ts.getTime * 1000L, c.uid, c.payload))
        .toDF("key", "ts", "uid", "payload")
        .write.format("graft-sync").mode("append").save(cfg.sideA)
    }
    Seq(Change(3, ts("2024-01-01 09:00:00"), 9, "b3")).toDF()
      .write.mode("append").parquet(cfg.sideB)
    appendA(Change(1, ts("2024-01-01 10:00:00"), 1, "a1"),
      Change(2, ts("2024-01-01 10:00:00"), 2, "a2"))
    SyncJob.runOnce(spark, cfg)
    appendA(Change(1, ts("2024-01-01 11:00:00"), 3, "a1-v2"),
      Change(3, ts("2024-01-01 11:00:00"), 4, "a3"))
    SyncJob.runOnce(spark, cfg)
    graft.sources.GraftSyncMaintenance.compact(cfg.sideA)
    appendA(Change(2, ts("2024-01-01 12:00:00"), 5, "a2-v2"),
      Change(4, ts("2024-01-01 12:00:00"), 6, "a4"))
    val (na, nb) = SyncJob.runOnce(spark, cfg)
    val all = written.result().toDF()
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.select($"key", $"uid", $"payload").as[(Long, Long, String)].collect()
        .map { case (k, u, p) => k -> (u, p) }.toMap
    val want = byKey(graft.streaming.Sync.mergeLww(all.limit(0), all))
    assert(byKey(spark.read.parquet(cfg.snapshotB)) === want)
    assert((na, nb) === (1L, want.size.toLong))
  }

  test("bidirectional sync converges and incremental rounds are idempotent") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmp("syncjob")
    val cfg = SyncConfig(
      sideA = s"$root/feedA", sideB = s"$root/feedB",
      snapshotA = s"$root/snapA", snapshotB = s"$root/snapB",
      checkpointDir = s"$root/ckpt", interval = Trigger.ProcessingTime(0))

    // initial state: A has keys 1,2; B has keys 2 (newer), 3
    Seq(Change(1, ts("2024-01-01 10:00:00"), 1, "a1"),
        Change(2, ts("2024-01-01 10:00:00"), 2, "a2")).toDF()
      .write.mode("append").parquet(cfg.sideA)
    Seq(Change(2, ts("2024-01-01 11:00:00"), 3, "b2-newer"),
        Change(3, ts("2024-01-01 10:00:00"), 4, "b3")).toDF()
      .write.mode("append").parquet(cfg.sideB)

    val (na, nb) = SyncJob.runOnce(spark, cfg)
    assert(nb === 2L) // B's view of A: keys 1, 2
    assert(na === 2L) // A's view of B: keys 2, 3
    val snapB = spark.read.parquet(cfg.snapshotB)
      .select($"key", $"payload").as[(Long, String)].collect().toMap
    assert(snapB === Map(1L -> "a1", 2L -> "a2"))

    // incremental round: A updates key 1; an old duplicate of key 2 replays
    Seq(Change(1, ts("2024-01-01 12:00:00"), 5, "a1-v2"),
        Change(2, ts("2024-01-01 09:00:00"), 6, "a2-stale")).toDF()
      .write.mode("append").parquet(cfg.sideA)
    SyncJob.runOnce(spark, cfg)
    val snapB2 = spark.read.parquet(cfg.snapshotB)
      .select($"key", $"payload").as[(Long, String)].collect().toMap
    assert(snapB2 === Map(1L -> "a1-v2", 2L -> "a2"), "LWW broke on incremental round")

    // idempotence: running again with nothing new changes nothing
    SyncJob.runOnce(spark, cfg)
    val snapB3 = spark.read.parquet(cfg.snapshotB)
      .select($"key", $"payload").as[(Long, String)].collect().toMap
    assert(snapB3 === snapB2)
  }

  test("malformed wire feed URIs fail naming the expected shape, before any connection") {
    val spark = TestSpark.spark
    val root = tmp("badwire")
    def cfg(feedA: String, feedB: String, merge: String) = SyncConfig(
      sideA = feedA, sideB = feedB, snapshotA = s"$root/snapA",
      snapshotB = s"$root/snapB", checkpointDir = s"$root/ckpt",
      formatA = "graft-cql", formatB = "graft-es", merge = merge,
      cells = if (merge == "cell") Seq("status") else Nil)
    val cqlShape = "cql://host:port/keyspace/table?pk="
    val es = "es://127.0.0.1:1/t"
    for ((feedA, feedB, merge, shape) <- Seq(
        ("cql://127.0.0.1:1/ks", es, "row", cqlShape),           // no table
        ("cql://127.0.0.1:1/ks", es, "cell", cqlShape),
        ("cql://127.0.0.1:1/ks/t", es, "cell", cqlShape),        // no ?pk=
        ("cql://127.0.0.1/ks/t?pk=key", es, "row", cqlShape),    // no port
        ("es://127.0.0.1:1/ks/t?pk=key", es, "cell", cqlShape),  // wrong scheme
        ("cql://127.0.0.1:1/ks/t?pk=key", "es://127.0.0.1:1", "cell", "es://host:port/index"),
        ("cql://127.0.0.1:1/ks/t?pk=key", "cql://127.0.0.1:1/t", "cell", "es://host:port/index"))) {
      val e = intercept[IllegalArgumentException](SyncJob.start(spark, cfg(feedA, feedB, merge)))
      assert(e.getMessage.contains(shape), s"$feedA | $feedB ($merge): ${e.getMessage}")
    }
  }
}
