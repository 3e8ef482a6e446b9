package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** THE REFERENCE'S TOPOLOGY, end-to-end over both real wire protocols:
  * a Cassandra-side change feed read through `graft-cql` (token-range
  * paged scan), LWW-merged with tombstone semantics (the i12 rule), and
  * the live view + delete propagation written through `graft-es`
  * (`_bulk` index/delete actions). The whole round is REPLAYABLE: both
  * wires converge by key (C* INSERT upsert, ES `_id` upsert/delete), so
  * running the sync twice changes nothing — the reference loop's core
  * guarantee, here exercised against the in-JVM protocol stubs. */
class WireSyncSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("SyncJob over BOTH wires: the reference's YAML topology, initial full sync + incremental rounds") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("wiresync").toString
    try {
      // side A: the C* change table (pk = uid, the unique change id)
      cql.createTable("ks", "changes", Seq(
        ("key", "bigint"), ("ts", "bigint"), ("uid", "bigint"),
        ("payload", "text")), pk = "uid")
      Seq((1L, 100L, 10L, "a1"), (1L, 200L, 11L, "a2"), (2L, 100L, 12L, "b1"))
        .toDF("key", "ts", "uid", "payload")
        .write.format("graft-cql").option("host", cql.host)
        .option("keyspace", "ks").option("table", "changes")
        .mode("append").save()
      // side B: the ES change index
      val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/changes", Some(
        """{"mappings":{"properties":{"key":{"type":"long"},"ts":{"type":"long"},
          |"uid":{"type":"long"},"payload":{"type":"keyword"}}}}""".stripMargin))
      assert(c === 200)
      Seq((3L, 150L, 20L, "c1")).toDF("key", "ts", "uid", "payload")
        .write.format("graft-es").option("nodes", es.url)
        .option("index", "changes").option("id-column", "uid")
        .mode("append").save()

      // the reference's YAML, wire edition
      val cfg = SyncConfig.fromYaml(
        s"""cassandra:
           |  feed: cql://${cql.host}/ks/changes?pk=uid
           |  snapshot: $base/snapA
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/changes
           |  snapshot: $base/snapB
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |""".stripMargin)
      val (na, nb) = SyncJob.runOnce(spark, cfg)
      assert((na, nb) === (1L, 2L),
        "A's merged view of B has key 3; B's merged view of A has keys 1 (LWW a2) + 2")
      def snapB() = spark.read.schema(graft.streaming.Sync.changeSchema)
        .parquet(s"$base/snapB").select($"key", $"payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snapB() === Map(1L -> "a2", 2L -> "b1"))

      // a later change lands in C*; the next round is INCREMENTAL — the
      // checkpointed ts offset picks up only the new row
      Seq((2L, 400L, 13L, "b2")).toDF("key", "ts", "uid", "payload")
        .write.format("graft-cql").option("host", cql.host)
        .option("keyspace", "ks").option("table", "changes")
        .mode("append").save()
      cql.selectRequests.set(0)
      SyncJob.runOnce(spark, cfg)
      assert(snapB() === Map(1L -> "a2", 2L -> "b2"), "the new change must win LWW")
    } finally { cql.stop(); es.stop() }
  }

  test("merge: cell — disjoint-column updates converge per CELL on both stores and the snapshot; replays are no-ops") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("cellsync").toString
    try {
      // side A: the C* DATA table itself (pk + update-ts + two data cells)
      cql.createTable("ks", "profile", Seq(
        ("key", "bigint"), ("ts", "bigint"), ("status", "text"),
        ("val", "bigint")), pk = "key")
      // side B: the ES index; docs carry a stamp field beside each cell
      val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/profile", Some(
        """{"mappings":{"properties":{
          |  "key":{"type":"long"},"ts":{"type":"long"},
          |  "status":{"type":"keyword"},"status_wt":{"type":"long"},
          |  "val":{"type":"long"},"val_wt":{"type":"long"}}}}""".stripMargin))
      assert(c === 200)

      // local C* writer seeds key 1 — the reference's write path: the row
      // stamped with its own source timestamp (USING TIMESTAMP = ts)
      def cqlWrite(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "profile")
          .option("using-timestamp-column", "ts")
          .mode("append").save()
      cqlWrite(Seq((1L, 100L, "new", 10L)).toDF("key", "ts", "status", "val"))

      val cfg = SyncConfig.fromYaml(
        s"""cassandra:
           |  feed: cql://${cql.host}/ks/profile?pk=key
           |  snapshot: $base/snapA
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/profile
           |  snapshot: $base/snapB
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |merge: cell
           |cells: status,val
           |""".stripMargin)
      assert(cfg.merge === "cell" && cfg.cells === Seq("status", "val"))
      SyncJob.runOnce(spark, cfg)

      def esDoc(k: Long): Map[String, Any] = {
        val rows = spark.read.format("graft-es")
          .option("nodes", es.url).option("index", "profile").load()
          .where($"key" === k).collect()
        assert(rows.length === 1)
        val r = rows.head
        r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
      }
      def cqlRow(k: Long): Map[String, Any] = {
        val rows = spark.read.format("graft-cql")
          .option("host", cql.host).option("keyspace", "ks")
          .option("table", "profile").option("partition-key", "key")
          .option("writetime-of", "status,val").load()
          .where($"key" === k).collect()
        assert(rows.length === 1)
        val r = rows.head
        r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
      }
      def snap(dir: String, k: Long): Map[String, Any] = {
        val rows = spark.read.parquet(dir).where($"key" === k).collect()
        assert(rows.length === 1)
        val r = rows.head
        r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
      }
      assert(esDoc(1L) === Map("key" -> 1L, "ts" -> 100L, "status" -> "new",
        "status_wt" -> 100L, "val" -> 10L, "val_wt" -> 100L),
        "initial full sync relays the seeded row with its cell stamps")

      // THE cell-granularity scenario: in the SAME round, C* gets a newer
      // STATUS and ES gets a newer VAL for the same key — two writers on
      // disjoint columns. Row-granular LWW would let the newest ROW win
      // and silently discard the other writer's newer cell.
      // a true PARTIAL write: only the columns being set are named (an
      // INSERT naming val with a null would be a cell tombstone, not a
      // disjoint update)
      cqlWrite(Seq((1L, 300L, "gold")).toDF("key", "ts", "status"))
      Seq((1L, 400L, 99L, 400L)).toDF("key", "ts", "val", "val_wt")
        .write.format("graft-es")                // ES: val@400 only
        .option("nodes", es.url).option("index", "profile")
        .option("id-column", "key").option("version-column", "ts")
        .mode("append").save()
      SyncJob.runOnce(spark, cfg)

      val want = Map("key" -> 1L, "ts" -> 400L, "status" -> "gold",
        "status_wt" -> 300L, "val" -> 99L, "val_wt" -> 400L)
      assert(esDoc(1L) === want, "ES holds the per-cell merge")
      assert(cqlRow(1L).filterKeys(k => k != "ts").toMap ===
        Map("key" -> 1L, "status" -> "gold", "val" -> 99L,
          "writetime_status" -> 300L, "writetime_val" -> 400L),
        "C* holds the per-cell merge under the ORIGINAL source stamps")
      assert(snap(s"$base/snapA", 1L) === want
        && snap(s"$base/snapB", 1L) === want,
        "both snapshots hold the same per-cell merge")

      // replay 1: one more round over the live checkpoint — a no-op
      SyncJob.runOnce(spark, cfg)
      assert(esDoc(1L) === want && snap(s"$base/snapA", 1L) === want)

      // replay 2: the FULL loop from a fresh checkpoint (the post-crash
      // worst case) — every window re-reads, every relay re-lands, and
      // both stores, both snapshots still hold the same merge
      val cfg2 = cfg.copy(checkpointDir = s"$base/ckpt2")
      SyncJob.runOnce(spark, cfg2)
      assert(esDoc(1L) === want && cqlRow(1L)("writetime_val") === 400L
        && snap(s"$base/snapA", 1L) === want)
    } finally { cql.stop(); es.stop() }
  }

  test("merge: cell — a cell TOMBSTONE (null under a winning stamp) propagates to both stores; a newer write revives the cell") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("celltomb").toString
    try {
      cql.createTable("ks", "profile", Seq(
        ("key", "bigint"), ("ts", "bigint"), ("status", "text"),
        ("val", "bigint")), pk = "key")
      val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/profile", Some(
        """{"mappings":{"properties":{
          |  "key":{"type":"long"},"ts":{"type":"long"},
          |  "status":{"type":"keyword"},"status_wt":{"type":"long"},
          |  "val":{"type":"long"},"val_wt":{"type":"long"}}}}""".stripMargin))
      assert(c === 200)
      def cqlWrite(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "profile")
          .option("using-timestamp-column", "ts")
          .mode("append").save()
      val cfg = SyncConfig.fromYaml(
        s"""cassandra:
           |  feed: cql://${cql.host}/ks/profile?pk=key
           |  snapshot: $base/snapA
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/profile
           |  snapshot: $base/snapB
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |merge: cell
           |cells: status,val
           |""".stripMargin)
      def esVal(): (Any, Any) = {
        val r = spark.read.format("graft-es")
          .option("nodes", es.url).option("index", "profile").load()
          .where($"key" === 1L).select($"status", $"val").collect().head
        (r.get(0), r.get(1))
      }
      cqlWrite(Seq((1L, 100L, "new", 10L)).toDF("key", "ts", "status", "val"))
      SyncJob.runOnce(spark, cfg)
      assert(esVal() === (("new", 10L)))

      // DELETE the val CELL: C*'s cell tombstone is a null written under
      // a newer stamp — it must win the merge and null the cell on ES
      // and in the snapshot, while status (its own cell) survives
      cqlWrite(Seq((1L, 500L, null: java.lang.Long)).toDF("key", "ts", "val"))
      SyncJob.runOnce(spark, cfg)
      assert(esVal() === (("new", null)), "the cell tombstone must propagate")
      val snap = spark.read.parquet(s"$base/snapA")
        .where($"key" === 1L).select($"val", $"val_wt").collect().head
      assert(snap.isNullAt(0) && snap.getLong(1) === 500L,
        "snapshot holds the tombstone UNDER ITS STAMP (a later older write stays dead)")

      // a NEWER write revives the cell — each write carries its own stamp
      cqlWrite(Seq((1L, 800L, 99L)).toDF("key", "ts", "val"))
      SyncJob.runOnce(spark, cfg)
      assert(esVal() === (("new", 99L)))
    } finally { cql.stop(); es.stop() }
  }

  test("tables: — one YAML syncs a keyspace's TABLES: two stream pairs, one checkpoint root; single-table YAML unchanged") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("multisync").toString
    try {
      // the keyspace's two change tables, and their two ES indices
      Seq("orders", "users").foreach { t =>
        cql.createTable("ks", t, Seq(
          ("key", "bigint"), ("ts", "bigint"), ("uid", "bigint"),
          ("payload", "text")), pk = "uid")
        val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/$t", Some(
          """{"mappings":{"properties":{"key":{"type":"long"},"ts":{"type":"long"},
            |"uid":{"type":"long"},"payload":{"type":"keyword"}}}}""".stripMargin))
        assert(c === 200)
      }
      def cqlWrite(t: String, rows: Seq[(Long, Long, Long, String)]): Unit =
        rows.toDF("key", "ts", "uid", "payload")
          .write.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", t)
          .mode("append").save()
      cqlWrite("orders", Seq((1L, 100L, 10L, "o1"), (1L, 200L, 11L, "o2")))
      cqlWrite("users", Seq((7L, 100L, 20L, "u1")))
      Seq((8L, 150L, 30L, "u-es")).toDF("key", "ts", "uid", "payload")
        .write.format("graft-es").option("nodes", es.url)
        .option("index", "users").option("id-column", "uid")
        .mode("append").save()

      val cfg = SyncConfig.fromYaml(
        s"""tables: orders, users
           |cassandra:
           |  feed: cql://${cql.host}/ks/{table}?pk=uid
           |  snapshot: $base/snapA/{table}
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/{table}
           |  snapshot: $base/snapB/{table}
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |""".stripMargin)
      assert(cfg.tables === Seq("orders", "users"))
      val counts = SyncJob.runOnceAll(spark, cfg)
      assert(counts === Seq((0L, 1L), (1L, 1L)),
        "orders: B sees LWW'd key 1; users: A sees key 8, B sees key 7")
      def snapB(t: String) = spark.read
        .schema(graft.streaming.Sync.changeSchema)
        .parquet(s"$base/snapB/$t").select($"key", $"payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snapB("orders") === Map(1L -> "o2"))
      assert(snapB("users") === Map(7L -> "u1"))

      // incremental round touches only the table that changed; the other
      // table's checkpointed cursor stays put
      cqlWrite("orders", Seq((2L, 400L, 12L, "o3")))
      SyncJob.runOnceAll(spark, cfg)
      assert(snapB("orders") === Map(1L -> "o2", 2L -> "o3"))
      assert(snapB("users") === Map(7L -> "u1"))

      // a multi-table config must not silently run single-table
      intercept[IllegalArgumentException] { SyncJob.start(spark, cfg) }
      // and the placeholder is REQUIRED once tables: is present
      intercept[IllegalArgumentException] {
        SyncJob.expand(cfg.copy(snapshotB = s"$base/snapB/shared"))
      }
    } finally { cql.stop(); es.stop() }
  }

  test("merge: cell composes with tables: — per-cell semantics across a multi-table keyspace from one YAML") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("multicell").toString
    try {
      Seq("a", "b").foreach { t =>
        cql.createTable("ks", t, Seq(
          ("key", "bigint"), ("ts", "bigint"), ("status", "text"),
          ("val", "bigint")), pk = "key")
        val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/$t", Some(
          """{"mappings":{"properties":{
            |  "key":{"type":"long"},"ts":{"type":"long"},
            |  "status":{"type":"keyword"},"status_wt":{"type":"long"},
            |  "val":{"type":"long"},"val_wt":{"type":"long"}}}}""".stripMargin))
        assert(c === 200)
      }
      def cqlWrite(t: String, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", t)
          .option("using-timestamp-column", "ts")
          .mode("append").save()
      cqlWrite("a", Seq((1L, 100L, "new", 10L)).toDF("key", "ts", "status", "val"))
      cqlWrite("b", Seq((9L, 100L, "init", 7L)).toDF("key", "ts", "status", "val"))
      val cfg = SyncConfig.fromYaml(
        s"""tables: a, b
           |cassandra:
           |  feed: cql://${cql.host}/ks/{table}?pk=key
           |  snapshot: $base/snapA/{table}
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/{table}
           |  snapshot: $base/snapB/{table}
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |merge: cell
           |cells: status,val
           |""".stripMargin)
      SyncJob.runOnceAll(spark, cfg)
      // disjoint-column updates on table a ONLY; table b stays put
      cqlWrite("a", Seq((1L, 300L, "gold")).toDF("key", "ts", "status"))
      Seq((1L, 400L, 99L, 400L)).toDF("key", "ts", "val", "val_wt")
        .write.format("graft-es").option("nodes", es.url)
        .option("index", "a").option("id-column", "key")
        .option("version-column", "ts").mode("append").save()
      SyncJob.runOnceAll(spark, cfg)
      def doc(idx: String, k: Long): Map[String, Any] = {
        val r = spark.read.format("graft-es")
          .option("nodes", es.url).option("index", idx).load()
          .where($"key" === k).collect().head
        r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
      }
      assert(doc("a", 1L) === Map("key" -> 1L, "ts" -> 400L, "status" -> "gold",
        "status_wt" -> 300L, "val" -> 99L, "val_wt" -> 400L),
        "table a converged per cell")
      assert(doc("b", 9L) === Map("key" -> 9L, "ts" -> 100L, "status" -> "init",
        "status_wt" -> 100L, "val" -> 7L, "val_wt" -> 100L),
        "table b untouched by a's round")
      assert(spark.read.parquet(s"$base/snapA/a").count() === 1
        && spark.read.parquet(s"$base/snapA/b").count() === 1)

      // a snapshot dir whose columns do not match the configured cells
      // (a reconfigured `cells:` list pointed at OLD state) must refuse
      // loudly rather than silently discard the previous merges
      Seq((1L, "zzz")).toDF("some_key", "other")
        .write.mode("overwrite").parquet(s"$base/snapA/a")
      cqlWrite("a", Seq((1L, 900L, "late")).toDF("key", "ts", "status"))
      val e = intercept[Exception] { SyncJob.runOnceAll(spark, cfg) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: msgs(t.getCause)
      assert(msgs(e).exists(m => m != null && m.contains("refusing to overwrite")),
        s"got: ${msgs(e).mkString(" | ").take(400)}")
    } finally { cql.stop(); es.stop() }
  }

  test("C* wire → LWW merge with tombstones → ES wire; the round replays convergently") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    try {
      // ---- store A: the C* change feed (one row per CHANGE, pk = change id)
      cql.createTable("ks", "changes", Seq(
        ("change_id", "bigint"), ("key", "bigint"), ("ts", "bigint"),
        ("deleted", "boolean"), ("payload", "text")), pk = "change_id")
      val feed = Seq(
        (10L, 1L, 100L, false, "a1"),
        (11L, 1L, 200L, false, "a2"),   // newer update for key 1 wins
        (12L, 2L, 100L, false, "b1"),
        (13L, 2L, 300L, true, null),    // tombstone deletes key 2 ...
        (14L, 2L, 250L, false, "b2"),   // ... and this OLDER update stays dead
        (15L, 3L, 150L, false, "c1"))
        .toDF("change_id", "key", "ts", "deleted", "payload")
      feed.write.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks")
        .option("table", "changes").mode("append").save()

      // ---- store B: the ES index the live view lands in
      val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/live", Some(
        """{"mappings":{"properties":{
          |  "key":{"type":"long"},"ts":{"type":"long"},
          |  "deleted":{"type":"boolean"},"payload":{"type":"keyword"}}}}"""
          .stripMargin))
      assert(c === 200)

      // pre-seed key 2 in ES (an earlier round indexed it; THIS round's
      // tombstone must physically delete it over the wire)
      Seq((2L, 100L, false, "b1")).toDF("key", "ts", "deleted", "payload")
        .write.format("graft-es")
        .option("nodes", es.url).option("index", "live")
        .option("id-column", "key").mode("append").save()
      assert(es.docCount("live") === 1)

      // ---- one sync round: wire-read → LWW (keep winning tombstones —
      // the i12 rule — and SHIP them as deletes) → wire-write
      def syncRound(): Unit = {
        val changes = spark.read.format("graft-cql")
          .option("host", cql.host).option("keyspace", "ks")
          .option("table", "changes").option("partition-key", "change_id")
          .option("token-splits", "3").load()
        val w = Window.partitionBy($"key").orderBy($"ts".desc, $"change_id".desc)
        val merged = changes.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1).drop("rn", "change_id")
        merged.write.format("graft-es")
          .option("nodes", es.url).option("index", "live")
          .option("id-column", "key")
          .option("tombstone-column", "deleted")
          .mode("append").save()
      }
      syncRound()

      def liveDocs(): Map[Long, String] = spark.read.format("graft-es")
        .option("nodes", es.url).option("index", "live").load()
        .select($"key", $"payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(liveDocs() === Map(1L -> "a2", 3L -> "c1"),
        "key 2's tombstone must DELETE its pre-seeded ES doc; 1 and 3 upsert")
      assert(es.docCount("live") === 2)

      // ---- the replay: the whole round again — both wires converge
      syncRound()
      assert(liveDocs() === Map(1L -> "a2", 3L -> "c1"))
      assert(es.docCount("live") === 2, "a replayed round must change nothing")

      // ---- a later change arrives in C*; the next round propagates it
      Seq((16L, 3L, 400L, false, "c2"))
        .toDF("change_id", "key", "ts", "deleted", "payload")
        .write.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks")
        .option("table", "changes").mode("append").save()
      syncRound()
      assert(liveDocs() === Map(1L -> "a2", 3L -> "c2"))
    } finally { cql.stop(); es.stop() }
  }

  test("graft-cql and graft-es share one ts stream: full first read, idle triggers stay off the wire, restarts resume past the mark") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("tswindow").toString
    try {
      cql.createTable("ks", "t", Seq(
        ("key", "bigint"), ("ts", "bigint"), ("val", "text")), pk = "key")
      val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/t", Some(
        """{"mappings":{"properties":{"key":{"type":"long"},
          |"ts":{"type":"long"},"val":{"type":"keyword"}}}}""".stripMargin))
      assert(c === 200)
      def rows(keys: Seq[Long]): DataFrame =
        keys.map(k => (k, k * 10L, s"v$k")).toDF("key", "ts", "val")
      // per connector: its writer, its ts stream, and the wire counter of
      // its partition reads (the CQL prepared range read, the ES PIT open)
      val wires = Seq[(String, DataFrame => Unit, () => DataFrame, () => Int)](
        ("graft-cql",
          df => df.write.format("graft-cql").option("host", cql.host)
            .option("keyspace", "ks").option("table", "t").mode("append").save(),
          () => spark.readStream.format("graft-cql").option("host", cql.host)
            .option("keyspace", "ks").option("table", "t")
            .option("partition-key", "key").option("incremental-column", "ts").load(),
          () => cql.executeRequests.get()),
        ("graft-es",
          df => df.write.format("graft-es").option("nodes", es.url)
            .option("index", "t").option("id-column", "key").mode("append").save(),
          () => spark.readStream.format("graft-es").option("nodes", es.url)
            .option("index", "t").option("incremental-column", "ts").load(),
          () => es.pitOpens.get()))
      for ((name, write, stream, reads) <- wires) {
        val ckpt = s"$base/$name"
        // one restart of the query: drain what is there, then stop
        def trigger(): Seq[Long] = {
          val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
          stream().writeStream.option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.select("key").collect().foreach(r => seen.add(r.getLong(0)))
            }.start().awaitTermination()
          seen.asScala.toSeq.sorted
        }
        // the source's entry in the newest offsets/ file (its last line)
        def committedMark(): String = {
          val dir = new java.io.File(s"$ckpt/offsets")
          val newest = dir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
            .maxBy(_.toLong)
          java.nio.file.Files.readAllLines(new java.io.File(dir, newest).toPath)
            .asScala.last
        }

        write(rows(0L to 20L)) // key 0 has ts 0: a fresh query starts below it
        assert(trigger() === (0L to 20L), s"$name: the first trigger reads every row")
        assert(committedMark() === "200", s"$name: the offset is the bare max ts")

        val before = reads()
        assert(trigger().isEmpty, s"$name: no new ts, no rows")
        assert(reads() === before, s"$name: a trigger with no new ts plans no partitions")

        write(rows(21L to 25L))
        assert(trigger() === (21L to 25L),
          s"$name: a restart reads only the rows past the committed mark")
        assert(reads() > before)
        assert(committedMark() === "250")
      }
    } finally { cql.stop(); es.stop() }
  }

  /** A `merge: cell` loop over fresh stubs: C* table ks.t and ES index t,
    * both keyed by `key` with cells status,val. `body` gets the stubs,
    * the config, the snapshot root and a C* writer stamping by `ts`. */
  private def cellLoop(body: (CqlStubServer, EsStubServer, SyncConfig, String,
      Seq[(Long, Long, String, Long)] => Unit) => Unit): Unit = {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("cellloop").toString
    try {
      cql.createTable("ks", "t", Seq(
        ("key", "bigint"), ("ts", "bigint"), ("status", "text"),
        ("val", "bigint")), pk = "key")
      val (c, _) = graft.sources.EsHttp.request("PUT", s"${es.url}/t", Some(
        """{"mappings":{"properties":{
          |  "key":{"type":"long"},"ts":{"type":"long"},
          |  "status":{"type":"keyword"},"status_wt":{"type":"long"},
          |  "val":{"type":"long"},"val_wt":{"type":"long"}}}}""".stripMargin))
      assert(c === 200)
      val cfg = SyncConfig.fromYaml(
        s"""cassandra:
           |  feed: cql://${cql.host}/ks/t?pk=key
           |  snapshot: $base/snapA
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/t
           |  snapshot: $base/snapB
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |merge: cell
           |cells: status,val
           |""".stripMargin)
      def cqlWrite(rows: Seq[(Long, Long, String, Long)]): Unit =
        rows.toDF("key", "ts", "status", "val")
          .write.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "t")
          .option("using-timestamp-column", "ts")
          .mode("append").save()
      body(cql, es, cfg, base, cqlWrite)
    } finally { cql.stop(); es.stop() }
  }

  test("merge: cell — a round reads each feed from the wire once, not once per job") {
    cellLoop { (_, es, cfg, _, cqlWrite) =>
      cqlWrite((1L to 40L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg) // relays the 40 C* rows into ES
      assert(es.docCount("t") === 40)

      // the PITs one batch scan of the index opens (one per read slice)
      es.pitOpens.set(0)
      assert(spark.read.format("graft-es").option("nodes", es.url)
        .option("index", "t").load().count() === 40)
      val perScan = es.pitOpens.get()
      assert(perScan > 0)

      // the next round's ES feed holds the 40 relayed docs: the merge, the
      // echo filter and the snapshot writes must share ONE read of it
      es.pitOpens.set(0); es.pitDeletes.set(0)
      SyncJob.runOnce(spark, cfg)
      assert(es.pitOpens.get() === perScan,
        s"a round opened ${es.pitOpens.get()} PITs; one scan opens $perScan")
      assert(es.pitDeletes.get() === es.pitOpens.get())
    }
  }

  test("merge: cell — one long-running ProcessingTime loop merges two change sets on the same query") {
    cellLoop { (cql, es, cfg, base, cqlWrite) =>
      def esWrite(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-es").option("nodes", es.url).option("index", "t")
          .option("id-column", "key").option("version-column", "ts")
          .mode("append").save()
      // key → (status, status stamp, val, val stamp) as each place holds it
      type Cells = Map[Long, (String, Long, Long, Long)]
      def cells(df: org.apache.spark.sql.DataFrame, stamp: String => String): Cells =
        df.select($"key", $"status", col(stamp("status")), $"val", col(stamp("val")))
          .as[(Long, String, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      def esCells(): Cells = cells(spark.read.format("graft-es")
        .option("nodes", es.url).option("index", "t").load(), c => s"${c}_wt")
      def cqlCells(): Cells = cells(spark.read.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks").option("table", "t")
        .option("partition-key", "key").option("writetime-of", "status,val").load(),
        c => s"writetime_$c")
      def snapCells(side: String): Cells =
        cells(spark.read.parquet(s"$base/$side"), c => s"${c}_wt")
      def converged(want: Cells): Unit = {
        assert(esCells() === want, "ES")
        assert(cqlCells() === want, "C*")
        assert(snapCells("snapA") === want && snapCells("snapB") === want, "snapshots")
      }

      val (q, _) = SyncJob.start(spark,
        cfg.copy(interval = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)))
      try {
        // set 1: a new row on each side
        cqlWrite(Seq((1L, 100L, "a", 10L)))
        esWrite(Seq((2L, 200L, "b", 200L, 20L, 200L))
          .toDF("key", "ts", "status", "status_wt", "val", "val_wt"))
        q.processAllAvailable()
        converged(Map(1L -> (("a", 100L, 10L, 100L)), 2L -> (("b", 200L, 20L, 200L))))

        // set 2, same query: C* gets a newer status and ES a newer val for
        // key 1 (disjoint cells), and ES a newer status for key 2. Partial
        // writes name only the cells they set.
        Seq((1L, 300L, "gold")).toDF("key", "ts", "status")
          .write.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "t")
          .option("using-timestamp-column", "ts").mode("append").save()
        esWrite(Seq((1L, 400L, 99L, 400L)).toDF("key", "ts", "val", "val_wt"))
        esWrite(Seq((2L, 500L, "c", 500L)).toDF("key", "ts", "status", "status_wt"))
        q.processAllAvailable()
        converged(Map(1L -> (("gold", 300L, 99L, 400L)), 2L -> (("c", 500L, 20L, 200L))))
        assert(q.isActive && q.exception.isEmpty)
      } finally q.stop()
    }
  }

  test("merge: cell — a relay that fails mid-round leaves the snapshot uncommitted; the replay relays again") {
    cellLoop { (_, es, cfg, base, cqlWrite) =>
      def esStatus(k: Long): String =
        spark.read.format("graft-es").option("nodes", es.url).option("index", "t")
          .load().where($"key" === k).select("status").as[String].collect().head
      def snapStatus(k: Long): String =
        spark.read.parquet(s"$base/snapA").where($"key" === k)
          .select("status").as[String].collect().head

      cqlWrite((1L to 10L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg) // the echo round
      assert(es.docCount("t") === 10 && esStatus(1L) === "s1")

      // key 1 changes in C*; ES rejects every relay item past the retry cap
      cqlWrite(Seq((1L, 500L, "gold", 1L)))
      es.inject429Items.set(1000000)
      intercept[Exception](SyncJob.runOnce(spark, cfg))
      es.inject429Items.set(0)
      assert(snapStatus(1L) === "s1",
        "the snapshot must not commit a merge whose relay did not land")
      assert(esStatus(1L) === "s1")

      // the replayed batch merges against the old snapshot, so it relays
      SyncJob.runOnce(spark, cfg)
      assert(esStatus(1L) === "gold" && snapStatus(1L) === "gold")
    }
  }

  test("merge: cell — a crash between the two snapshot swaps replays to the state of an uninterrupted run") {
    cellLoop { (cql, es, cfg, base, cqlWrite) =>
      import org.apache.commons.io.FileUtils
      def f(p: String) = new java.io.File(p)
      def copy(from: String, to: String): Unit = {
        FileUtils.deleteDirectory(f(to)); FileUtils.copyDirectory(f(from), f(to))
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("key").collect().map(_.toSeq).toSeq
      // both snapshots and both stores, cell stamps included
      def state() = (
        rows(spark.read.parquet(s"$base/snapA")),
        rows(spark.read.parquet(s"$base/snapB")),
        rows(spark.read.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "t")
          .option("partition-key", "key").option("writetime-of", "status,val").load()),
        rows(spark.read.format("graft-es").option("nodes", es.url)
          .option("index", "t").load()))

      cqlWrite((1L to 10L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg) // the echo round
      copy(s"$base/snapB", s"$base/saved/snapB")

      // the round under test, uninterrupted, then run until quiet
      cqlWrite(Seq((1L, 500L, "gold", 1L), (11L, 510L, "s11", 11L)))
      SyncJob.runOnce(spark, cfg)
      Seq("snapA", "snapB", "ckpt").foreach(d => copy(s"$base/$d", s"$base/round/$d"))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg)
      val uninterrupted = state()
      assert(uninterrupted._1.size === 11 && uninterrupted._4.size === 11)

      // the crash, built by hand: the round relayed, wrote both <dir>.tmp,
      // swapped snapA in and died before swapping snapB and before its
      // offsets committed (snapA new, snapB old, the round uncommitted)
      copy(s"$base/round/snapA", s"$base/snapA")
      copy(s"$base/saved/snapB", s"$base/snapB")
      copy(s"$base/round/snapB", s"$base/snapB.tmp")
      copy(s"$base/round/ckpt", s"$base/ckpt")
      val commits = f(s"$base/ckpt/cell/commits")
      val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(f(s"$commits/$last").delete())
      f(s"$commits/.$last.crc").delete()

      SyncJob.runOnce(spark, cfg) // replays the round
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg)
      assert(state() === uninterrupted)
      assert(!f(s"$base/snapB.tmp").exists())
    }
  }

  /** A crash of one `merge: cell` round inside its snapshot commit,
    * after its relays landed: `crash(base, round)` builds the disk state
    * from the round's own committed snapshots (`round/snapA`,
    * `round/snapB`), with `base/snapA` and `base/snapB` still the
    * previous round's and the round's offsets uncommitted. One recovery
    * round must then leave both snapshots and both stores as the
    * uninterrupted round did, and no `<dir>.tmp` behind. */
  private def crashInCommit(crash: (String, String) => Unit): Unit =
    cellLoop { (cql, es, cfg, base, cqlWrite) =>
      import org.apache.commons.io.FileUtils
      def f(p: String) = new java.io.File(p)
      def copy(from: String, to: String): Unit = {
        FileUtils.deleteDirectory(f(to)); FileUtils.copyDirectory(f(from), f(to))
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("key").collect().map(_.toSeq).toSeq
      def state() = (
        rows(spark.read.parquet(s"$base/snapA")),
        rows(spark.read.parquet(s"$base/snapB")),
        rows(spark.read.format("graft-cql").option("host", cql.host)
          .option("keyspace", "ks").option("table", "t")
          .option("partition-key", "key").option("writetime-of", "status,val").load()),
        rows(spark.read.format("graft-es").option("nodes", es.url)
          .option("index", "t").load()))

      cqlWrite((1L to 10L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg) // the echo round
      Seq("snapA", "snapB").foreach(d => copy(s"$base/$d", s"$base/saved/$d"))

      // the round under test relays to both stores: a C* change and a new
      // key go to ES, an ES change goes to C*
      cqlWrite(Seq((1L, 500L, "gold", 1L), (11L, 510L, "s11", 11L)))
      Seq((2L, 520L, "es", 520L, 2L, 20L))
        .toDF("key", "ts", "status", "status_wt", "val", "val_wt")
        .write.format("graft-es").option("nodes", es.url).option("index", "t")
        .option("id-column", "key").option("version-column", "ts")
        .mode("append").save()
      SyncJob.runOnce(spark, cfg)
      val uninterrupted = state()
      assert(uninterrupted._1.size === 11 && uninterrupted._4.size === 11)
      Seq("snapA", "snapB", "ckpt").foreach(d => copy(s"$base/$d", s"$base/round/$d"))

      Seq("snapA", "snapB").foreach(d => copy(s"$base/saved/$d", s"$base/$d"))
      crash(base, s"$base/round")
      copy(s"$base/round/ckpt", s"$base/ckpt")
      val commits = f(s"$base/ckpt/cell/commits")
      val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(f(s"$commits/$last").delete())
      f(s"$commits/.$last.crc").delete()

      SyncJob.runOnce(spark, cfg) // replays the round
      assert(state() === uninterrupted)
      assert(Seq("snapA", "snapB").forall(d => !f(s"$base/$d.tmp").exists()))
    }

  test("merge: cell — a crash after the one snapshot write, mid-copy, replays to the state of an uninterrupted run") {
    crashInCommit { (base, round) =>
      import org.apache.commons.io.FileUtils
      val (head, other) = (new java.io.File(s"$base/snapA.tmp"), new java.io.File(s"$base/snapB.tmp"))
      FileUtils.copyDirectory(new java.io.File(s"$round/snapA"), head)
      // the copy into the other <dir>.tmp died before its _SUCCESS
      FileUtils.copyDirectory(new java.io.File(s"$round/snapB"), other)
      assert(new java.io.File(other, "_SUCCESS").delete())
      new java.io.File(other, "._SUCCESS.crc").delete()
    }
  }

  test("merge: cell — a crash with every <dir>.tmp complete, before any swap, replays to the state of an uninterrupted run") {
    crashInCommit { (base, round) =>
      import org.apache.commons.io.FileUtils
      Seq("snapA", "snapB").foreach(d => FileUtils.copyDirectory(
        new java.io.File(s"$round/$d"), new java.io.File(s"$base/$d.tmp")))
    }
  }

  test("merge: cell — later busy rounds of one shape reuse the generated code: 0 compiles") {
    import org.apache.spark.metrics.source.CodegenMetrics
    cellLoop { (_, es, cfg, _, cqlWrite) =>
      def compiles(body: => Unit): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        body
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      cqlWrite((1L to 20L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg) // the echo round
      // each busy round: 5 new C* keys (relayed to ES) and 5 ES-side
      // status changes (relayed to C*), then its echo round
      val counts = (1 to 4).map { r =>
        val stamp = 1000L * r
        cqlWrite((1L to 5L).map(i => (100L * r + i, stamp + i, s"c$r", i)))
        (1L to 5L).map(i => (i, stamp + i, s"e$r", stamp + i)).toDF("key", "ts", "status", "status_wt")
          .write.format("graft-es").option("nodes", es.url).option("index", "t")
          .option("id-column", "key").option("version-column", "ts")
          .mode("append").save()
        (compiles(SyncJob.runOnce(spark, cfg)), compiles(SyncJob.runOnce(spark, cfg)))
      }
      // the first busy round may compile the merge against a snapshot
      assert(counts.tail.map(_._1) === Seq(0L, 0L, 0L), s"compiles per (busy, echo) round: $counts")
    }
  }

  /** One busy round over `cellLoop`: an initial sync of 20 C* keys and
    * its echo, then 5 new C* keys and 5 ES-side status changes; `busy`
    * gets the ES stub and the round that merges them. */
  private def busyRound(busy: (EsStubServer, () => Unit) => Unit): Unit =
    cellLoop { (_, es, cfg, _, cqlWrite) =>
      cqlWrite((1L to 20L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg) // the echo round
      cqlWrite((101L to 105L).map(i => (i, 1000L + i, "c", i)))
      (1L to 5L).map(i => (i, 1000L + i, "e", 1000L + i)).toDF("key", "ts", "status", "status_wt")
        .write.format("graft-es").option("nodes", es.url).option("index", "t")
        .option("id-column", "key").option("version-column", "ts")
        .mode("append").save()
      busy(es, () => SyncJob.runOnce(spark, cfg))
    }

  test("merge: cell — the busy round merges by ObjectHashAggregate, with no sort") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    /** `p` and every node below it, through adaptive plans, query stages
      * and cached relations. */
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }).flatMap(nodes)
    busyRound { (_, round) =>
      // the merge is the one frame the round caches
      val merges = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          nodes(qe.executedPlan).foreach {
            case m: InMemoryTableScanExec => merges.add(m.relation.cachedPlan)
            case _ => ()
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try { round(); awaitListeners() } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      assert(!merges.isEmpty, "the busy round cached no merge")
      merges.asScala.foreach { plan =>
        val all = nodes(plan)
        assert(all.exists(_.isInstanceOf[ObjectHashAggregateExec]), plan.treeString)
        assert(!all.exists(n => n.isInstanceOf[SortAggregateExec] || n.isInstanceOf[SortExec]),
          plan.treeString)
      }
    }
  }

  test("merge: cell — a busy round sends ES no _count; a batch scan still estimates its rows from it") {
    busyRound { (es, round) =>
      es.counts.set(0)
      round()
      assert(es.counts.get === 0)
      val scan = spark.read.format("graft-es").option("nodes", es.url).option("index", "t").load()
      assert(scan.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(25)))
      assert(es.counts.get === 1)
    }
  }

  /** Waits until the listeners have seen every event posted so far:
    * listener events arrive asynchronously on the shared queue, and a
    * fence job's start event queues behind all of them. */
  private def awaitListeners(): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val fence = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "fence"))
          fenced.countDown()
    }
    sc.addSparkListener(fence)
    try {
      sc.setJobDescription("fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(fence)
  }

  /** The Spark jobs `body` runs, as (ran inside a streaming query) flags,
    * seen by a SparkListener: a job submitted from a query's stream
    * thread carries the query's id as a job property. */
  private def jobsOf(body: => Unit): Seq[Boolean] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (!props.exists(_.getProperty("spark.job.description") == "fence"))
          jobs.add(props.exists(_.getProperty("sql.streaming.queryId") != null))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; awaitListeners() } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  /** Every file under `dir` (non-recursive) with its bytes. */
  private def filesOf(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().toSeq
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("merge: cell — runOnce counts rows from the snapshots' footers; an echo round commits nothing") {
    cellLoop { (_, _, cfg, base, cqlWrite) =>
      def counts() = (spark.read.parquet(s"$base/snapA").count(),
        spark.read.parquet(s"$base/snapB").count())
      def round(): ((Long, Long), Seq[Boolean]) = {
        var got = (-1L, -1L)
        val jobs = jobsOf { got = SyncJob.runOnce(spark, cfg) }
        assert(got === counts())
        // nothing runs after the streaming query stops
        assert(jobs.forall(identity), s"jobs outside the streaming query: $jobs")
        (got, jobs)
      }
      cqlWrite((1L to 10L).map(i => (i, i * 10L, s"s$i", i)))
      val (busy, busyJobs) = round()
      assert(busy === (10L, 10L) && busyJobs.nonEmpty)

      // the echo: ES's feed holds the 10 relayed docs, every merged row
      // equals its committed row, so neither snapshot is rewritten
      val before = Seq("snapA", "snapB").map(d => filesOf(s"$base/$d"))
      val (echo, echoJobs) = round()
      assert(echo === (10L, 10L) && echoJobs.nonEmpty, "the echo round runs a batch")
      assert(Seq("snapA", "snapB").map(d => filesOf(s"$base/$d")) === before)
      assert(Seq("snapA", "snapB").forall(d => !new java.io.File(s"$base/$d.tmp").exists()))

      val (idle, idleJobs) = round()
      assert(idle === (10L, 10L) && idleJobs.isEmpty)

      // a new key is a changed row: the next round commits it
      cqlWrite(Seq((11L, 500L, "s11", 11L)))
      assert(round()._1 === (11L, 11L))
    }
  }

  /** How many graft-cql writes `body` runs: AppendData plans on a
    * `graft-cql:` table, seen by a QueryExecutionListener. */
  private def cqlWrites(body: => Unit): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.AppendData
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        n.addAndGet(qe.logical.collect {
          case a: AppendData if a.table.name.startsWith("graft-cql:") => a
        }.size)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; awaitListeners() } finally spark.listenerManager.unregister(listener)
    n.get
  }

  test("merge: cell — a round relays every cell to C* in ONE graft-cql write, each under its own stamp") {
    cellLoop { (cql, es, cfg, _, cqlWrite) =>
      cqlWrite((1L to 5L).map(i => (i, i * 10L, s"s$i", i)))
      SyncJob.runOnce(spark, cfg)
      SyncJob.runOnce(spark, cfg) // the echo round

      // ES-side writes to BOTH cells of key 1 under different stamps: the
      // next round's C* relay carries both cells
      Seq((1L, 900L, "es", 800L, 77L, 900L))
        .toDF("key", "ts", "status", "status_wt", "val", "val_wt")
        .write.format("graft-es").option("nodes", es.url).option("index", "t")
        .option("id-column", "key").option("version-column", "ts")
        .mode("append").save()
      assert(cqlWrites(SyncJob.runOnce(spark, cfg)) === 1)

      val r = spark.read.format("graft-cql").option("host", cql.host)
        .option("keyspace", "ks").option("table", "t")
        .option("partition-key", "key").option("writetime-of", "status,val").load()
        .where($"key" === 1L)
        .select("status", "writetime_status", "val", "writetime_val", "ts").collect()
      assert(r.map(_.toSeq).toSeq === Seq(Seq("es", 800L, 77L, 900L, 10L)),
        "each cell lands under its own stamp; the update-ts column is not relayed")
    }
  }

  test("merge: cell — a stamp tie resolves in C*'s byte order on both stores and both snapshots") {
    cellLoop { (cql, es, cfg, base, cqlWrite) =>
      // the same cells written at the same stamp from both sides: C*'s
      // tie-break compares the CQL bytes unsigned, so −1 (0xFF…) beats 1
      // and −7 beats 7, where Spark's signed order says the opposite;
      // text compares as UTF-8 bytes ('é' = 0xC3A9 beats 'z')
      cqlWrite(Seq((1L, 500L, "apple", -1L), (2L, 500L, "zebra", 7L)))
      Seq((1L, 500L, "banana", 500L, 1L, 500L), (2L, 500L, "éclair", 500L, -7L, 500L))
        .toDF("key", "ts", "status", "status_wt", "val", "val_wt")
        .write.format("graft-es").option("nodes", es.url).option("index", "t")
        .option("id-column", "key").option("version-column", "ts")
        .mode("append").save()
      (1 to 3).foreach(_ => SyncJob.runOnce(spark, cfg))

      def cells(df: org.apache.spark.sql.DataFrame, statusWt: String, valWt: String) =
        df.select(col("key"), col("status"), col(statusWt), col("val"), col(valWt))
          .orderBy("key").collect().map(_.toSeq).toSeq
      val want = Seq(Seq(1L, "banana", 500L, -1L, 500L), Seq(2L, "éclair", 500L, -7L, 500L))
      val cqlRows = spark.read.format("graft-cql").option("host", cql.host)
        .option("keyspace", "ks").option("table", "t")
        .option("partition-key", "key").option("writetime-of", "status,val").load()
      assert(cells(cqlRows, "writetime_status", "writetime_val") === want, "C*")
      assert(cells(spark.read.format("graft-es").option("nodes", es.url)
        .option("index", "t").load(), "status_wt", "val_wt") === want, "ES")
      for (snap <- Seq("snapA", "snapB"))
        assert(cells(spark.read.parquet(s"$base/$snap"), "status_wt", "val_wt") === want, snap)
    }
  }
}
