package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 connector pair (graft.sources.*): paged-scan source
  * with real pushdown, micro-batch incremental reads, and the idempotent
  * bulk sink — batch and streaming. These are the "custom connectors" of
  * the charter's approach line, so their contracts are pinned directly:
  * round-trip fidelity, claimed-filter semantics, append-only offsets,
  * and retry/replay convergence.
  */
class GraftSyncConnectorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(tag: String): String =
    Files.createTempDirectory(s"gsync-$tag").toString + "/store"

  /** The messages of `t` and of its causes, outermost first. */
  private def msgs(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("batch round-trip: bulk sink then scan returns identical rows and schema") {
    val dir = freshStore("rt")
    val src = Tables.eventsRaw(spark, TestSpark.sf0001)
    src.write.format("graft-sync").mode("overwrite").save(dir)
    val back = spark.read.format("graft-sync").load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy($"event_id").collect().toSeq ===
      src.orderBy($"event_id").collect().toSeq)
  }

  test("array columns (embeddings) survive the round-trip bit-exactly") {
    val dir = freshStore("arr")
    val src = Tables.embeddings(spark, TestSpark.sf0001)
    src.write.format("graft-sync").mode("overwrite").save(dir)
    val back = spark.read.format("graft-sync").load(dir)
    assert(back.orderBy($"vec_id").collect().toSeq ===
      src.orderBy($"vec_id").collect().toSeq)
  }

  test("filter + column pushdown: claimed filters leave no FilterExec, results exact") {
    val dir = freshStore("pd")
    Tables.eventsRaw(spark, TestSpark.sf0001)
      .write.format("graft-sync").mode("overwrite").save(dir)
    val q = spark.read.format("graft-sync").load(dir)
      .filter($"event_type" === "click" && $"value" >= 10.0)
      .select($"event_id", $"value")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSyncScan"), plan)
    assert(plan.contains("EqualTo(event_type,click)"), plan)
    assert(plan.contains("GreaterThanOrEqual(value,10.0)"), plan)
    // fully-claimed pushdown: Spark plans NO residual filter node
    assert(!plan.contains("Filter ("), plan)
    // and the scan's emitted schema is the pruned one (event_type only
    // parsed for the filter, not returned)
    assert(plan.contains("ReadSchema: struct<event_id:bigint,value:double>"), plan)
    val want = Tables.eventsRaw(spark, TestSpark.sf0001)
      .filter($"event_type" === "click" && $"value" >= 10.0)
      .select($"event_id", $"value")
      .collect().toSeq.sortBy(_.getLong(0))
    assert(q.collect().toSeq.sortBy(_.getLong(0)) === want)
  }

  test("reported statistics let Catalyst broadcast a small connector table") {
    val dir = freshStore("stats")
    Tables.nation(spark, TestSpark.sf0001)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.format("graft-sync").mode("overwrite").save(dir)
    // without SupportsReportStatistics the DSv2 default is "unknown =
    // huge" and this joins as SMJ; with page-file sizes reported, the
    // ~1 KB nation store sits under the broadcast threshold
    val j = Tables.customer(spark, TestSpark.sf0001)
      .join(spark.read.format("graft-sync").load(dir),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(j.count() === Tables.customer(spark, TestSpark.sf0001).count())
  }

  test("limit pushdown stops the page reader early") {
    val dir = freshStore("lim")
    Tables.eventsRaw(spark, TestSpark.sf0001)
      .select($"event_id", $"value")
      .write.format("graft-sync").mode("overwrite").save(dir)
    val q = spark.read.format("graft-sync").load(dir).limit(3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 3"), plan)
    assert(q.count() === 3L)
  }

  test("null semantics through pushdown: IsNull / comparisons vs missing fields") {
    val dir = freshStore("null")
    Files.createDirectories(Paths.get(dir))
    // hand-made page: the dynamic-document case — field absent = SQL NULL
    Files.write(Paths.get(dir, "page-0.jsonl"),
      ("""{"id":1,"v":5.0}""" + "\n" + """{"id":2}""" + "\n" +
        """{"id":3,"v":null}""" + "\n").getBytes("UTF-8"))
    val df = spark.read.format("graft-sync").schema("id BIGINT, v DOUBLE").load(dir)
    assert(df.filter($"v".isNull).select($"id").as[Long].collect().toSet === Set(2L, 3L))
    // comparison against NULL is false, not error — rows 2,3 drop
    assert(df.filter($"v" < 100.0).select($"id").as[Long].collect().toSet === Set(1L))
  }

  test("bulk-rows bounds the request size: an oversized partition chunks into pages") {
    val dir = freshStore("chunk")
    Tables.eventsRaw(spark, TestSpark.sf0001).limit(25).coalesce(1)
      .write.format("graft-sync").option("bulk-rows", "10")
      .mode("overwrite").save(dir)
    // 25 rows / 10-row requests = 3 pages; writer memory stays bounded at
    // one request no matter the partition size
    val pages = new java.io.File(dir).list().count(_.endsWith(".jsonl"))
    assert(pages === 3, s"expected 3 chunk pages, store has $pages")
    assert(spark.read.format("graft-sync").load(dir).count() === 25L)
  }

  test("overwrite commits are idempotent; append adds a generation") {
    val dir = freshStore("idem")
    val five = Tables.eventsRaw(spark, TestSpark.sf0001).limit(5)
    five.write.format("graft-sync").mode("overwrite").save(dir)
    five.write.format("graft-sync").mode("overwrite").save(dir)
    assert(spark.read.format("graft-sync").load(dir).count() === 5L)
    five.write.format("graft-sync").mode("append").save(dir)
    assert(spark.read.format("graft-sync").load(dir).count() === 10L)
  }

  test("micro-batch source: first run drains the store, second run reads ONLY new pages") {
    val dir = freshStore("mb")
    val ck = Files.createTempDirectory("gsync-mb-ck").toString
    val base = Tables.eventsRaw(spark, TestSpark.sf0001)
      .select($"event_id", $"event_type", $"value")
    base.limit(20).write.format("graft-sync").mode("overwrite").save(dir)

    // drain into a second graft-sync store: the full stream loop (paged
    // source -> epoch-committed bulk sink) with checkpointed offsets
    val out = freshStore("mb-out")
    def drain(): Long = {
      val q = spark.readStream.format("graft-sync").load(dir)
        .writeStream.format("graft-sync")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
      spark.read.format("graft-sync").load(out).count()
    }
    assert(drain() === 20L)
    // append 7 more rows as a new committed generation (new pages)
    base.orderBy($"event_id".desc).limit(7)
      .write.format("graft-sync").mode("append").save(dir)
    // same checkpoint → offsets resume past the first 20 rows' pages, so
    // the second run moves exactly the 7 appended rows
    assert(drain() === 27L, "second run must append only the new pages' rows")
  }

  test("max-pages-per-trigger: a backlog drains in bounded batches, not one catch-up job") {
    val dir = freshStore("limit")
    val ck = Files.createTempDirectory("gsync-limit-ck").toString
    val base = Tables.eventsRaw(spark, TestSpark.sf0001)
      .select($"event_id", $"value")
    // 4 committed generations = 4+ pages of backlog
    base.limit(5).write.format("graft-sync").mode("overwrite").save(dir)
    (1 to 3).foreach { _ =>
      base.limit(5).write.format("graft-sync").mode("append").save(dir)
    }
    var batches = 0
    val q = spark.readStream.format("graft-sync")
      .option("max-pages-per-trigger", "1").load(dir)
      .writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
        if (delta.count() > 0) batches += 1
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 4, s"expected >= 4 bounded batches, got $batches")
  }

  test("streaming bulk sink: exactly-once pages per epoch; replay converges (idempotent)") {
    val dir = freshStore("ssink")
    val rows = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    def runOnce(): Unit = {
      // fresh checkpoint each run = full replay from epoch 0: the replayed
      // epochs must overwrite their own pages, not duplicate them — the
      // deterministic-_id upsert property of a real bulk sink
      val ck = Files.createTempDirectory("gsync-ssink-ck").toString
      val mem = MemoryStream[(Long, String, Double)](spark)
      mem.addData(rows: _*)
      val q = mem.toDF().toDF("id", "name", "v")
        .writeStream.format("graft-sync")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().toSeq
    assert(first.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) === rows)
    runOnce() // full replay
    val second = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().toSeq
    assert(second === first, "replayed epochs must converge, not duplicate")
  }

  test("page-tag supersede: a replayed append under a DIFFERENT shuffle layout converges") {
    // the r12 advice hole: name-keyed dedupe only converges if the replay
    // reproduces the identical page set; with a different partition layout
    // (here: 5 → 2 partitions, standing in for AQE/conf drift across a
    // crash-restart) the same rows land under different page names. The
    // tag is an idempotency key — the second commit must SUPERSEDE the
    // first generation, never merge with it.
    val dir = freshStore("supersede")
    val rows = (0L until 10L).map(i => (i, i * 1.5))
    def writeTagged(parts: Int): Unit =
      rows.toDF("id", "v").repartition(parts)
        .write.format("graft-sync").mode("append")
        .option("page-tag", "rollup-7").option("bulk-rows", "3")
        .save(dir)
    writeTagged(5)
    val first = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(first === rows)
    writeTagged(2) // the replay, different layout
    val second = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(second === rows, "supersede must converge, not double-count")
    // exactly one manifest for the tag, and no orphaned first-generation
    // pages left on disk (stale pages are deleted after the atomic publish)
    val names = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    }
    assert(names.count(_.matches("_manifest-.*-rollup-7\\.json")) === 1, names)
    // only the 2-partition generation's pages remain: 2 partitions ×
    // ceil(5 rows / 3 bulk-rows) chunks = 4 pages; the 5-partition
    // generation's 5 pages were deleted after the atomic publish
    assert(names.count(_.endsWith(".jsonl")) === 4, names)
    // an untagged append alongside is untouched by tag supersede
    Seq((100L, 9.9)).toDF("id", "v")
      .write.format("graft-sync").mode("append").save(dir)
    writeTagged(3)
    val third = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(third === (rows :+ ((100L, 9.9))),
      "supersede must replace only its own tag's generation")
  }

  test("supersedeTag matches its tag EXACTLY — a suffix-colliding tag's generation is untouched") {
    // r13 advice: endsWith("-$tag.json") would conflate tag "x-7" with
    // "prefix-x-7", so superseding "x-7" would claim — then DELETE — the
    // other tag's committed generation.
    val dir = freshStore("tagexact")
    def writeTag(tag: String, rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "v").coalesce(1)
        .write.format("graft-sync").mode("append")
        .option("page-tag", tag).save(dir)
    writeTag("x-7", Seq((1L, 1.0)))
    writeTag("prefix-x-7", Seq((2L, 2.0)))
    writeTag("x-7", Seq((3L, 3.0))) // supersede ONLY x-7
    val got = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((2L, 2.0), (3L, 3.0)),
      "suffix-colliding tag must survive; x-7 must be replaced")
    val names = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    }
    assert(names.count(_.matches("_manifest-\\d+-x-7\\.json")) === 1, names)
    assert(names.count(_.matches("_manifest-\\d+-prefix-x-7\\.json")) === 1, names)
  }

  test("tagged staging is attempt-unique: a reused tag's new generation never reuses the committed page names") {
    // r13 advice (high): tag-only page names let a replay overwrite the
    // committed generation's bytes BEFORE the atomic manifest publish.
    val dir = freshStore("taguniq")
    def writeTag(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "v").coalesce(1)
        .write.format("graft-sync").mode("append")
        .option("page-tag", "gen").save(dir)
    def pages(): Set[String] = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".jsonl")).toSet
      } finally s.close()
    }
    writeTag(Seq((1L, 1.0)))
    val gen1 = pages()
    writeTag(Seq((2L, 2.0)))
    val gen2 = pages()
    assert(gen1.intersect(gen2).isEmpty,
      s"generations must stage under disjoint names: $gen1 vs $gen2")
    val got = spark.read.format("graft-sync").load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((2L, 2.0)))
  }

  test("page-tag 'compact' is refused — reserved for compaction snapshots") {
    val dir = freshStore("tagcompact")
    val e = intercept[Exception] {
      Seq((1L, 1.0)).toDF("id", "v")
        .write.format("graft-sync").mode("append")
        .option("page-tag", "compact").save(dir)
    }
    assert(msgs(e).exists(_.contains("reserved for compaction")), e)
  }

  test("compaction SEALS tags: a post-compaction tagged replay is a no-op, never a double-count") {
    // r13 advice: pre-fix, a replayed tagged epoch after compact() found
    // no prior generation and APPENDED rows the snapshot already holds.
    val dir = freshStore("sealed")
    val rows = (0L until 6L).map(i => (i, i * 0.5))
    def writeTagged(parts: Int): Unit =
      rows.toDF("id", "v").repartition(parts)
        .write.format("graft-sync").mode("append")
        .option("page-tag", "rollup-3").save(dir)
    writeTagged(3)
    graft.sources.GraftSyncMaintenance.compact(dir)
    def readAll() = spark.read.format("graft-sync").load(dir)
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // single-generation store: compact() is a no-op unless >1 page, so
    // append an untagged generation first to force a real snapshot
    Seq((100L, 9.9)).toDF("id", "v").coalesce(1)
      .write.format("graft-sync").mode("append").save(dir)
    graft.sources.GraftSyncMaintenance.compact(dir)
    val before = readAll()
    assert(before === (rows :+ ((100L, 9.9))))
    writeTagged(2) // the post-compaction replay, different layout
    assert(readAll() === before,
      "a sealed tag's replay must be a no-op, not an append")
    // and the replay's staged pages were GC'd, not left as orphans
    val names = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    }
    assert(names.count(_.endsWith(".jsonl")) === 1, names)
    assert(!names.exists(_.matches("_manifest-\\d+-rollup-3\\.json")), names)
  }

  test("compaction: N pages collapse to 1 under one snapshot manifest; answers and feed order unchanged") {
    val dir = freshStore("compact")
    val base = Tables.eventsRaw(spark, TestSpark.sf0001)
      .select($"event_id", $"value")
    // 3 generations × small bulk-rows = many pages
    base.limit(20).write.format("graft-sync").mode("overwrite")
      .option("bulk-rows", "7").save(dir)
    (1 to 2).foreach { _ =>
      base.limit(20).write.format("graft-sync").mode("append")
        .option("bulk-rows", "7").save(dir)
    }
    def files(suffix: String): Seq[String] = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(suffix)).toSeq
      } finally s.close()
    }
    def readAll() = spark.read.format("graft-sync").load(dir)
      .orderBy($"event_id", $"value").collect().toSeq
    val before = readAll()
    assert(files(".jsonl").size > 3, "need a multi-page store to compact")
    graft.sources.GraftSyncMaintenance.compact(dir)
    assert(files(".jsonl").size === 1, files(".jsonl"))
    assert(files(".json").count(_.startsWith("_manifest")) === 1)
    assert(readAll() === before, "compaction must not change answers")
    // the store keeps working: appends after a compaction are read back
    base.limit(5).write.format("graft-sync").mode("append").save(dir)
    assert(readAll().size === before.size + 5)
    // compacting again folds the tail generation in too
    graft.sources.GraftSyncMaintenance.compact(dir)
    assert(files(".jsonl").size === 1)
    assert(readAll().size === before.size + 5)
    // a single-generation store is a no-op, not an error
    graft.sources.GraftSyncMaintenance.compact(dir)
    assert(readAll().size === before.size + 5)
  }

  test("compacting a streamed store: answers unchanged, epoch replay a no-op, next epoch after") {
    // a streamed store's generations are epoch-tagged (`epoch-<n>`), so
    // compaction seals them exactly as it seals page tags
    val src = freshStore("compact-epoch-src")
    val dir = freshStore("compact-epoch")
    val ck = Files.createTempDirectory("gsync-cmp-ck").toString
    def append(rows: (Long, Double)*): Unit =
      rows.toDF("id", "v").coalesce(1)
        .write.format("graft-sync").mode("append").save(src)
    def stream(checkpoint: String): Unit =
      spark.readStream.format("graft-sync").load(src)
        .writeStream.format("graft-sync")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start(dir).awaitTermination()
    def readAll() = spark.read.format("graft-sync").load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def names(): Seq[String] = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      } finally s.close()
    }
    append((1L, 1.0), (2L, 2.0))
    stream(ck) // epoch 0
    append((3L, 3.0))
    stream(ck) // epoch 1
    val before = readAll()
    assert(before === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    graft.sources.GraftSyncMaintenance.compact(dir)
    assert(names().count(_.endsWith(".jsonl")) === 1, names())
    assert(names().filter(_.startsWith("_manifest-")) ===
      Seq("_manifest-000000000003-compact.json"))
    // 1. compaction does not change the answers
    assert(readAll() === before, "compaction must not change answers")
    // 2. a replay of a committed epoch (a fresh checkpoint's epoch 0)
    // finds its tag sealed: a no-op, its staged pages GC'd
    stream(Files.createTempDirectory("gsync-cmp-ck2").toString)
    assert(readAll() === before, "a sealed epoch's replay must be a no-op")
    assert(names().count(_.endsWith(".jsonl")) === 1, names())
    // 3. the stream's next epoch lands after the snapshot
    append((4L, 4.0))
    stream(ck) // epoch 2
    assert(readAll() === before :+ ((4L, 4.0)))
    assert(names().filter(_.startsWith("_manifest-")) === Seq(
      "_manifest-000000000003-compact.json", "_manifest-000000000004-epoch-2.json"))
  }

  test("a compacted streamed store drops another source's epochs up to the sealed one") {
    // epoch tags name stream positions, not sources: once compaction has
    // sealed epoch-0 and epoch-1, a different query started with a fresh
    // checkpoint commits its epochs 0 and 1 as replays (dropped, rows and
    // all); its first unsealed epoch lands after the snapshot
    val src = freshStore("sealed-epoch-src")
    val other = freshStore("sealed-epoch-other")
    val dir = freshStore("sealed-epoch")
    val ck = Files.createTempDirectory("gsync-sealed-ck").toString
    val ck2 = Files.createTempDirectory("gsync-sealed-ck2").toString
    def append(store: String, rows: (Long, Double)*): Unit =
      rows.toDF("id", "v").coalesce(1)
        .write.format("graft-sync").mode("append").save(store)
    def stream(from: String, checkpoint: String): Unit =
      spark.readStream.format("graft-sync").load(from)
        .writeStream.format("graft-sync")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start(dir).awaitTermination()
    def readAll() = spark.read.format("graft-sync").load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    append(src, (1L, 1.0)); stream(src, ck) // epoch 0
    append(src, (2L, 2.0)); stream(src, ck) // epoch 1
    graft.sources.GraftSyncMaintenance.compact(dir)
    val compacted = Seq((1L, 1.0), (2L, 2.0))
    append(other, (10L, 10.0)); stream(other, ck2) // epoch 0: sealed
    assert(readAll() === compacted)
    append(other, (11L, 11.0)); stream(other, ck2) // epoch 1: sealed
    assert(readAll() === compacted)
    append(other, (12L, 12.0)); stream(other, ck2) // epoch 2: lands
    assert(readAll() === compacted :+ ((12L, 12.0)))
  }

  test("page-tag 'epoch-<n>' is refused — reserved for the streaming sink") {
    val dir = freshStore("tagepoch")
    val e = intercept[Exception] {
      Seq((1L, 1.0)).toDF("id", "v")
        .write.format("graft-sync").mode("append")
        .option("page-tag", "epoch-3").save(dir)
    }
    assert(msgs(e).exists(_.contains("reserved for the streaming sink")), e)
  }

  test("an event-time operator runs unchanged over the connector stream (i1 twin)") {
    // the charter's composition: Structured Streaming + custom connectors.
    // The tumbling-window aggregation (i1) applied to the graft-sync
    // micro-batch stream must equal the same aggregation run as batch over
    // the same store — Structured Streaming's batch-equivalence guarantee,
    // now through OUR source.
    val dir = freshStore("i1")
    val ck = Files.createTempDirectory("gsync-i1-ck").toString
    // write the CANONICAL events shape (ts µs timestamp_ntz whatever the
    // storage encoding) so this test survives another fixture re-encode;
    // the connector moves the ntz column as epoch-µs JSON numbers
    Tables.events(spark, TestSpark.sf0001)
      .write.format("graft-sync").mode("overwrite").save(dir)
    def windowed(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
    val q = windowed(spark.readStream.format("graft-sync").load(dir))
      .writeStream.format("memory").queryName("gsync_i1")
      .outputMode("complete")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("gsync_i1").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1), r.getLong(2))).toSet
    val want = windowed(spark.read.format("graft-sync").load(dir)).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("schema is persisted by the sink and inferred by the source") {
    val dir = freshStore("schema")
    Tables.documents(spark, TestSpark.sf0001)
      .select($"doc_id", $"lang", $"n_chars")
      .write.format("graft-sync").mode("overwrite").save(dir)
    // no .schema(...) on the read side: _schema.json drives it
    val df = spark.read.format("graft-sync").load(dir)
    assert(df.schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(df.count() === Tables.documents(spark, TestSpark.sf0001).count())
  }

  test("the reference's sync loop runs through the connector: LWW + tombstones") {
    // the end-to-end story: a keyed change feed (updates + delete
    // tombstones, ts as epoch-micros longs — the connector's value
    // domain) arrives through the graft-sync micro-batch source and is
    // LWW-merged per batch; the resulting live view must equal the batch
    // merge of the whole feed. mergeLww's window ordering is
    // type-generic, so the operator runs unchanged on the long-encoded
    // feed.
    val dir = freshStore("sync")
    val ck = Files.createTempDirectory("gsync-sync-ck").toString
    val gen1 = Seq((1L, 100L, 1L, "a1"), (2L, 100L, 2L, "b1"), (3L, 100L, 5L, "c1"))
    val gen2 = Seq((1L, 200L, 3L, "a2"), // newer update for key 1
      (2L, 300L, 4L, null), // tombstone deletes key 2...
      (2L, 250L, 6L, "b2")) // ...and this OLDER update must stay dead
    val cols = Seq("key", "ts", "uid", "payload")
    gen1.toDF(cols: _*).write.format("graft-sync").mode("overwrite").save(dir)
    gen2.toDF(cols: _*).write.format("graft-sync").mode("append").save(dir)

    var snapshot = Seq.empty[(Long, Long, Long, String)].toDF(cols: _*)
    val q = spark.readStream.format("graft-sync").load(dir)
      .writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
        snapshot = graft.streaming.Sync
          .mergeLww(snapshot, delta).localCheckpoint()
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val live = graft.streaming.Sync.liveView(snapshot)
      .select(col("key"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batchWant = graft.streaming.Sync.liveView(
      graft.streaming.Sync.mergeLww(
        gen1.toDF(cols: _*), gen2.toDF(cols: _*)))
      .select(col("key"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(live === batchWant)
    assert(live === Set((1L, "a2"), (3L, "c1"))) // key 2 deleted, stays deleted
  }

  test("tombstone lifecycle IN the store: delete → read-absent → LWW-compact keeps it in grace, purges past grace; replay does not resurrect") {
    val dir = freshStore("tomb")
    val cols = Seq("key", "ts", "deleted", "payload")
    def liveKeys(): Set[(Long, String)] = {
      // reader-side merge (i12's rule): newest per key, tombstones drop
      val df = spark.read.format("graft-sync").load(dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("ts").desc)
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !coalesce(col("deleted"), lit(false)))
        .select(col("key"), col("payload"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    def storedLines(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".jsonl"))
        .flatMap(p => Files.readAllLines(p).asScala).toSeq
    }
    // gen1: two live keys; gen2: key 1 deleted at ts=200
    Seq((1L, 100L, false, "a1"), (2L, 100L, false, "b1")).toDF(cols: _*)
      .write.format("graft-sync").mode("overwrite").save(dir)
    Seq((1L, 200L, true, null.asInstanceOf[String])).toDF(cols: _*)
      .write.format("graft-sync").mode("append")
      .option("page-tag", "del-1").save(dir)
    assert(liveKeys() === Set((2L, "b1")), "write-delete must read as absent")

    // compact WITHIN gc-grace (now=500, grace=1000): shadowed a1 purged,
    // the winning tombstone RETAINED (purging it now is the C* zombie bug)
    graft.sources.GraftSyncMaintenance.compactLww(
      dir, Seq("key"), "ts", "deleted", gcGraceUs = 1000L, nowUs = 500L)
    val afterGrace = storedLines()
    assert(afterGrace.size === 2, s"expect tombstone + b1, got: $afterGrace")
    assert(afterGrace.exists(_.contains("\"deleted\":true")), "tombstone retained in grace")
    assert(!afterGrace.exists(_.contains("a1")), "shadowed version physically purged")
    assert(liveKeys() === Set((2L, "b1")))

    // a lagging writer replays key 1's ORIGINAL update (older ts, fresh
    // tag): the retained tombstone must keep shadowing it
    Seq((1L, 100L, false, "a1")).toDF(cols: _*)
      .write.format("graft-sync").mode("append")
      .option("page-tag", "replay-1").save(dir)
    assert(liveKeys() === Set((2L, "b1")), "replay must not resurrect the key")

    // compact PAST gc-grace (now advanced): tombstone physically purged,
    // and the shadowed replayed row goes with it
    graft.sources.GraftSyncMaintenance.compactLww(
      dir, Seq("key"), "ts", "deleted", gcGraceUs = 1000L, nowUs = 2000L)
    val afterPurge = storedLines()
    assert(afterPurge.size === 1 && afterPurge.head.contains("b1"),
      s"only the live row survives past grace, got: $afterPurge")
    assert(liveKeys() === Set((2L, "b1")))

    // and a post-compaction replay of a SEALED tag stays a no-op
    Seq((1L, 200L, true, null.asInstanceOf[String])).toDF(cols: _*)
      .write.format("graft-sync").mode("append")
      .option("page-tag", "del-1").save(dir)
    assert(liveKeys() === Set((2L, "b1")))
    assert(storedLines().size === 1, "sealed-tag replay must not re-append")
  }

  test("starting-offset=latest skips the existing backlog, then sees new pages") {
    val dir = freshStore("solatest")
    val ck = Files.createTempDirectory("gsync-so-ck").toString
    val out = freshStore("solatest-out")
    val base = Tables.eventsRaw(spark, TestSpark.sf0001)
      .select($"event_id", $"value")
    base.limit(20).write.format("graft-sync").mode("overwrite").save(dir)
    def drain(): Long = {
      val q = spark.readStream.format("graft-sync")
        .option("starting-offset", "latest").load(dir)
        .writeStream.format("graft-sync")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
      spark.read.format("graft-sync").load(out).count()
    }
    assert(drain() === 0L, "latest must skip the pre-existing backlog")
    base.orderBy($"event_id".desc).limit(4)
      .write.format("graft-sync").mode("append").save(dir)
    // the checkpointed restart resumes from the stored 'latest' position
    assert(drain() === 4L, "pages committed after query start must arrive")
  }

  test("batch and streamed commits share one feed, in commit order") {
    // every commit is a tagged generation at the next ordinal, so a batch
    // write, a streamed epoch and another batch write follow each other
    // in the feed, and a checkpointed reader gets each one exactly once
    val dir = freshStore("onefeed")
    val readCk = Files.createTempDirectory("gsync-onefeed-rck").toString
    def batch(ids: Long*): Unit =
      ids.map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
        .write.format("graft-sync").mode("append").save(dir)
    def drain(): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      spark.readStream.format("graft-sync").load(dir)
        .writeStream
        .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= delta.collect().map(_.getLong(0))
          ()
        }
        .option("checkpointLocation", readCk)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      seen.toSeq.sorted
    }
    batch(1L, 2L)
    assert(drain() === Seq(1L, 2L))
    val mem = MemoryStream[(Long, Double)](spark)
    mem.addData((10L, 10.0), (11L, 11.0))
    mem.toDF().toDF("id", "v")
      .writeStream.format("graft-sync")
      .option("checkpointLocation",
        Files.createTempDirectory("gsync-onefeed-ck").toString)
      .trigger(Trigger.AvailableNow()).start(dir).awaitTermination()
    assert(drain() === Seq(10L, 11L))
    batch(20L, 21L)
    assert(drain() === Seq(20L, 21L))
    assert(spark.read.format("graft-sync").load(dir)
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 10L, 11L, 20L, 21L))
    val manifests = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_manifest-")).toSeq.sorted
      } finally s.close()
    }
    assert(manifests.size === 3, manifests)
    assert(manifests(1) === "_manifest-000000000002-epoch-0.json", manifests)
  }

  /** One untagged generation holding each id. */
  private def appendIds(dir: String, ids: Long*): Unit =
    ids.foreach(id => Seq((id, id * 1.0)).toDF("id", "v").coalesce(1)
      .write.format("graft-sync").mode("append").save(dir))

  /** The ids a checkpointed AvailableNow stream over `dir` reads. */
  private def drainIds(dir: String, ck: String): Seq[Long] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.readStream.format("graft-sync").load(dir).writeStream
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= d.collect().map(_.getLong(0)); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    seen.toSeq.sorted
  }

  test("a supersede with fewer pages leaves a checkpointed reader's later generations in place") {
    // offsets name generations: the replay keeps rollup-7's ordinal, the
    // reader (already past it) does not read it again, and row 200's
    // generation is the next one it reads
    val dir = freshStore("shift")
    val ck = Files.createTempDirectory("gsync-shift-ck").toString
    val rows = (0L until 10L).map(i => (i, i * 1.5))
    def tagged(parts: Int): Unit =
      rows.toDF("id", "v").repartition(parts)
        .write.format("graft-sync").mode("append")
        .option("page-tag", "rollup-7").option("bulk-rows", "3").save(dir)
    tagged(5) // 5 pages
    appendIds(dir, 100L)
    assert(drainIds(dir, ck) === (0L until 10L) :+ 100L)
    tagged(2) // the replay: same rows, 4 pages
    appendIds(dir, 200L)
    assert(drainIds(dir, ck) === Seq(200L))
  }

  test("a reader that drained the store resumes after compaction with exactly the next generation") {
    val dir = freshStore("cmp-resume")
    val ck = Files.createTempDirectory("gsync-cmp-resume-ck").toString
    appendIds(dir, 1L, 2L, 3L)
    assert(drainIds(dir, ck) === Seq(1L, 2L, 3L))
    graft.sources.GraftSyncMaintenance.compact(dir)
    appendIds(dir, 4L)
    assert(drainIds(dir, ck) === Seq(4L))
    // a reader that has consumed nothing reads the snapshot whole
    val fresh = Files.createTempDirectory("gsync-cmp-fresh-ck").toString
    assert(drainIds(dir, fresh) === Seq(1L, 2L, 3L, 4L))
  }

  test("a reader behind a compaction fails naming it") {
    val dir = freshStore("cmp-behind")
    val ck = Files.createTempDirectory("gsync-cmp-behind-ck").toString
    appendIds(dir, 1L)
    assert(drainIds(dir, ck) === Seq(1L))
    appendIds(dir, 2L, 3L)
    graft.sources.GraftSyncMaintenance.compact(dir)
    val e = intercept[Exception](drainIds(dir, ck))
    assert(msgs(e).exists(_.contains("was compacted up to generation 3")), msgs(e))
  }

  test("a store overwritten under a checkpointed reader fails loudly") {
    val dir = freshStore("rewritten")
    val ck = Files.createTempDirectory("gsync-rewritten-ck").toString
    appendIds(dir, 1L, 2L, 3L)
    assert(drainIds(dir, ck) === Seq(1L, 2L, 3L))
    Seq((9L, 9.0)).toDF("id", "v").write.format("graft-sync").mode("overwrite").save(dir)
    val e = intercept[Exception](drainIds(dir, ck))
    assert(msgs(e).exists(_.contains("overwritten or truncated")), msgs(e))
  }

  test("a complete-mode stream's epoch replaces the store's other generations") {
    // complete mode truncates: each epoch's commit drops every other
    // generation, so the store holds exactly the latest full result
    val dir = freshStore("complete")
    val mem = MemoryStream[Long](spark)
    val q = mem.toDF().toDF("k").groupBy($"k").count()
      .writeStream.format("graft-sync").outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("gsync-complete-ck").toString)
      .start(dir)
    try {
      mem.addData(1L, 1L, 2L)
      q.processAllAvailable()
      mem.addData(2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.format("graft-sync").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === Seq((1L, 2L), (2L, 2L), (3L, 1L)))
  }

  test("a manifest a crashed publish left half-written (.tmp) is not read") {
    // atomicWrite stages `<manifest>.tmp` and renames it; a crash between
    // the two must leave the store reading exactly its committed pages
    val dir = freshStore("tmpmanifest")
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1)
      .write.format("graft-sync").mode("append").save(dir)
    Files.write(Paths.get(dir, "_manifest-000000000002-torn.json.tmp"),
      """{"pages":["page-tor""".getBytes("UTF-8"))
    val got = spark.read.format("graft-sync").load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((1L, 1.0)))
    // and the next commit still lands at ordinal 2
    Seq((2L, 2.0)).toDF("id", "v").coalesce(1)
      .write.format("graft-sync").mode("append").option("page-tag", "next")
      .save(dir)
    assert(Files.isRegularFile(Paths.get(dir, "_manifest-000000000002-next.json")))
  }

  test("a corrupt page fails loudly with file and line context") {
    val dir = freshStore("corrupt")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "page-0.jsonl"),
      ("""{"id":1}""" + "\n" + """{"id": not-json}""" + "\n").getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("graft-sync").schema("id BIGINT").load(dir).count()
    }
    assert(msgs(e).exists(m => m.contains("corrupt page") && m.contains("line 2")),
      s"got: ${msgs(e)}")
  }

  test("unsupported column types are rejected loudly at write time") {
    val dir = freshStore("badtype")
    val bad = spark.range(3).select(struct($"id").as("s"))
    val e = intercept[Exception] {
      bad.write.format("graft-sync").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("unsupported column type") ||
      Option(e.getCause).exists(_.getMessage.contains("unsupported column type")),
      s"got: $e")
  }
}
