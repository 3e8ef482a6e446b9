package graft

import graft.streaming.Sync
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

case class Change(key: Long, ts: Timestamp, uid: Long, payload: String)
case class IdUs(id: Long, us: Long)
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
case class Doc(doc_id: Long, text: String, ts: Timestamp)
case class Vec(vec_id: Long, embedding: Array[Float], ts: Timestamp)
case class CellRow(key: Long, ts: Long, status: Option[String], status_wt: Option[Long])
case class StoreCellRow(store: Int, key: Long, ts: Long, status: Option[String],
    status_wt: Option[Long])

/** Streaming semantics the oracle can't see: watermark late-drop (i4),
  * within-watermark dedup (i5), the foreachBatch LWW sink (i6 streaming
  * form), and the file-stream source (a5).
  */
class StreamingSpec extends AnyFunSuite {
  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("i4: windowed agg drops events later than the watermark") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = Sync.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("i4_out").outputMode("append").start()
    try {
      // window [10:00, 11:00) gets 2 rows; the 12:10 row pushes the
      // watermark to 12:00 so that window finalizes and is emitted.
      mem.addData(
        Change(1, ts("2024-01-01 10:05:00"), 1, "a"),
        Change(1, ts("2024-01-01 10:10:00"), 2, "b"),
        Change(1, ts("2024-01-01 12:10:00"), 3, "c"))
      q.processAllAvailable()
      // late arrival inside the already-finalized window: must be dropped
      mem.addData(Change(1, ts("2024-01-01 10:20:00"), 4, "late"))
      q.processAllAvailable()
      // advance watermark past [12:00, 13:00) to flush the remaining window
      mem.addData(Change(1, ts("2024-01-01 14:00:00"), 5, "d"))
      q.processAllAvailable()
      val rows = spark.table("i4_out")
        .select($"win_start".cast("string"), $"n").as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 10:00:00") === 2L) // late row NOT counted
      assert(rows("2024-01-01 12:00:00") === 1L)
    } finally q.stop()
  }

  test("i4 batch twin: replaying the perturbed arrival sequence through a REAL watermark drops exactly the rows i4 classifies late") {
    // The declared i4_watermark_late models Spark's semantics (watermark
    // advances BETWEEN micro-batches to max-seen − delay; rows under it
    // drop). Pin the model to the engine: replay sf0.001's fault-injected
    // events through withWatermark + streaming dropDuplicates in the same
    // div-100 micro-batches and compare survivor sets row for row.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cls = graft.ops.StreamingOps.i4Classified(spark, TestSpark.sf0001)
      .select($"event_id", $"b", $"us", $"late")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val expectedKept = cls.filter(!_._4).map(_._1).toSet
    assert(cls.exists(_._4), "fixture produced no late rows — vacuous")
    val mem = MemoryStream[IdUs]
    val q = mem.toDF()
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("id", "ts") // ids unique ⇒ passes all non-late rows
      .writeStream.format("memory").queryName("i4_equiv")
      .outputMode("append").start()
    try {
      cls.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, chunk) =>
        // one addData + drain per b-group = one micro-batch per arrival
        // batch, so the watermark advances exactly at i4's boundaries
        mem.addData(chunk.sortBy(_._1).toSeq.map(r => IdUs(r._1, r._3)))
        q.processAllAvailable()
      }
      val survived = spark.table("i4_equiv")
        .select($"id").as[Long].collect().toSet
      assert(survived === expectedKept,
        s"stream/batch divergence: onlyStream=${(survived -- expectedKept).toSeq.sorted.take(5)} " +
          s"onlyBatch=${(expectedKept -- survived).toSeq.sorted.take(5)}")
    } finally q.stop()
  }

  test("i5: duplicate uids within the watermark are dropped") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = Sync.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("i5_out").outputMode("append").start()
    try {
      mem.addData(
        Change(1, ts("2024-01-01 10:00:00"), 100, "a"),
        Change(1, ts("2024-01-01 10:00:30"), 100, "a-dup"),
        Change(2, ts("2024-01-01 10:01:00"), 200, "b"))
      q.processAllAvailable()
      mem.addData(Change(3, ts("2024-01-01 10:02:00"), 100, "a-again"))
      q.processAllAvailable()
      val uids = spark.table("i5_out").select($"uid").as[Long].collect().sorted
      assert(uids === Array(100L, 200L)) // each uid exactly once
    } finally q.stop()
  }

  test("streaming decontamination flags only eval-overlapping docs, once each") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val q = Sync.decontaminateStream(mem.toDF(), evalDocs)
      .writeStream.format("memory").queryName("decon_out").outputMode("append").start()
    try {
      mem.addData(
        // shares TWO shingles ("alpha beta gamma", "beta gamma delta") —
        // must still be emitted exactly once
        Doc(1, "alpha beta gamma delta epsilon", ts("2024-01-01 10:00:00")),
        Doc(2, "zeta eta theta iota", ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      mem.addData( // in-watermark duplicate of doc 1: suppressed
        Doc(1, "alpha beta gamma delta epsilon", ts("2024-01-01 10:01:00")),
        Doc(3, "beta gamma delta kappa", ts("2024-01-01 10:01:30")))
      q.processAllAvailable()
      val flagged = spark.table("decon_out").select($"doc_id").as[Long].collect().sorted
      assert(flagged === Array(1L, 3L)) // doc 2 clean, doc 1 once
    } finally q.stop()
  }

  test("streaming percolation matches arriving docs against the stored queries, statelessly") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = Sync.percolateStream(mem.toDF())
      .writeStream.format("memory").queryName("perc_out").outputMode("append").start()
    try {
      mem.addData(
        Doc(1, "spark join table scan", ts("2024-01-01 10:00:00")),        // q1 only
        Doc(2, "vector window table", ts("2024-01-01 10:00:10")),          // no query (q2 needs hash)
        Doc(3, "merge slow vector window hash", ts("2024-01-01 10:00:20")))// q2 AND q3
      q.processAllAvailable()
      val got = spark.table("perc_out")
        .select($"doc_id", $"query_id").as[(Long, String)].collect().sorted
      assert(got === Array(
        (1L, "q1_spark_join"),
        (3L, "q2_vector_window_hash"), (3L, "q3_merge_slow")))
      // the term table is the batch operator's own — matching cannot drift
      assert(graft.ops.SearchOps.percolateQueries.map(_._1) ===
        Seq("q1_spark_join", "q2_vector_window_hash", "q3_merge_slow"))
    } finally q.stop()
  }

  test("streaming Gopher gate passes exactly the docs the batch flags pass") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real fixture docs (n_chars == length(text) pinned by CurateSpec),
    // replayed through the stream; survivors must equal the batch verdict
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select($"doc_id", $"text").limit(40)
      .as[(Long, String)].collect()
    val batchPass = Tables.documents(spark, TestSpark.sf0001)
      .limit(40)
      .withColumn("toks", org.apache.spark.sql.functions.split($"text", " "))
      .filter(graft.ops.CorpusQualityOps.gopherPass)
      .select($"doc_id").as[Long].collect().sorted
    val mem = MemoryStream[Doc]
    val q = Sync.gopherGateStream(mem.toDF())
      .writeStream.format("memory").queryName("gopher_out").outputMode("append").start()
    try {
      mem.addData(docs.map { case (id, t) => Doc(id, t, ts("2024-01-01 10:00:00")) }.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("gopher_out").select($"doc_id").as[Long].collect().sorted
      assert(got.nonEmpty && got.length < 40) // the gate does real work
      assert(got === batchPass)
    } finally q.stop()
  }

  test("streaming chunking splits arriving docs with batch-identical windows") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = Sync.chunkStream(mem.toDF())
      .writeStream.format("memory").queryName("chunk_out").outputMode("append").start()
    try {
      val words100 = (1 to 100).map(i => s"w$i").mkString(" ")
      mem.addData(
        Doc(1, "tiny doc", ts("2024-01-01 10:00:00")),
        Doc(2, words100, ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      val got = spark.table("chunk_out")
        .select($"doc_id", $"chunk_id", $"start_tok", $"n_tok")
        .as[(Long, Long, Long, Long)].collect().sorted
      // doc 1: one 2-token window; doc 2 (100 toks): starts 1/49/97,
      // n_tok 64/52/4 — same least(64, n-s+1) rule the batch oracle pins
      assert(got === Array(
        (1L, 0L, 1L, 2L),
        (2L, 0L, 1L, 64L), (2L, 1L, 49L, 52L), (2L, 2L, 97L, 4L)))
      // ts carried through onto every chunk row (the pass-through contract)
      assert(spark.table("chunk_out").columns.contains("ts"))
    } finally q.stop()
  }

  test("streaming LSH dedup: arriving docs are matched against the corpus, once each") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (200L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val (dups, release) = Sync.lshDedupStreamReleasable(mem.toDF(), corpus)
    val q = dups
      .writeStream.format("memory").queryName("lsh_out").outputMode("append").start()
    try {
      mem.addData(
        // exact copy of corpus doc 100 under a new id: Jaccard 1.0, every
        // band collides — must be detected
        Doc(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
          ts("2024-01-01 10:00:00")),
        // unrelated vocabulary: no shingle overlap, no band collision
        Doc(2, "red orange yellow green blue indigo violet", ts("2024-01-01 10:00:10")),
        // last token changed vs corpus 100: 7 of 8 shingles shared,
        // Jaccard 7/9 — high enough that the 4×2 banding collides (pinned:
        // deterministic because the signatures are md5-derived)
        Doc(3, "alpha beta gamma delta epsilon zeta eta theta iota lambda",
          ts("2024-01-01 10:00:20")))
      q.processAllAvailable()
      mem.addData( // in-watermark duplicate verdict: suppressed
        Doc(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
          ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val out = spark.table("lsh_out")
        .select($"doc_id", $"cand_id", $"jaccard")
        .as[(Long, Long, Double)].collect().sortBy(_._1)
      assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 100L), (3L, 100L)))
      assert(out(0)._3 === 1.0)
      assert(out(1)._3 === 0.777778) // 7 shared / 9 union, rounded to 6dp
    } finally { q.stop(); release() }
  }

  test("streaming SemDeDup: arriving vectors probe only their cluster, once each") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def basis(i: Int): Array[Float] = Array.tabulate(64)(j => if (j == i) 1f else 0f)
    // 4 mutually orthogonal corpus vectors → 4 singleton clusters whose
    // refined centroids are the members themselves
    val corpus = Seq((0L, basis(0)), (1L, basis(1)), (2L, basis(2)), (3L, basis(3)))
      .toDF("vec_id", "embedding")
    val mem = MemoryStream[Vec]
    val (src, release) = Sync.semDedupStreamReleasable(mem.toDF(), corpus)
    val q = src.writeStream.format("memory").queryName("sem_out")
      .outputMode("append").start()
    try {
      // e0-dominant with a small e1 component: assigned to cluster 0
      // (cos ≈ 0.981 vs centroid 0, ≈ 0.196 vs centroid 1), then the
      // in-cluster verify finds corpus vector 0 at cos ≥ 0.35
      val near0 = Array.tabulate(64)(j =>
        if (j == 0) 1f else if (j == 1) 0.2f else 0f)
      mem.addData(
        Vec(100L, near0, ts("2024-01-01 10:00:00")),
        // orthogonal to every corpus member: lands in SOME cluster
        // (tiebreak → 0) but its in-cluster cosine is 0 → no verdict
        Vec(101L, basis(5), ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      mem.addData( // in-watermark duplicate verdict: suppressed
        Vec(100L, near0, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val out = spark.table("sem_out")
        .select($"vec_id", $"cand_id", $"cos_sim")
        .as[(Long, Long, Double)].collect()
      assert(out.map(r => (r._1, r._2)).toSeq === Seq((100L, 0L)))
      assert(out.head._3 > 0.9 && out.head._3 < 1.0)
    } finally { q.stop(); release() }
  }

  test("streaming LSH dedup matches an independent in-memory model on random docs") {
    // model: pure-Scala shingles → MessageDigest md5 minhashes → 4×2
    // banding → exact-Jaccard verify. Independent of every Spark
    // expression the operator uses, so it cross-checks the md5/substring/
    // array-min semantics AND the band-collision candidate logic.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingles(text: String): Set[String] = {
      val t = text.split(" ")
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    def minhash(sh: Set[String]): IndexedSeq[String] =
      (0 to 7).map(i => sh.map(x =>
        md5hex(s"${i / 4}:$x").substring(i % 4 * 8, i % 4 * 8 + 8)).min)
    def modelVerdicts(stream: Map[Long, String], corpus: Map[Long, String])
        : Set[(Long, Long, Double)] = {
      val cm = corpus.map { case (id, t) => id -> (shingles(t), minhash(shingles(t))) }
      for {
        (sid, st) <- stream.toSet[(Long, String)]
        ssh = shingles(st) if ssh.nonEmpty
        sm = minhash(ssh)
        (cid, (csh, cmh)) <- cm if cid != sid
        if (0 to 3).exists(b => sm(2 * b) + "|" + sm(2 * b + 1) == cmh(2 * b) + "|" + cmh(2 * b + 1))
        inter = (ssh intersect csh).size
        jac = inter.toDouble / (ssh.size + csh.size - inter)
        if jac >= 0.5
      } yield (sid, cid, BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 't').map(_.toString)
    def randDoc(): String =
      Seq.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def mutate(t: String): String = { // change one token → a near-dup
      val toks = t.split(" ")
      toks.updated(rnd.nextInt(toks.length), "zz").mkString(" ")
    }
    val corpus = (100L until 130L).map(_ -> randDoc()).toMap
    // 6 near-copies of corpus docs + 4 fresh randoms
    val stream = ((1L to 6L).map(i => i -> mutate(corpus(99L + i * 5))) ++
      (7L to 10L).map(_ -> randDoc())).toMap
    val want = modelVerdicts(stream, corpus)
    assert(want.nonEmpty, "model produced no verdicts — test would be vacuous")
    val mem = MemoryStream[Doc]
    val (dups, release) = Sync.lshDedupStreamReleasable(
      mem.toDF(), corpus.toSeq.toDF("doc_id", "text"))
    val q = dups
      .writeStream.format("memory").queryName("lsh_model_out").outputMode("append").start()
    try {
      mem.addData(stream.toSeq.map { case (id, t) =>
        Doc(id, t, ts("2024-01-01 10:00:00")) }: _*)
      q.processAllAvailable()
      val got = spark.table("lsh_model_out")
        .select($"doc_id", $"cand_id", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want)
    } finally { q.stop(); release() }
  }

  test("syncDiffStream classifies arriving changes against the replica (i13's twin)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replica snapshot: key 1 in sync, key 2 divergent (old value), key 3 absent
    val replica = Seq(
      Ev(1L, ts("2024-01-01 09:00:00"), 10L, "click", 5.0, """{"k":1}"""),
      Ev(2L, ts("2024-01-01 09:00:00"), 20L, "purchase", 99.0, """{"k":2}""")).toDF()
    val mem = MemoryStream[Ev]
    val (diff, release) = Sync.syncDiffStreamReleasable(mem.toDF(), replica)
    val q = diff.writeStream.format("memory").queryName("sync_diff")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 10L, "click", 5.0, """{"k":1}"""),     // in_sync → suppressed
        Ev(2L, ts("2024-01-01 10:00:05"), 20L, "purchase", 42.0, """{"k":2}"""), // divergent value
        Ev(3L, ts("2024-01-01 10:00:10"), 30L, "view", 1.0, """{"k":3}"""))      // replica is behind
      q.processAllAvailable()
      // re-sent identical change within the watermark → reported once
      mem.addData(
        Ev(2L, ts("2024-01-01 10:01:00"), 20L, "purchase", 42.0, """{"k":2}"""))
      q.processAllAvailable()
      val out = spark.table("sync_diff")
        .select($"event_id", $"status").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(out.sorted.toSeq === Seq(2L -> "checksum_mismatch", 3L -> "missing_in_target"))
    } finally { q.stop(); release() }
  }

  test("curateStream gates docs on arrival: exact-dup, repetition, quality, contamination") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val evalDocs = Seq((0L, "secret bench mark question answer key")).toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val (clean, release) = Sync.curateStreamReleasable(mem.toDF(), corpus, evalDocs)
    val q = clean
      .writeStream.format("memory").queryName("curate_out").outputMode("append").start()
    try {
      mem.addData(
        // exact copy of corpus doc 100 → dropped by the hash gate
        Doc(1, "alpha beta gamma delta epsilon zeta", ts("2024-01-01 10:00:00")),
        // clean doc → kept
        Doc(2, "one two three four five six seven", ts("2024-01-01 10:00:05")),
        // repetitious (dup-2-gram frac 6/8 > 0.10) → dropped
        Doc(3, "x y x y x y x y x", ts("2024-01-01 10:00:10")),
        // mostly eval shingles (ratio 3/4 ≥ 0.30) → dropped
        Doc(4, "secret bench mark question answer here", ts("2024-01-01 10:00:15")),
        // one shared eval shingle in a long doc (ratio 1/8 < 0.30) → kept
        Doc(5, "secret bench mark aaa bbb ccc ddd eee fff ggg", ts("2024-01-01 10:00:20")),
        // stopword-heavy short doc: repetition-clean (all bigrams distinct)
        // but quality logit ≈ −2.57 < 0.8 → dropped by the QUALITY gate
        Doc(7, "a the b the c the d", ts("2024-01-01 10:00:25")))
      q.processAllAvailable()
      mem.addData(
        // re-send of kept doc 2 within the watermark → suppressed
        Doc(2, "one two three four five six seven", ts("2024-01-01 10:01:00")),
        // in-feed exact dup: doc 2's text under a NEW id → also suppressed
        // (emission dedup keys on the content hash, like batch exactDedup)
        Doc(6, "one two three four five six seven", ts("2024-01-01 10:01:05")))
      q.processAllAvailable()
      val out = spark.table("curate_out")
        .select($"doc_id", $"contamination").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out.keySet === Set(2L, 5L))
      assert(out(2L) === 0.0)
      assert(out(5L) === 0.125) // 1 shared shingle of 8
    } finally { q.stop(); release() }
  }

  test("i6 streaming: foreachBatch LWW sink converges to newest-per-key") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = tmp("lww-target") + "/snap"
    val mem = MemoryStream[Change]
    mem.addData(
      Change(1, ts("2024-01-01 10:00:00"), 1, "v1"),
      Change(1, ts("2024-01-01 11:00:00"), 2, "v2"), // newer — wins
      Change(2, ts("2024-01-01 10:30:00"), 3, "w1"))
    val q = Sync.lwwSink(mem.toDF(), target, tmp("lww-ckpt"),
      Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      val snap1 = spark.read.parquet(target)
        .select($"key", $"payload").as[(Long, String)].collect().toMap
      assert(snap1 === Map(1L -> "v2", 2L -> "w1"))
      // an OLDER change for key 1 arrives late: LWW must ignore it
      mem.addData(Change(1, ts("2024-01-01 09:00:00"), 4, "stale"))
      q.processAllAvailable()
      val snap2 = spark.read.parquet(target)
        .select($"key", $"payload").as[(Long, String)].collect().toMap
      assert(snap2 === Map(1L -> "v2", 2L -> "w1"))
    } finally q.stop()
  }

  /** Runs `body` against a two-store cellSyncSink over one status cell:
    * `round(a, b)` feeds one micro-batch holding store 0's rows `a` and
    * store 1's rows `b` and returns what each store was sent, as store →
    * key → status (a store sent nothing is absent); `merged()` reads the
    * committed snapshot. Both feeds are filters of one MemoryStream, so a
    * round's rows always land in one micro-batch. */
  private def twoStoreSink(body: ((Seq[CellRow], Seq[CellRow]) => Map[Int, Map[Long, String]],
      () => Map[Long, String]) => Unit): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snap = tmp("cell-target") + "/snap"
    val mem = MemoryStream[StoreCellRow]
    val rows = mem.toDF()
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Map[Long, String])]
    val q = Sync.cellSyncSink(Seq(0, 1).map(i => rows.where($"store" === i).drop("store")),
        "key", Seq("status"), Seq(snap), tmp("cell-ckpt"), Trigger.ProcessingTime(0)) {
      (i, df) => sent.add(i -> df.select($"key", $"status").as[(Long, String)].collect().toMap)
    }
    def round(a: Seq[CellRow], b: Seq[CellRow]): Map[Int, Map[Long, String]] = {
      sent.clear()
      mem.addData(Seq(0 -> a, 1 -> b).flatMap { case (i, rs) =>
        rs.map(r => StoreCellRow(i, r.key, r.ts, r.status, r.status_wt)) }: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = sent.asScala.toSeq
      assert(got.map(_._1).distinct.size === got.size, s"a store was sent twice: $got")
      got.toMap
    }
    try body(round, () => spark.read.parquet(snap).select($"key", $"status")
      .as[(Long, String)].collect().toMap)
    finally q.stop()
  }

  private def cellRow(k: Long, ts: Long, v: String, wt: Long) = CellRow(k, ts, Some(v), Some(wt))

  test("cellSyncSink relays the keys whose incoming row differs from the committed row, and only those") {
    twoStoreSink { (round, merged) =>
      val row = cellRow _
      // store 0's new rows: store 1 lacks them, store 0 sent them
      assert(round(Seq(row(1, 10, "a", 10), row(2, 10, "b", 10)), Nil) ===
        Map(1 -> Map(1L -> "a", 2L -> "b")))
      // the echo of that relay, one row with a new poll cursor `ts`: the
      // cells and stamps equal the committed rows, so nothing is relayed
      assert(round(Nil, Seq(row(1, 10, "a", 10), row(2, 77, "b", 10))) === Map())
      // a store holding an older cell gets the committed (newer) row back;
      // its row is not the merged row, so the key goes to both stores
      assert(round(Nil, Seq(row(1, 5, "old", 5))) ===
        Map(0 -> Map(1L -> "a"), 1 -> Map(1L -> "a")))
      // one echoed and one new row for the same key: the key is relayed,
      // to both stores, as the store sent two cell tuples
      assert(round(Nil, Seq(row(2, 10, "b", 10), row(2, 20, "c", 20))) ===
        Map(0 -> Map(2L -> "c"), 1 -> Map(2L -> "c")))
      assert(merged() === Map(1L -> "a", 2L -> "c"))
    }
  }

  test("cellSyncSink sends each store only the merged rows it does not already hold") {
    twoStoreSink { (round, merged) =>
      val row = cellRow _
      // each store's unchanged own row goes to the other store only
      assert(round(Seq(row(1, 10, "a", 10)), Seq(row(2, 10, "b", 10))) ===
        Map(0 -> Map(2L -> "b"), 1 -> Map(1L -> "a")))
      // a newer local write on store 0 goes to store 1 only
      assert(round(Seq(row(1, 20, "a2", 20)), Nil) === Map(1 -> Map(1L -> "a2")))
      // a key changed on both stores goes to both, whichever store won
      assert(round(Seq(row(3, 30, "x", 30)), Seq(row(3, 40, "y", 40))) ===
        Map(0 -> Map(3L -> "y"), 1 -> Map(3L -> "y")))
      // a store holding an older cell gets the newer row back
      assert(round(Nil, Seq(row(1, 5, "old", 5))) ===
        Map(0 -> Map(1L -> "a2"), 1 -> Map(1L -> "a2")))
      // both stores' rows equal the committed rows: an echo, sent nowhere
      assert(round(Seq(row(2, 50, "b", 10)), Seq(row(2, 60, "b", 10))) === Map())
      assert(merged() === Map(1L -> "a2", 2L -> "b", 3L -> "y"))
    }
  }

  // ---- the snapshot commit protocol under fault injection: each
  // post-crash disk state is built by hand between two rounds of a running
  // sink, then the next round must recover from it

  /** A running snapshot sink: `round(keys)` feeds one micro-batch writing
    * each key and waits for it; `keys()` reads the committed snapshot. */
  private final class SinkRun(val dir: String, val keyCol: String,
      val round: Seq[Long] => Unit, val stop: () => Unit) {
    def keys(): Set[Long] = TestSpark.spark.read.parquet(dir).select(keyCol)
      .collect().map(_.getLong(0)).toSet
  }

  private def runLwwSink(): SinkRun = {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("lww-fault") + "/snap"
    val mem = MemoryStream[Change]
    val q = Sync.lwwSink(mem.toDF(), dir, tmp("lww-fault-ckpt"), Trigger.ProcessingTime(0))
    new SinkRun(dir, "key", { ks =>
      mem.addData(ks.map(k => Change(k, ts("2024-01-01 10:00:00"), k, s"v$k")): _*)
      q.processAllAvailable()
    }, () => q.stop())
  }

  private def runCellLwwSink(): SinkRun = {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("cell-lww-fault") + "/snap"
    val mem = MemoryStream[Ev]
    val q = Sync.cellLwwSink(mem.toDF(), dir, tmp("cell-lww-fault-ckpt"),
      Trigger.ProcessingTime(0))
    var eventId = 0L
    new SinkRun(dir, "user_id", { ks =>
      mem.addData(ks.map { k =>
        eventId += 1; Ev(eventId, ts("2024-01-01 10:00:00"), k, "click", 1.0, "")
      }: _*)
      q.processAllAvailable()
    }, () => q.stop())
  }

  private def runCellSyncSink(): SinkRun = {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("cell-sync-fault") + "/snap"
    val mem = MemoryStream[CellRow]
    val q = Sync.cellSyncSink(Seq(mem.toDF()), "key", Seq("status"), Seq(dir),
      tmp("cell-sync-fault-ckpt"), Trigger.ProcessingTime(0))((_, _) => ())
    new SinkRun(dir, "key", { ks =>
      mem.addData(ks.map(k => CellRow(k, 10, Some(s"s$k"), Some(10))): _*)
      q.processAllAvailable()
    }, () => q.stop())
  }

  for ((name, start) <- Seq[(String, () => SinkRun)](
      "lwwSink" -> (() => runLwwSink()),
      "cellLwwSink" -> (() => runCellLwwSink()),
      "cellSyncSink (one dir)" -> (() => runCellSyncSink()))) {

    test(s"$name: a crash between the snapshot delete and the rename loses no merged key") {
      val run = start()
      try {
        run.round(Seq(1L, 2L))
        // the crash: <dir> deleted, its complete replacement left in <dir>.tmp
        assert(new java.io.File(run.dir).renameTo(new java.io.File(run.dir + ".tmp")))
        run.round(Seq(3L))
        assert(run.keys() === Set(1L, 2L, 3L))
        assert(!new java.io.File(run.dir + ".tmp").exists())
      } finally run.stop()
    }

    test(s"$name: a torn <dir>.tmp beside an intact snapshot is ignored and overwritten") {
      val run = start()
      try {
        run.round(Seq(1L, 2L))
        // the crash: a write to <dir>.tmp that never reached its job commit
        TestSpark.spark.read.parquet(run.dir).withColumn(run.keyCol, lit(99L))
          .write.parquet(run.dir + ".tmp")
        assert(new java.io.File(run.dir + ".tmp/_SUCCESS").delete())
        run.round(Seq(3L))
        assert(run.keys() === Set(1L, 2L, 3L))
        assert(!new java.io.File(run.dir + ".tmp").exists())
      } finally run.stop()
    }
  }

  /** Every file under `dir` with its bytes. */
  private def filesOf(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  /** Runs one micro-batch of `rows` through `sink` over the prepared
    * snapshot at `dir`: the batch must fail with the refusal and leave
    * every file of the snapshot as it was. */
  private def assertRefused(what: String, dir: String)(
      sink: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val before = filesOf(dir)
    val q = sink(tmp("loud-ckpt"))
    val e =
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      finally q.stop()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("refusing to overwrite existing state")),
      s"$what: ${msgs(e).mkString(" | ").take(400)}")
    assert(filesOf(dir) === before, s"$what: the snapshot's files must be untouched")
  }

  test("lwwSink fails the batch on a snapshot it cannot read or whose columns differ, and leaves it untouched") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def put(d: String, name: String, bytes: Array[Byte]): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(d))
      Files.write(java.nio.file.Paths.get(d, name), bytes)
    }
    Seq[(String, String => Unit)](
      "wrong columns" -> (d => Seq((1L, "x")).toDF("id", "other").write.parquet(d)),
      "no data file" -> (d => put(d, "_SUCCESS", Array.emptyByteArray)),
      "corrupt data file" -> (d => put(d, "part-00000.parquet", "not parquet".getBytes))
    ).foreach { case (what, make) =>
      val dir = tmp("lww-loud") + "/snap"
      make(dir)
      val mem = MemoryStream[Change]
      mem.addData(Change(1, ts("2024-01-01 10:00:00"), 1, "v1"))
      assertRefused(what, dir)(ckpt =>
        Sync.lwwSink(mem.toDF(), dir, ckpt, Trigger.ProcessingTime(0)))
    }
  }

  test("cellLwwSink fails the batch on a snapshot that lacks s_ord instead of dropping it") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("cell-lww-loud") + "/snap"
    Seq((1L, "gold")).toDF("user_id", "status").write.parquet(dir)
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts("2024-01-01 10:00:00"), 2, "click", 1.0, ""))
    assertRefused("no s_ord", dir)(ckpt =>
      Sync.cellLwwSink(mem.toDF(), dir, ckpt, Trigger.ProcessingTime(0)))
  }

  test("readSnapshot takes schema and rows from the footers, and refuses part files that disagree on columns") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val columns = Sync.changeSchema.fieldNames.toSeq
    val good = tmp("footer-good") + "/snap"
    Seq(Change(1, ts("2024-01-01 10:00:00"), 1, "v1"), Change(2, ts("2024-01-01 10:00:00"), 2, null))
      .toDF().repartition(2).write.parquet(good)
    val snap = Sync.readSnapshot(spark, good, columns).get
    assert(snap.schema === spark.read.parquet(good).schema)
    assert(snap.collect().toSet === spark.read.parquet(good).collect().toSet)
    assert(Sync.snapshotRows(spark, good, columns) === 2L)

    // two part files in one snapshot, one of them with other columns
    val dir = tmp("footer-mixed") + "/snap"
    val other = tmp("footer-other") + "/part"
    Seq(Change(1, ts("2024-01-01 10:00:00"), 1, "v1")).toDF().write.parquet(dir)
    Seq((2L, "x")).toDF("key", "other").write.parquet(other)
    val part = new java.io.File(other).listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, java.nio.file.Paths.get(dir, "part-99999-other.parquet"))
    intercept[IllegalStateException](Sync.snapshotRows(spark, dir, columns))
    val mem = MemoryStream[Change]
    mem.addData(Change(3, ts("2024-01-01 10:00:00"), 3, "v3"))
    assertRefused("part files disagree on columns", dir)(ckpt =>
      Sync.lwwSink(mem.toDF(), dir, ckpt, Trigger.ProcessingTime(0)))
  }

  test("i18 streaming: rollup increments append as partial pages — the stored table serves the composed day answer") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{sum => fsum, min => fmin, max => fmax, count => fcount, lit, expr, col}
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("rollup-store") + "/store"
    val mem = MemoryStream[Ev]
    def ev(id: Long, t: String, typ: String, v: Double) =
      Ev(id, ts(t), 1L, typ, v, "")
    // batch 1: three events — click lands twice in hour 10, view in hour 11
    mem.addData(
      ev(1, "2024-01-01 10:05:00", "click", 1.25),
      ev(2, "2024-01-01 10:55:00", "click", 2.50),
      ev(3, "2024-01-01 11:05:00", "view", 4.00))
    val q = Sync.rollupSink(
      mem.toDF().withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))")),
      store, tmp("rollup-ckpt"), Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // batch 2 revisits (click, hour 10): the store then holds TWO
      // partial rows for that cell — no read-modify-write happened —
      // and a next-day view event
      mem.addData(
        ev(4, "2024-01-01 10:20:00", "click", 10.00),
        ev(5, "2024-01-02 09:00:00", "view", 3.00))
      q.processAllAvailable()
    } finally q.stop()
    // two appended generations, zero rewrites: ≥2 manifests in the store
    val manifests = new java.io.File(store).list()
      .count(_.startsWith("_manifest"))
    assert(manifests >= 2, s"expected appended manifest generations, got $manifests")
    // EPOCH REPLAY idempotency: re-running an epoch's append with the
    // same page-tag (what a post-crash foreachBatch re-execution does)
    // rewrites the SAME page names — the duplicate manifest de-dupes at
    // read, so the served numbers below must NOT double-count
    graft.ops.NestedOps.hourlyRollup(graft.ops.NestedOps.hourlyCents(
      Seq(ev(4, "2024-01-01 10:20:00", "click", 10.00),
          ev(5, "2024-01-02 09:00:00", "view", 3.00)).toDF()
        .withColumn("ts_us", org.apache.spark.sql.functions.expr(
          "unix_micros(cast(ts as timestamp))"))))
      .write.format("graft-sync").mode("append")
      .option("page-tag", "rollup-epoch-1").save(store)
    // j262's serve path, verbatim: re-compose partials by (type, hour),
    // then compose hours into days
    def served() = spark.read.format("graft-sync").load(store)
      .groupBy($"event_type", $"hour")
      .agg(fsum($"n").as("n"), fsum($"sc").as("sc"),
        fmin($"mn").as("mn"), fmax($"mx").as("mx"))
      .withColumn("day", expr("hour div 24"))
      .groupBy($"event_type", $"day")
      .agg(fsum($"n").as("n"), fsum($"sc").as("sc"),
        fmin($"mn").as("mn"), fmax($"mx").as("mx"),
        fcount(lit(1)).as("hb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    // 2024-01-01 = epoch day 19723; all three click events share hour
    // 473362 (ONE hour bucket despite three partial rows across two
    // generations); cents are exact
    val want = Map(
      ("click", 19723L) -> ((3L, 1375L, 125L, 1000L, 1L)),
      ("view", 19723L) -> ((1L, 400L, 400L, 400L, 1L)),
      ("view", 19724L) -> ((1L, 300L, 300L, 300L, 1L)))
    assert(served() === want)
    // r13: the nightly compaction folds the accumulated partial pages
    // into one snapshot page — the serve path must not notice
    graft.sources.GraftSyncMaintenance.compact(store)
    val manifestsAfter = new java.io.File(store).list()
      .count(_.startsWith("_manifest"))
    assert(manifestsAfter === 1, "compaction leaves one snapshot manifest")
    assert(served() === want, "i18 must stay green through a compaction")
  }

  test("i19 streaming TS: epoch partials through the page-tag sink compose to the batch TS answers, surviving replay and compaction") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("ts-store") + "/store"
    // the ordered change feed: fixture events sorted by (ts, event_id),
    // replayed in 3 contiguous slices — the CDC/metrics-feed contract
    // the RATE boundary-delta composition relies on
    val feed = Tables.events(spark, TestSpark.sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"ts", $"event_id")
      .collect()
      .map(r => Ev(r.getLong(0),
        java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](1)),
        r.getLong(2), r.getString(3), r.getDouble(4), ""))
    val mem = MemoryStream[Ev]
    val q = Sync.tsRollupSink(mem.toDF(), store, tmp("ts-ckpt"),
      Trigger.ProcessingTime(0))
    val slices = feed.grouped((feed.length + 2) / 3).toSeq
    try {
      slices.foreach { sl => mem.addData(sl.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // CRASH REPLAY: re-run epoch 1's append from the same slice under a
    // DIFFERENT shuffle layout — page-tag supersede must converge (the
    // scenario r12's advice flagged: name-keyed dedupe alone would
    // double-count these rows under their new page names)
    graft.ops.Esql.tsCellPartials(slices(1).toSeq.toDF().repartition(1))
      .write.format("graft-sync").mode("append")
      .option("page-tag", "ts-rollup-epoch-1").save(store)

    def dayStr(c: org.apache.spark.sql.Column) =
      date_format(timestamp_micros(c * lit(86400000000L)), "yyyy-MM-dd HH:mm:ss")
    // the two outer-aggregate twins of j249Query / j250Query over
    // composed cells (values cast to the batch surface's types)
    def serve(cells: org.apache.spark.sql.DataFrame) = {
      val a = cells.groupBy($"day")
        .agg(max($"mx").as("mx"), min($"mn").as("mn"), sum($"sc").as("tot"),
          sum($"n").as("nobs"), count($"n").as("nser"),
          round(max($"sc".cast("double") / $"n".cast("double")), 6).as("mxavg"),
          sum($"fv").as("sfirst"), sum($"lv").as("slast"))
        .orderBy($"day").limit(20)
        .select(dayStr($"day").as("day"), $"mx".cast("double"),
          $"mn".cast("double"), $"tot".cast("double"), $"nobs".cast("long"),
          $"nser".cast("long"), $"mxavg", $"sfirst".cast("double"),
          $"slast".cast("double"))
        .collect().map(_.toSeq).toSeq
      val b = cells.withColumn("r", $"pos".cast("double") / lit(86400.0))
        .groupBy($"day")
        .agg(round(max($"r"), 6).as("mxr"), round(min($"r"), 6).as("mnr"),
          count($"r").as("nrate"), count($"n").as("nser"))
        .orderBy($"day").limit(20)
        .select(dayStr($"day").as("day"), $"mxr", $"mnr",
          $"nrate".cast("long"), $"nser".cast("long"))
        .collect().map(_.toSeq).toSeq
      (a, b)
    }
    val b249 = graft.ops.Esql.compile(spark, TestSpark.sf0001, graft.ops.Esql.j249Query)
      .select($"day".cast("string"), $"mx".cast("double"), $"mn".cast("double"),
        $"tot".cast("double"), $"nobs".cast("long"), $"nser".cast("long"),
        $"mxavg".cast("double"), $"sfirst".cast("double"), $"slast".cast("double"))
      .collect().map(_.toSeq).toSeq
    val b250 = graft.ops.Esql.compile(spark, TestSpark.sf0001, graft.ops.Esql.j250Query)
      .select($"day".cast("string"), $"mxr".cast("double"), $"mnr".cast("double"),
        $"nrate".cast("long"), $"nser".cast("long"))
      .collect().map(_.toSeq).toSeq
    val composed = graft.ops.Esql.tsComposeCells(
      spark.read.format("graft-sync").load(store))
    val (s249, s250) = serve(composed)
    assert(s249 === b249, "streamed OVER_TIME family must equal the batch TS answer")
    assert(s250 === b250, "streamed RATE must equal the batch TS answer")
    assert(b250.exists(r => r(1) != null), "fixture must exercise non-null rates")
    assert(b250.exists(r => r(3).asInstanceOf[Long] < r(4).asInstanceOf[Long]),
      "fixture must exercise NULL-rate cells (nrate < nser)")
    // SEMANTIC COMPACTION: compose(compose(x)) = compose(x) — the
    // composed cells re-written as ONE store generation serve the same
    // answers (the nightly-compaction story: partial pages collapse to
    // composed rows without changing any answer)
    val store2 = tmp("ts-store2") + "/s2"
    composed.write.format("graft-sync").mode("overwrite").save(store2)
    val (c249, c250) = serve(graft.ops.Esql.tsComposeCells(
      spark.read.format("graft-sync").load(store2)))
    assert(c249 === b249 && c250 === b250,
      "a compacted store must serve identical answers")
  }

  test("i20 streaming: per-cell LWW sink composed over epochs equals batch i20") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = tmp("cell-lww") + "/snap"
    // the fixture events replayed in 3 slices — slicing CROSSES keys, so
    // many users have cells written in different epochs (the case the
    // compose must get right)
    val feed = Tables.events(spark, TestSpark.sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"ts", $"event_id")
      .collect()
      .map(r => Ev(r.getLong(0),
        java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](1)),
        r.getLong(2), r.getString(3), r.getDouble(4), ""))
    val mem = MemoryStream[Ev]
    val q = Sync.cellLwwSink(mem.toDF(), target, tmp("cell-lww-ckpt"),
      Trigger.ProcessingTime(0))
    try {
      feed.grouped((feed.length + 2) / 3)
        .foreach { sl => mem.addData(sl.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // serve the snapshot through the same presentation as batch i20
    val snap = spark.read.parquet(target)
    val streamed = snap.select($"user_id", $"status", $"status_ts_us",
        $"val_cents", $"val_ts_us", $"n_changes", $"row_ts_us",
        when($"s_ord".isNull || $"v_ord".isNull, 0)
          .when($"s_ord" =!= $"v_ord", 1).otherwise(0).as("split_writers"))
      .orderBy($"user_id").collect().map(_.toSeq).toSeq
    val batch = graft.ops.SyncOps.i20(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "epoch-composed cell states must equal the batch per-cell merge")
    // the semantic witness: the fixture must exercise split-writer keys —
    // the rows a row-granular LWW (i6) would get wrong
    assert(batch.exists(_.last == 1), "fixture must exercise split writers")
  }

  test("i19: tsComposeCells is deterministic when slices tie on first-timestamp") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Two single-sample slices of ONE cell sharing fts=lts=100 — fts
    // alone cannot order them, so lag(lv) (RATE's boundary delta) would
    // be partition-layout-dependent without the total tiebreak. The
    // total order (fts, lts, n, sc, …) puts sc=5 before sc=9: boundary
    // delta 9−5=4, fv=5, lv=9 — under EVERY layout.
    val slices = Seq(
      (1L, "click", 0L, 1L, 5L, 5L, 5L, 100L, 5L, 100L, 5L, Option.empty[Long]),
      (1L, "click", 0L, 1L, 9L, 9L, 9L, 100L, 9L, 100L, 9L, Option.empty[Long]))
      .toDF("user_id", "event_type", "day", "n", "sc", "mn", "mx",
        "fts", "fv", "lts", "lv", "pos")
    val expect = (1L, "click", 0L, 2L, 14L, 5L, 9L, 100L, 5L, 100L, 9L, Some(4L))
    for (layout <- Seq(slices.repartition(1), slices.repartition(7),
                       slices.repartition(3, $"lv"), slices.orderBy($"lv".desc))) {
      val got = graft.ops.Esql.tsComposeCells(layout)
        .as[(Long, String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Option[Long])]
        .collect().toSeq
      assert(got === Seq(expect), s"compose must not depend on slice layout")
    }
  }

  test("i6 streaming: checkpoint resume — a restarted query continues from stored offsets") {
    val spark = TestSpark.spark
    import spark.implicits._
    // file source (not MemoryStream: its offsets die with the process —
    // the file source's checkpoint is what survives a restart)
    val src = tmp("ckpt-src")
    val target = tmp("ckpt-target") + "/snap"
    val ckpt = tmp("ckpt-dir")
    Seq(Change(1, ts("2024-01-01 10:00:00"), 1, "v1")).toDF().write.mode("append").parquet(src)
    val q1 = Sync.lwwSink(Sync.changeStream(spark, src), target, ckpt,
      Trigger.ProcessingTime(0))
    try { q1.processAllAvailable() } finally q1.stop()
    // "process restart": a NEW query on the SAME checkpoint; new data arrives
    Seq(Change(1, ts("2024-01-01 11:00:00"), 2, "v2"),
        Change(3, ts("2024-01-01 10:30:00"), 3, "x1")).toDF().write.mode("append").parquet(src)
    val q2 = Sync.lwwSink(Sync.changeStream(spark, src), target, ckpt,
      Trigger.ProcessingTime(0))
    try {
      q2.processAllAvailable()
      val snap = spark.read.parquet(target)
        .select($"key", $"payload").as[(Long, String)].collect().toMap
      assert(snap === Map(1L -> "v2", 3L -> "x1")) // old batch NOT replayed, new merged
    } finally q2.stop()
  }

  test("curateStream: checkpoint resume restores the dedup state — no re-emission") {
    val spark = TestSpark.spark
    import spark.implicits._
    val src = tmp("curate-src")
    val out = tmp("curate-out")
    val ckpt = tmp("curate-ckpt")
    val corpus = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val evalDocs = Seq((0L, "secret bench mark question answer key")).toDF("doc_id", "text")
    val docSchema = org.apache.spark.sql.Encoders.product[Doc].schema
    def run() = {
      val (clean, release) = Sync.curateStreamReleasable(
        spark.readStream.schema(docSchema).parquet(src), corpus, evalDocs)
      (clean.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start(), release)
    }
    Seq(Doc(1, "one two three four five six", ts("2024-01-01 10:00:00")))
      .toDF().write.mode("append").parquet(src)
    val (q1, release1) = run()
    try q1.processAllAvailable() finally { q1.stop(); release1() }
    // "process restart": same checkpoint, new files — the re-sent copy of
    // doc 1 must be suppressed by the RESTORED watermark-dedup state, not
    // re-emitted; the fresh doc 7 flows through
    Seq(Doc(1, "one two three four five six", ts("2024-01-01 10:01:00")),
        Doc(7, "seven eight nine ten eleven twelve", ts("2024-01-01 10:01:30")))
      .toDF().write.mode("append").parquet(src)
    val (q2, release2) = run()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).select($"doc_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 7L)) // doc 1 exactly once, across the restart
    } finally { q2.stop(); release2() }
  }

  test("i8: sessionizer finalizes sessions only once the watermark passes their gap") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = Sync.sessionize(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("i8_out").outputMode("append").start()
    try {
      // key 1: two events 10 min apart (one session), then an event 2h
      // later. The jump does NOT emit the first session by itself — the
      // watermark (12:30 - 30m = 12:00) passing 10:40 does.
      mem.addData(
        Change(1, ts("2024-01-01 10:00:00"), 1, "a"),
        Change(1, ts("2024-01-01 10:10:00"), 2, "b"),
        Change(1, ts("2024-01-01 12:30:00"), 3, "c"))
      q.processAllAvailable()
      val afterBatch1 = spark.table("i8_out")
        .select($"key", $"session_start".cast("string"), $"session_end".cast("string"), $"n")
        .as[(Long, String, String, Long)].collect().toSet
      assert(afterBatch1 === Set(
        (1L, "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2L)))
      // advance the watermark far past 12:30 + 30min via another key:
      // the still-open session must close by EventTimeTimeout.
      mem.addData(Change(2, ts("2024-01-01 15:00:00"), 4, "d"))
      q.processAllAvailable()
      mem.addData(Change(2, ts("2024-01-01 18:00:00"), 5, "e"))
      q.processAllAvailable()
      val all = spark.table("i8_out")
        .select($"key", $"session_start".cast("string"), $"session_end".cast("string"), $"n")
        .as[(Long, String, String, Long)].collect().toSet
      assert(all.contains((1L, "2024-01-01 12:30:00", "2024-01-01 13:00:00", 1L)),
        s"timeout-closed session missing: $all")
    } finally q.stop()
  }

  test("i8: a late in-watermark event in a later batch bridges two open sessions") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = Sync.sessionize(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("i8_bridge").outputMode("append").start()
    try {
      // batch 1: 10:10 and 10:45 — two separate open sessions (gap 35m);
      // watermark after batch 1 = 10:15, so neither can be finalized yet.
      mem.addData(
        Change(1, ts("2024-01-01 10:10:00"), 1, "a"),
        Change(1, ts("2024-01-01 10:45:00"), 2, "b"))
      q.processAllAvailable()
      // batch 2: out-of-order 10:30 (>= watermark) BRIDGES them into one.
      mem.addData(Change(1, ts("2024-01-01 10:30:00"), 3, "c"))
      q.processAllAvailable()
      // flush via another key pushing the watermark past 11:15
      mem.addData(Change(2, ts("2024-01-01 13:00:00"), 4, "d"))
      q.processAllAvailable()
      mem.addData(Change(2, ts("2024-01-01 16:00:00"), 5, "e"))
      q.processAllAvailable()
      val got = spark.table("i8_bridge").filter($"key" === 1)
        .select($"session_start".cast("string"), $"session_end".cast("string"), $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got === Set(("2024-01-01 10:10:00", "2024-01-01 11:15:00", 3L)),
        s"late bridge broken: $got")
    } finally q.stop()
  }

  test("i8: an out-of-order event before the open session's start lowers session_start") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = Sync.sessionize(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("i8_ooo").outputMode("append").start()
    try {
      mem.addData(Change(1, ts("2024-01-01 12:00:00"), 1, "a"))
      q.processAllAvailable() // watermark 11:30
      mem.addData(Change(1, ts("2024-01-01 11:35:00"), 2, "b")) // above wm
      q.processAllAvailable()
      mem.addData(Change(2, ts("2024-01-01 15:00:00"), 3, "c"))
      q.processAllAvailable()
      mem.addData(Change(2, ts("2024-01-01 18:00:00"), 4, "d"))
      q.processAllAvailable()
      val got = spark.table("i8_ooo").filter($"key" === 1)
        .select($"session_start".cast("string"), $"session_end".cast("string"), $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got === Set(("2024-01-01 11:35:00", "2024-01-01 12:30:00", 2L)),
        s"out-of-order start not lowered: $got")
    } finally q.stop()
  }

  test("i8 agrees with the built-in session_window on a replayed batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic multi-key event set with gaps around the 30-min edge
    val data = for {
      k <- 1L to 5L; i <- 0L until 20L
    } yield Change(k, new java.sql.Timestamp(
      ts("2024-01-01 00:00:00").getTime + k * 97000 + i * i * 137000), i, "p")
    val mem = MemoryStream[Change]
    val q = Sync.sessionize(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("i8_cmp").outputMode("append").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      // flush everything still open past the watermark
      mem.addData(Change(99, ts("2024-03-01 00:00:00"), 0, "flush"))
      q.processAllAvailable()
      mem.addData(Change(99, ts("2024-04-01 00:00:00"), 1, "flush2"))
      q.processAllAvailable()
      val custom = spark.table("i8_cmp")
        .filter($"key" =!= 99)
        .select($"key", $"session_start".cast("string"), $"session_end".cast("string"), $"n")
        .as[(Long, String, String, Long)].collect().toSet
      val builtin = data.toDF()
        .groupBy(session_window($"ts", "30 minutes"), $"key")
        .agg(count(lit(1)).as("n"))
        .select($"key", $"session_window.start".cast("string"),
          $"session_window.end".cast("string"), $"n")
        .as[(Long, String, String, Long)].collect().toSet
      assert(custom === builtin)
      assert(custom.nonEmpty)
    } finally q.stop()
  }

  test("i9: stream-stream interval join pairs same-key changes within the window") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Change]
    val memR = MemoryStream[Change]
    val q = Sync.intervalJoin(memL.toDF(), memR.toDF(), windowMinutes = 60)
      .writeStream.format("memory").queryName("i9_out").outputMode("append").start()
    try {
      memL.addData(
        Change(1, ts("2024-01-01 12:00:00"), 10, "l1"),
        Change(2, ts("2024-01-01 12:00:00"), 11, "l2"))
      memR.addData(
        Change(1, ts("2024-01-01 11:30:00"), 20, "in-window"),
        Change(1, ts("2024-01-01 10:30:00"), 21, "too-old"),
        Change(1, ts("2024-01-01 12:30:00"), 22, "after-left"),
        Change(3, ts("2024-01-01 11:45:00"), 23, "other-key"))
      q.processAllAvailable()
      val got = spark.table("i9_out")
        .select($"key", $"l_uid", $"r_uid").as[(Long, Long, Long)].collect().toSet
      // only key 1's 11:30 row is within [11:00, 12:00] of l1
      assert(got === Set((1L, 10L, 20L)))
    } finally q.stop()
  }

  test("i15: outer stream-stream join emits unmatched left rows only after the watermark closes them") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Change]
    val memR = MemoryStream[Change]
    val q = Sync.intervalJoinOuter(memL.toDF(), memR.toDF(), windowMinutes = 60)
      .writeStream.format("memory").queryName("i15_out").outputMode("append").start()
    try {
      memL.addData(
        Change(1, ts("2024-01-01 12:00:00"), 10, "matched"),
        Change(2, ts("2024-01-01 12:00:00"), 11, "no-match"))
      memR.addData(
        Change(1, ts("2024-01-01 11:30:00"), 20, "in-window"))
      q.processAllAvailable()
      // before the watermark closes key 2's row, it must NOT be emitted
      // null-extended — an early null would be speculative and wrong
      val early = spark.table("i15_out")
        .filter($"key" === 2).count()
      assert(early === 0L, "null-extended row emitted before the watermark proved no match")
      // advance both watermarks far past 12:00 + lateness; the extra
      // batch lets the join evict and emit the closed left row
      memL.addData(Change(9, ts("2024-01-01 15:00:00"), 90, "wm"))
      memR.addData(Change(9, ts("2024-01-01 15:00:00"), 91, "wm"))
      q.processAllAvailable()
      memL.addData(Change(9, ts("2024-01-01 16:00:00"), 92, "wm2"))
      memR.addData(Change(9, ts("2024-01-01 16:00:00"), 93, "wm2"))
      q.processAllAvailable()
      val got = spark.table("i15_out")
        .select($"key", $"l_uid",
          coalesce($"r_uid", lit(-1L)).as("r_uid"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got.contains((1L, 10L, 20L)), s"matched pair missing: $got")
      assert(got.contains((2L, 11L, -1L)), s"null-extended left row missing: $got")
    } finally q.stop()
  }

  test("i10: transformWithState sessionizer (RocksDB state store) matches i8 semantics") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Change]
    val q = Sync.sessionizeTws(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("i10_out").outputMode("append").start()
    try {
      // same scenario as the i8 bridge test: out-of-order 10:30 in batch 2
      // must merge the two open sessions from batch 1 into one
      mem.addData(
        Change(1, ts("2024-01-01 10:10:00"), 1, "a"),
        Change(1, ts("2024-01-01 10:45:00"), 2, "b"))
      q.processAllAvailable()
      mem.addData(Change(1, ts("2024-01-01 10:30:00"), 3, "c"))
      q.processAllAvailable()
      mem.addData(Change(2, ts("2024-01-01 13:00:00"), 4, "d"))
      q.processAllAvailable()
      mem.addData(Change(2, ts("2024-01-01 16:00:00"), 5, "e"))
      q.processAllAvailable()
      val got = spark.table("i10_out").filter($"key" === 1)
        .select($"session_start".cast("string"), $"session_end".cast("string"), $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got === Set(("2024-01-01 10:10:00", "2024-01-01 11:15:00", 3L)),
        s"tws sessionizer diverged: $got")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel's final state equals the batch j153 row for every user") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // full fixture event log, event-time ordered (the funnelStream
    // ordering contract), replayed in three microbatches
    val evs = Tables.eventsUs(spark, TestSpark.sf0001)
      .select($"user_id", $"event_type", $"ts_us")
      .orderBy($"ts_us")
      .as[Sync.FunnelEvent].collect()
    val batch = SparkEntry.queries("j153_event_funnel")(spark, TestSpark.sf0001)
      .collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) -1L else r.getLong(i)
        (r.getLong(0), opt(1), opt(2), opt(3),
          r.getLong(r.fieldIndex("stage")))
      }.sortBy(_._1)
    val mem = MemoryStream[Sync.FunnelEvent]
    val q = Sync.funnelStream(mem.toDF())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      evs.grouped(math.max(1, evs.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      // last emission per user = the user's final funnel state
      val got = spark.table("funnel_out")
        .withColumn("seq", org.apache.spark.sql.functions
          .monotonically_increasing_id())
        .orderBy($"seq")
        .collect()
        .groupBy(_.getLong(0)).map { case (u, rs) =>
          val r = rs.last
          (u, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        }.toSeq.sortBy(_._1)
      assert(got === batch.toSeq)
      // and the fixture funnel does real attrition through the stream too
      assert(got.map(_._5).groupBy(identity).view.mapValues(_.size).toMap ===
        Map(1L -> 9, 2L -> 3, 3L -> 3))
    } finally q.stop()
  }

  test("streaming EQL sequence emits exactly the batch j168 rows (maxspan + until across batches)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.eventsUs(spark, TestSpark.sf001)
      .select($"user_id", $"event_type", $"ts_us")
      .orderBy($"ts_us")
      .as[Sync.FunnelEvent].collect()
    val batch = SparkEntry.queries("j168_eql_sequence")(spark, TestSpark.sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    val mem = MemoryStream[Sync.FunnelEvent]
    val q = Sync.sequenceStream(mem.toDF())
      .writeStream.format("memory").queryName("seq_out")
      .outputMode("update").start()
    try {
      evs.grouped(math.max(1, evs.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      // a completed user emits exactly ONE row — the set, not just the
      // last emission, must equal the batch result
      val got = spark.table("seq_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(_._1)
      assert(got.toSeq === batch.toSeq)
      assert(got.nonEmpty) // 10 completing users at sf0.01 — not vacuous
    } finally q.stop()
  }

  test("streaming EQL at NON-default maxspan/until (j228: 12h, signup) emits exactly the batch rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.eventsUs(spark, TestSpark.sf001)
      .select($"user_id", $"event_type", $"ts_us")
      .orderBy($"ts_us")
      .as[Sync.FunnelEvent].collect()
    val batch = SparkEntry.queries("j228_eql_maxspan_until")(spark, TestSpark.sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    val mem = MemoryStream[Sync.FunnelEvent]
    // the same knobs the batch rule carries — pinned at non-default
    // values so the parameters can't silently drift between engines
    val q = Sync.sequenceStream(mem.toDF(),
        spanUs = 43200000000L, untilType = "signup")
      .writeStream.format("memory").queryName("seq228_out")
      .outputMode("update").start()
    try {
      evs.grouped(math.max(1, evs.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("seq228_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(_._1)
      assert(got.toSeq === batch.toSeq)
      assert(got.nonEmpty) // 30 completing users at sf0.01 — not vacuous
    } finally q.stop()
  }

  test("streaming reset-after-match EQL emits exactly the batch j199 rows (every completion, multi-batch)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.eventsUs(spark, TestSpark.sf001)
      .select($"user_id", $"event_type", $"ts_us")
      .orderBy($"ts_us")
      .as[Sync.FunnelEvent].collect()
    val batch = SparkEntry.queries("j199_eql_sequence_multi")(spark, TestSpark.sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    val mem = MemoryStream[Sync.FunnelEvent]
    val q = Sync.sequenceMultiStream(mem.toDF())
      .writeStream.format("memory").queryName("seqm_out")
      .outputMode("update").start()
    try {
      evs.grouped(math.max(1, evs.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("seqm_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(t => (t._1, t._2))
      assert(got.toSeq === batch.toSeq)
      // the reset genuinely binds: at least one key emits a 2nd sequence,
      // so this is a strict superset of what sequenceStream can emit
      assert(got.exists(_._2 >= 2L), got.mkString(", "))
    } finally q.stop()
  }

  test("i16: an ES|QL pipeline runs on the change stream unchanged and equals its batch twin") {
    val spark = TestSpark.spark
    import spark.implicits._
    // one pipeline text, two execution surfaces — the SAME stage
    // compiler folds it onto the batch table and the unbounded reader
    val pipeline =
      """FROM events
        || WHERE event_type == "purchase" AND value >= 10
        || EVAL cents = ROUND(value * 100), hour = DATE_TRUNC(1 hour, ts)
        || STATS n = COUNT(*), sum_cents = SUM(cents) BY hour""".stripMargin
    val batch = graft.ops.Esql.compile(spark, TestSpark.sf0001, pipeline)
      .select($"hour".cast("string"), $"n", $"sum_cents")
      .as[(String, Long, Long)].collect().toSet
    val q = graft.ops.Esql.compileStream(spark, TestSpark.sf0001, pipeline)
      .writeStream.format("memory").queryName("esql_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("esql_stream")
        .select($"hour".cast("string"), $"n", $"sum_cents")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed.size > 10) // ~30 days × purchase hours — not vacuous
    } finally q.stop()
  }

  test("i17: ES|QL ENRICH on the change stream is a stream-static broadcast join and equals its batch twin") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the enrichment pipeline every live dashboard runs: filter the
    // stream, derive the lookup key, ENRICH from the static dimension,
    // aggregate per enriched attribute — one pipeline text, compiled
    // onto the batch table and the unbounded reader by the SAME stages
    val pipeline =
      """FROM events
        || WHERE event_type == "click"
        || EVAL n_nationkey = user_id % 25
        || ENRICH nation ON n_nationkey WITH n_name
        || STATS clicks = COUNT(*), cents = SUM(ROUND(value * 100)) BY n_name""".stripMargin
    val batch = graft.ops.Esql.compile(spark, TestSpark.sf0001, pipeline)
      .as[(String, Long, Long)].collect().toSet
    val q = graft.ops.Esql.compileStream(spark, TestSpark.sf0001, pipeline)
      .writeStream.format("memory").queryName("esql_enrich_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("esql_enrich_stream")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed.size > 3) // several nations at sf0.001 — not vacuous
    } finally q.stop()
  }

  test("i17b: the COMPLETION inference stage runs on the change stream unchanged") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the round-11 inference stage is row-local by construction, so the
    // live-summarization pipeline streams through the SAME compiler —
    // extending the i16 stateless-stage contract to the inference stage
    val pipeline =
      """FROM events
        || WHERE event_type == "purchase"
        || EVAL p = CONCAT(event_type, " ", TO_STRING(ROUND(value * 100)), " ", event_type)
        || COMPLETION summary = p WITH live_model
        || STATS n = COUNT(*) BY summary""".stripMargin
    val batch = graft.ops.Esql.compile(spark, TestSpark.sf0001, pipeline)
      .as[(String, Long)].collect().toSet
    val q = graft.ops.Esql.compileStream(spark, TestSpark.sf0001, pipeline)
      .writeStream.format("memory").queryName("esql_completion_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("esql_completion_stream")
        .as[(String, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed.size > 10) // per-value summaries — not vacuous
    } finally q.stop()
  }

  test("a5: parquet directory consumed as an unbounded stream") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = tmp("stream-src")
    Seq(Change(1, ts("2024-01-01 10:00:00"), 1, "a"))
      .toDF().write.mode("append").parquet(dir)
    val q = Sync.changeStream(spark, dir)
      .writeStream.format("memory").queryName("a5_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("a5_out").count() === 1L)
      Seq(Change(2, ts("2024-01-01 10:05:00"), 2, "b"))
        .toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("a5_out").count() === 2L)
    } finally q.stop()
  }
}
