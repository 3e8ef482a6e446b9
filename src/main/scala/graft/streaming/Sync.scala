package graft.streaming

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig}
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The reference's bidirectional sync loop, made declarative on Structured
  * Streaming.
  *
  * Reference shape (reconstructed — the mount was empty, SURVEY.md §0/§3.1):
  * a periodic loop reads each side's changes where
  * `update_ts > last_sync_watermark` and applies them to the other side iff
  * newer (last-write-wins). Here:
  *
  *   - the change feed          → `readStream` (file source / MemoryStream)
  *   - `ts > watermark` scan    → source offsets + `withWatermark`
  *   - apply-iff-newer          → [[mergeLww]] inside `foreachBatch`
  *   - the external watermark   → the streaming checkpoint
  *
  * [[mergeLww]] is idempotent and associative over batches (property-tested
  * in SyncPropertiesSpec), which is what makes the loop safe under
  * at-least-once delivery and replayed microbatches — the same property the
  * reference gets from ES versioning / `USING TIMESTAMP` on Cassandra.
  *
  * Scale: the merge is one shuffle on the key; state per key is one row.
  * On a 1000-executor cluster the base snapshot would be a bucketed table
  * on `key` so the union+window never reshuffles the (much larger) base.
  */
object Sync {

  /** Change-feed schema: key, update timestamp, payload. */
  val changeSchema: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("ts", TimestampType),
    StructField("uid", LongType),
    StructField("payload", StringType)))

  /** a5 — treat a directory of parquet change files as an unbounded stream. */
  def changeStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(changeSchema).parquet(dir)

  /** LWW merge: newest row per key wins; ties broken by uid so the merge is
    * total-ordered and deterministic. Works on batch or inside foreachBatch.
    *
    * Deletes propagate: a NULL payload is a tombstone, and if the winner
    * is a tombstone the key disappears from the [[liveView]]. This is the
    * extension the reference lacks (SURVEY §1.1 — deletes were believed
    * unhandled): tombstones participate in the same total order, so
    * late-arriving updates older than the delete stay deleted, and the
    * merge keeps its idempotence/batch-split properties.
    *
    * Note: the snapshot must RETAIN winning tombstones for the reference's
    * retention window (or forever, absent compaction) — dropping them
    * immediately would resurrect a key if an older update replays later.
    * [[compactTombstones]] is the explicit retention step.
    */
  def mergeLww(base: DataFrame, delta: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts").desc, col("uid").desc)
    base.unionByName(delta)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Drop tombstones older than the given watermark — safe because the
    * stream can no longer deliver rows with ts below it. */
  def compactTombstones(snapshot: DataFrame, watermark: java.sql.Timestamp): DataFrame =
    snapshot.filter(col("payload").isNotNull || col("ts") > lit(watermark))

  /** The user-facing view of a snapshot with tombstones: live keys only. */
  def liveView(snapshot: DataFrame): DataFrame =
    snapshot.filter(col("payload").isNotNull)

  /** TTL-aware read view (batch i14's semantics on the sync snapshot):
    * rows whose per-row TTL has lapsed as of `asOf` are invisible — C*'s
    * read-path expiry filter, applied BEFORE compaction ever purges them.
    * `ttlSecCol` holds the row's TTL in seconds; NULL or 0 means "never
    * expires" (C* `TTL 0`). Composes with [[liveView]]: tombstones and
    * expiry both hide a row, and a newer write with its own TTL makes the
    * key visible again (each write carries its own expiry, exactly C*).
    * Pure row-local arithmetic — no state, no extra exchange. */
  def liveViewTtl(snapshot: DataFrame, ttlSecCol: String,
      asOf: java.sql.Timestamp): DataFrame =
    liveView(snapshot).filter(
      col(ttlSecCol).isNull || col(ttlSecCol) === 0 ||
        expr(s"timestampadd(SECOND, $ttlSecCol, ts)") > lit(asOf))

  /** Typed change row for the custom-state operators (same shape as
    * [[changeSchema]]). */
  case class ChangeRow(key: Long, ts: Timestamp, uid: Long, payload: String)

  /** One gap-session interval (epoch millis). */
  case class SessionState(start: Long, end: Long, n: Long)

  /** Per-key state: ALL sessions not yet finalized by the watermark. */
  case class SessionSet(sessions: Seq[SessionState])

  /** A finalized session, emitted once its gap has passed the watermark. */
  case class ClosedSession(key: Long, session_start: Timestamp,
      session_end: Timestamp, n: Long)

  /** i9 — stream-stream interval join: each left change paired with right
    * changes for the same key within [left.ts - window, left.ts]. Both
    * sides carry watermarks and the join condition bounds event time in
    * both directions, so Spark can expire buffered state — the ONLY shape
    * under which an unbounded stream-stream join runs with finite memory.
    * This is the streaming form of the c9 range join (enrich a change with
    * its recent counterpart on the other store). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 60, lateness: String = "10 minutes"): DataFrame =
    intervalJoinOf(left, right, windowMinutes, lateness, "inner")

  /** i15 — the LEFT OUTER twin of [[intervalJoin]]: unmatched left rows
    * ARE emitted, but only once the right-side watermark proves no
    * match can still arrive (r_ts ≤ l_ts is the match's upper bound, so
    * a left row is closable when the watermark passes l_ts + lateness)
    * — Structured Streaming's outer stream-stream join contract. Until
    * then the row sits in the join state; the null-extended output is
    * therefore watermark-delayed, never speculative (StreamingSpec
    * drives this with a watermark-advancing later batch). State per
    * side is bounded by the interval + lateness horizon, keyed in the
    * state store — same bound as the inner form. */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 60, lateness: String = "10 minutes"): DataFrame =
    intervalJoinOf(left, right, windowMinutes, lateness, "left_outer")

  /** The i9/i15 body: both sides watermarked by `lateness`, right rows
    * matched within `windowMinutes` at or before the left row, joined by
    * `joinType`. */
  private def intervalJoinOf(left: DataFrame, right: DataFrame,
      windowMinutes: Int, lateness: String, joinType: String): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col("key"), col("ts").as("l_ts"), col("uid").as("l_uid"))
    val r = right.withWatermark("ts", lateness)
      .select(col("key").as("r_key"), col("ts").as("r_ts"), col("uid").as("r_uid"))
    l.join(r,
      col("key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("r_ts") <= col("l_ts"),
      joinType)
      .select(col("key"), col("l_ts"), col("l_uid"), col("r_ts"), col("r_uid"))
  }

  /** i8 — arbitrary-state sessionization via flatMapGroupsWithState: per-key
    * gap sessions, finalized ONLY when the event-time watermark passes a
    * session's end + gap (EventTimeTimeout). This is the custom-state
    * codepath session_window (i3) compiles to internally — exposed here for
    * state machines the built-in can't express (the reference's per-key
    * sync cursor).
    *
    * A session must never be emitted merely because a later event jumped
    * past the gap in the same batch: an out-of-order event still above the
    * watermark may arrive in a LATER microbatch and bridge (or extend) it —
    * so the state holds the full set of open sessions, late events merge by
    * standard interval merging, and only watermark-expired sessions are
    * emitted. Output therefore matches i3's batch `session_window`
    * (start = first event, end = last event + gap) even for out-of-order
    * multi-batch feeds.
    *
    * Scale: state per key is one row per open session within the watermark
    * horizon (bounded by gap + lateness), partitioned by key in the state
    * store; no shuffle beyond the groupBy.
    */
  private def closeSession(key: Long, s: SessionState, gapMs: Long) =
    ClosedSession(key, new Timestamp(s.start), new Timestamp(s.end + gapMs), s.n)

  /** Merge intervals whose gap overlaps (input need not be sorted). */
  private def mergeSessions(ss: Seq[SessionState], gapMs: Long): Seq[SessionState] =
    ss.sortBy(_.start).foldLeft(Vector.empty[SessionState]) { (acc, s) =>
      acc.lastOption match {
        case Some(p) if s.start - p.end <= gapMs =>
          acc.init :+ SessionState(p.start, math.max(p.end, s.end), p.n + s.n)
        case _ => acc :+ s
      }
    }

  def sessionize(changes: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    changes
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[ChangeRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionSet, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[ChangeRow], state: GroupState[SessionSet]) =>
          val prev = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val fresh = rows.map(r => SessionState(r.ts.getTime, r.ts.getTime, 1)).toSeq
          val merged = mergeSessions(prev ++ fresh, gapMs)
          val wm = state.getCurrentWatermarkMs()
          val (expired, open) = merged.partition(_.end + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionSet(open))
            // fire when the earliest open session can be finalized; the
            // timeout timestamp must sit strictly beyond the watermark
            state.setTimeoutTimestamp(math.max(open.map(_.end).min + gapMs, wm + 1))
          }
          expired.sortBy(_.start).map(closeSession(key, _, gapMs)).iterator
      }
      .toDF()
  }

  /** i10 — the same watermark-correct sessionization on Spark 4's
    * transformWithState (StatefulProcessor + ListState + event-time
    * timers), the successor API to flatMapGroupsWithState: typed state
    * variables instead of one opaque blob, explicit timers instead of a
    * single timeout slot, and the RocksDB state store. Output is pinned
    * equal to [[sessionize]] by test.
    *
    * Requires `spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider` on the session running the stream. */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, ChangeRow, ClosedSession] {
    @transient private var sessions: ListState[SessionState] = _
    @transient private var armedTimer: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sessions = getHandle.getListState[SessionState](
        "sessions", org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
      armedTimer = getHandle.getValueState[Long](
        "armedTimer", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Expire what the watermark allows; re-arm ONE timer for the rest.
      * The previously armed timer is deleted first — registerTimer alone
      * would accumulate one timer per batch for a hot key, each firing a
      * spurious (if idempotent) sweep later. */
    private def sweep(key: Long, incoming: Seq[SessionState],
        timers: TimerValues): Iterator[ClosedSession] = {
      val merged = mergeSessions(sessions.get().toSeq ++ incoming, gapMs)
      val wm = timers.getCurrentWatermarkInMs()
      val (expired, open) = merged.partition(_.end + gapMs <= wm)
      sessions.clear()
      if (armedTimer.exists()) {
        getHandle.deleteTimer(armedTimer.get())
        armedTimer.clear()
      }
      if (open.nonEmpty) {
        sessions.put(open.toArray)
        val at = math.max(open.map(_.end).min + gapMs, wm + 1)
        getHandle.registerTimer(at)
        armedTimer.update(at)
      }
      expired.sortBy(_.start).map(closeSession(key, _, gapMs)).iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[ChangeRow],
        timers: TimerValues): Iterator[ClosedSession] =
      sweep(key, rows.map(r => SessionState(r.ts.getTime, r.ts.getTime, 1)).toSeq, timers)

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedSession] =
      sweep(key, Seq.empty, timers)
  }

  def sessionizeTws(changes: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    changes
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[ChangeRow]
      .groupByKey(_.key)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** i4 — event-time windowed count that drops late data past the
    * watermark (append mode emits only finalized windows). */
  def windowedCounts(changes: DataFrame, gap: String = "10 minutes"): DataFrame =
    changes
      .withWatermark("ts", gap)
      .groupBy(window(col("ts"), "1 hour"), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("key"), col("n"))

  /** i5 — exactly-once effect over an at-least-once feed: drop duplicate
    * uids within the watermark horizon. */
  def dedupWithinWatermark(changes: DataFrame, gap: String = "10 minutes"): DataFrame =
    changes
      .withWatermark("ts", gap)
      .dropDuplicatesWithinWatermark("uid")

  /** Streaming decontamination — the j22 batch operator on the change
    * feed: each incoming document (doc_id, text, ts) is checked against a
    * STATIC eval-benchmark shingle set; contaminated docs are emitted
    * once. The eval side is tiny (benchmarks are MBs) and explicitly
    * broadcast, so the stream side never shuffles for the probe — the
    * same plan shape as batch j22 (PipelineOps.j22 / PLANS.md). Verdict
    * dedup is watermark-bounded (dropDuplicatesWithinWatermark), so
    * per-doc state is reclaimed once the doc's event time ages out. */
  def decontaminateStream(docs: DataFrame, evalDocs: DataFrame,
      gap: String = "10 minutes"): DataFrame = {
    val evalSh = evalShingleHashes(evalDocs)
    docs
      .withWatermark("ts", gap)
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("ts"), explode(expr(shingleHashArr("toks"))).as("shh"))
      .join(broadcast(evalSh), Seq("shh"), "left_semi")
      .select(col("doc_id"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** Per-row 3-token shingle array (distinct), from a token-array column —
    * the array-form twin of the exploded shingle relations in
    * TextOps/PipelineOps, for places that must stay narrow (streaming).
    * Every stream operator derives from this (and hashes via
    * [[shingleHashArr]]); the n-gram itself comes from
    * TextOps.shingle3 — the engine-wide single source shared with the
    * batch dedup relations, so an n-gram change cannot diverge between
    * the batch and streaming paths. */
  private def shingleArr(toksCol: String): String =
    s"""array_distinct(transform(sequence(1, size($toksCol) - 2),
       |  i -> ${graft.ops.TextOps.shingle3(toksCol)}))""".stripMargin

  private val ShingleArr = shingleArr("toks")

  /** 64-bit-hashed form of [[shingleArr]] — the probe-key shape shared by
    * decontaminateStream / curateStreamReleasable (and PipelineOps.shingleDf's
    * shh column on the batch side). */
  private def shingleHashArr(toksCol: String): String =
    s"transform(${shingleArr(toksCol)}, x -> xxhash64(x))"

  /** The eval/benchmark corpus as one distinct relation of 64-bit shingle
    * hashes — the static side both decontamination operators probe. */
  private def evalShingleHashes(evalDocs: DataFrame): DataFrame =
    evalDocs
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(shingleHashArr("toks"))).as("shh"))
      .distinct()

  /** Add j12-identical MinHash columns m0..m7 to a frame holding a shingle
    * ARRAY column — computed per row with array arithmetic, no aggregation
    * (the streaming-safe form of j12's groupBy-min). Two md5 passes per
    * row (salt 0/1), each 32-hex digest sliced into four 8-hex hashes. */
  private def withRowMinhash(df: DataFrame, shCol: String): DataFrame = {
    val hashed = df
      .withColumn("mh0", expr(s"transform($shCol, x -> md5(concat('0:', x)))"))
      .withColumn("mh1", expr(s"transform($shCol, x -> md5(concat('1:', x)))"))
    (0 to 7).foldLeft(hashed) { (d, i) =>
      d.withColumn(s"m$i", array_min(expr(
        s"transform(mh${i / 4}, x -> substring(x, ${i % 4 * 8 + 1}, 8))")))
    }.drop("mh0", "mh1")
  }

  /** j12's 4×2 banding over m0..m7 as (band, sig) rows. */
  private val BandRows = s"explode(${graft.ops.PipelineOps.BandArray})"

  /** Incremental near-duplicate detection on the change feed — the
    * streaming complement of the batch MinHash-LSH pass (PipelineOps.j12):
    * every arriving document is checked against the EXISTING corpus
    * without a doc×doc join and without re-scanning the corpus per batch.
    * Emits one (doc_id, ts, cand_id, jaccard) verdict per detected pair,
    * deduplicated within the watermark horizon.
    *
    * Static side, computed once per query (re)start from the corpus
    * snapshot: the banded signature index (4 bands × 2 hashes, the exact
    * j12 construction) and the per-doc shingle arrays for verification.
    * Stream side: signatures are computed per ROW (array arithmetic — a
    * narrow, aggregation-free transform, so the stream needs no shuffle
    * before the probe), banded, and equi-joined against the index;
    * band collisions are verified with an exact array-intersect Jaccard.
    *
    * Scale: both probe joins are stream-static equi-joins — the static
    * side is planned once (broadcast while the index fits, shuffle-hash
    * beyond), and per microbatch only the arriving rows move; there is no
    * growing join state because the static side never changes mid-query.
    * Corpus growth = restart against a refreshed snapshot (source offsets
    * live in the checkpoint); at 100 TB the index and shingle sets become
    * bucketed tables on their join keys so even the static shuffle is a
    * one-time build.
    *
    * Returns the stream and a release thunk that unpersists the two
    * static-side caches (shingle table + band index) — call it after
    * stopping the query. The restart-against-refreshed-snapshot pattern
    * otherwise accumulates one orphaned cache pair per restart unless the
    * caller remembers a blanket `spark.catalog.clearCache()` (ADVICE r3). */
  def lshDedupStreamReleasable(docs: DataFrame, corpus: DataFrame,
      gap: String = "10 minutes"): (DataFrame, () => Unit) = {
    // persist BOTH static frames: a stream-static join re-executes the
    // static plan every microbatch, so without the cache each batch would
    // re-scan and re-minhash the whole corpus twice (once per join) —
    // per-batch cost must stay O(arriving rows). The caches live for the
    // query's lifetime; release via the returned thunk (USAGE §3b).
    val corpusSh = corpus
      .select(col("doc_id").as("cand_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("cand_id"), expr(ShingleArr).as("csh"))
      .persist()
    val bandIndex = withRowMinhash(corpusSh, "csh")
      .select(col("cand_id"), expr(BandRows).as("b"))
      .select(col("cand_id"), col("b.band").as("band"), col("b.sig").as("sig"))
      .persist()
    val stream = withRowMinhash(
      docs.withWatermark("ts", gap)
        .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .withColumn("dsh", expr(ShingleArr)),
      "dsh")
      .select(col("doc_id"), col("ts"), col("dsh"), expr(BandRows).as("b"))
      .select(col("doc_id"), col("ts"), col("dsh"),
        col("b.band").as("band"), col("b.sig").as("sig"))
    val out = stream
      .join(bandIndex, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("cand_id")) // a re-synced doc is not its own dup
      // candidate-pair dedup BEFORE the verify join (batch j12's candidate
      // discipline, ADVICE r3): an exact copy collides in all 4 bands and
      // would otherwise run the corpusSh join + array_intersect 4× per
      // pair. The dedup key includes a CONTENT signature (hash of the
      // shingle set): a doc re-synced with UPDATED text is a new
      // candidate that must re-verify — keying on (doc_id, cand_id)
      // alone would suppress it and miss its duplicates. Watermark-
      // bounded state; a plain dropDuplicates would never age out.
      .select(col("doc_id"), col("ts"), col("dsh"), col("cand_id"))
      .withColumn("dsig", xxhash64(concat_ws("\u0000",
        expr("transform(dsh, x -> cast(x AS STRING))"))))
      .dropDuplicatesWithinWatermark("doc_id", "cand_id", "dsig")
      .join(corpusSh, "cand_id")
      .withColumn("inter", size(array_intersect(col("dsh"), col("csh"))))
      // filter on the UNROUNDED value (matching batch j12's gate exactly —
      // rounding first would admit pairs in [0.4999995, 0.5)), round only
      // for display
      .withColumn("jac", col("inter") /
        (size(col("dsh")) + size(col("csh")) - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_id"), col("ts"), col("cand_id"),
        graft.ops.Parity.round6(col("jac")).as("jaccard"))
      // emission contract: one verdict per pair within the watermark (two
      // versions of a re-sent doc can both clear the gate above)
      .dropDuplicatesWithinWatermark("doc_id", "cand_id")
    (out, () => { corpusSh.unpersist(); bandIndex.unpersist(); () })
  }

  /** Incremental SemDeDup on an embedding change feed — the streaming
    * complement of the batch cluster-then-dedup pass (PipelineOps.j53),
    * and the third streaming dedup surface beside the shingle-LSH
    * ([[lshDedupStreamReleasable]]) and exact-hash (curateStreamReleasable's first gate)
    * paths: every arriving VECTOR is checked for semantic duplicates
    * against the existing corpus without a vec×vec join.
    *
    * Static side, computed once per query (re)start from the corpus
    * snapshot: the j53 clustering (K=8 seeds + one Lloyd step) yields
    * (a) the refined centroid matrix, aggregated to ONE row so the
    * stream can take it as a broadcast column, and (b) the clustered
    * corpus index (cluster, cand_id, member vector + norm). Stream
    * side: nearest-centroid assignment is a per-ROW fold over the
    * broadcast matrix (array_max over per-centroid cosine structs,
    * centroid-id tiebreak — no aggregation, no shuffle), then one
    * stream-static equi-join probes ONLY the assigned cluster's members
    * and verifies with exact cosine ≥ 0.35.
    *
    * Scale: per microbatch only arriving rows move; the probe join is
    * keyed on the cluster id, so at 100 TB the corpus index becomes a
    * table bucketed by cluster and a batch's vectors touch only their
    * clusters' buckets. Corpus growth = restart against a refreshed
    * snapshot (the [[lshDedupStreamReleasable]] pattern); K grows with the corpus
    * (SemDeDup uses 50k clusters for LAION) which only shrinks the
    * probed fraction.
    *
    * Returns the stream and a release thunk for its static-side caches
    * (centroid frame + centroid row + clustered index) — call after
    * query.stop(). */
  def semDedupStreamReleasable(vecs: DataFrame, corpus: DataFrame,
      gap: String = "10 minutes"): (DataFrame, () => Unit) = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val e = corpus.select(col("vec_id"), col("embedding"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("nrm"))
    val (fin, ca0) = graft.ops.PipelineOps.semClusterAssign(e)
    // persist the K-row centroid frame FIRST: both static caches below
    // (index via fin's final assignment, caRow via the aggregate) read
    // it, and without the cache each would re-run the whole clustering —
    // seeds, assignment window, Lloyd aggregation — from scratch
    val ca = ca0.persist()
    val index = fin
      .select(col("cluster"), col("vec_id").as("cand_id"),
        col("embedding").as("cvm"), col("nrm").as("cnm"))
      .persist()
    // K centroid rows → ONE row carrying the whole matrix: the argmax
    // fold below handles ties by centroid id, so collect_list's order
    // nondeterminism cannot change an assignment
    val caRow = ca
      .agg(collect_list(struct(col("cluster"), col("cv"), col("cnrm"))).as("cents"))
      .persist()
    val out = vecs
      .withWatermark("ts", gap)
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
      .crossJoin(broadcast(caRow))
      // nearest centroid, per row: max over (cosine, -cluster) structs —
      // highest cosine wins, ties take the smallest centroid id
      .withColumn("pick", expr(
        """array_max(transform(cents, s -> named_struct(
          |  'cs', aggregate(sequence(1, 64), CAST(0 AS DOUBLE),
          |          (a, i) -> a + CAST(element_at(embedding, i) AS DOUBLE) *
          |                    element_at(s.cv, i)) / (nrm * s.cnrm),
          |  'negcl', -s.cluster)))""".stripMargin))
      .select(col("vec_id"), col("ts"), col("embedding"), col("nrm"),
        (-col("pick.negcl")).as("cluster"))
      .join(index, "cluster")
      .filter(col("vec_id") =!= col("cand_id")) // a re-synced vector is not its own dup
      .withColumn("cos", expr("vec_dot(embedding, cvm)") / (col("nrm") * col("cnm")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_id"), col("ts"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      // emission contract: one verdict per pair within the watermark
      // (the [[lshDedupStreamReleasable]] discipline)
      .dropDuplicatesWithinWatermark("vec_id", "cand_id")
    (out, () => { index.unpersist(); caRow.unpersist(); ca.unpersist(); () })
  }

  /** The curation gates in incremental form — the per-document filters of
    * [[graft.ops.CurationOps.curate]] applied to the change feed, so a
    * corpus kept continuously in sync (the reference's whole purpose)
    * gets training-set hygiene on arrival instead of by periodic
    * re-batch. A doc survives iff it passes ALL of:
    *
    *   - exact-dup gate: its md5(text) is not already in the corpus
    *     snapshot (stream-static anti-join on the hash), and in-feed
    *     copies of the same text collapse to one survivor — the emission
    *     dedup keys on the content hash, not the doc id
    *   - repetition gate: dup-2-gram fraction ≤ 0.10
    *     ([[graft.ops.CurationOps.repetitionStats]] — narrow ops, so the
    *     same transformer runs unchanged on the stream)
    *   - quality gate: the fixed-weight classifier logit above the 0.8
    *     decision boundary ([[graft.ops.CurationOps.qualityLogit]] — the
    *     SAME Column definition batch curate gates on, evaluated per row)
    *   - decontamination gate: shared-shingle ratio vs the eval set
    *     < 0.30 (j22's ratio, computed per ROW against the collected
    *     eval hash array — the eval set is MBs by assumption, so it
    *     rides a one-row broadcast)
    *
    * Survivors are emitted once (watermark-bounded dedup) with their gate
    * stats as provenance columns. Near-dup screening is deliberately NOT
    * inline: it needs the collision join + verify of [[lshDedupStreamReleasable]],
    * whose verdicts arrive per PAIR — run it alongside and feed its
    * verdicts to a quarantine/delete downstream, the usual asynchronous
    * dedup shape. Domain mixing and shuffle-sharding stay batch concerns
    * (corpus-level counts / a total order) and run at training-set
    * export time.
    *
    * Returns the stream and a release thunk for its two static-side caches
    * (corpus content-hash set + eval shingle array) — call after stopping
    * the query; same contract as [[lshDedupStreamReleasable]]. */
  def curateStreamReleasable(docs: DataFrame, corpus: DataFrame,
      evalDocs: DataFrame, gap: String = "10 minutes"): (DataFrame, () => Unit) = {
    // static sides: persist — stream-static joins re-execute the static
    // plan each microbatch (same discipline as lshDedupStreamReleasable)
    val corpusHashes = corpus
      .select(md5(col("text")).as("content_hash")).distinct().persist()
    // one-row broadcast of the eval hash set. Cost note: the per-row
    // array_intersect below scans this array per surviving doc — right
    // for benchmark-suite eval sets (10⁴–10⁵ shingles); for an unusually
    // large eval corpus, use the binary decontaminateStream (explode +
    // broadcast semi-join, O(doc shingles) per row) on the feed and the
    // batch j22 ratio at export time instead.
    val evalArr = evalShingleHashes(evalDocs)
      .agg(collect_set(col("shh")).as("eval_shh"))
      .persist()
    val gated = graft.ops.CurationOps.repetitionStats(
      docs.withWatermark("ts", gap), keepTokens = true)
      .filter(col("keep") === 1).drop("keep", "d3")
      .withColumn("quality", graft.ops.CurationOps.qualityLogit(col("text")))
      .filter(col("quality") > graft.ops.CurationOps.qualityCut)
      .withColumn("content_hash", md5(col("text")))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .withColumn("__shh", when(col("n_toks") >= 3,
        expr(shingleHashArr("__toks")))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")))
      .drop("__toks")
      .crossJoin(broadcast(evalArr))
      .withColumn("contamination", when(size(col("__shh")) > 0,
        size(array_intersect(col("__shh"), col("eval_shh"))).cast("double") /
          size(col("__shh"))).otherwise(lit(0.0)))
      .filter(col("contamination") < 0.30)
    val out = gated
      .select(col("content_hash"), col("doc_id"), col("ts"), col("text"),
        graft.ops.Parity.round6(col("d2")).as("dup2_frac"), col("quality"),
        graft.ops.Parity.round6(col("contamination")).as("contamination"))
      // keyed on the CONTENT hash, not doc_id: in-feed exact duplicates
      // (same text under a new id) must collapse to one survivor, exactly
      // as batch exactDedup would — and a re-sent doc collapses with them
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("content_hash")
    (out, () => { corpusHashes.unpersist(); evalArr.unpersist(); () })
  }

  /** Streaming twin of j43 — the ES percolator on the change feed: match
    * each arriving document against the stored queries (AND-semantics
    * term sets from [[graft.ops.SearchOps.percolateQueries]] by default —
    * one term table shared with the batch operator so the two paths
    * cannot drift) and emit one (doc_id, ts, query_id) row per match.
    *
    * Scale shape: completely stateless — the query table rides a
    * broadcast and containment (`forall` over the term array vs the
    * doc's DISTINCT token set) evaluates inside the row, so the operator
    * needs no watermark, no state store, and re-partitions nothing.
    * Unlike batch j43's inverted (term-indexed) evaluation, the per-doc
    * cost here is O(|queries| × terms-per-query) membership probes —
    * the right trade at percolator-set sizes in the reference's class
    * (tens–hundreds of saved searches); a percolator holding thousands
    * of queries should instead pre-filter candidates through j43's
    * broadcast term join, at the price of a stateful aggregation. */
  def percolateStream(docs: DataFrame,
      queries: Seq[(String, Seq[String])] =
        graft.ops.SearchOps.percolateQueries): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.toDF("query_id", "terms")
    docs
      // distinct once per row: every query term then probes the deduped
      // set, not the raw (repetition-heavy) token array
      .select(col("doc_id"), col("ts"),
        array_distinct(split(col("text"), " ")).as("toks"))
      .join(broadcast(qt), expr("forall(terms, t -> array_contains(toks, t))"))
      .select(col("doc_id"), col("ts"), col("query_id"))
  }

  /** j56 streaming form — chunking at ingest, the production place for
    * it: each arriving document splits into its overlapping token windows
    * (64/48 defaults) before hitting the index/training sink, with every
    * non-text column (doc_id, ts, …) carried onto each chunk row.
    *
    * Scale shape: literally the batch transformer applied to the stream —
    * [[graft.ops.PipelineOps.chunkOverlap]] is row-local (a per-row
    * generate + slice, zero exchanges), so it is trivially streamable:
    * no watermark, no state store, any output mode; batch/stream parity
    * holds by construction because there is ONE implementation. */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.ops.PipelineOps.chunkOverlap(docs)

  /** j115/j133 streaming form — the Gopher rule battery as an ingest
    * gate: arriving documents that fail any of the four rules are dropped
    * before they reach the corpus, with the per-rule flags carried as
    * provenance columns (what [[curateStreamReleasable]] does for the logit gate,
    * here for the rule battery).
    *
    * Scale shape: stateless — every rule is row-local arithmetic over the
    * token array ([[graft.ops.CorpusQualityOps]]'s flag Columns, the SAME
    * definitions j115 reports on and j133 funnels by, so batch and stream
    * verdicts cannot drift); no watermark, no state store, any output
    * mode. The n_chars the rules consume is derived as length(text) —
    * on the fixture the two are identical (CurateSpec pins the
    * invariant) — but it is computed under a scratch name and a
    * caller-supplied n_chars column survives untouched (r6 ADVICE: the
    * gate must not consume columns it did not produce). */
  def gopherGateStream(docs: DataFrame): DataFrame = {
    import graft.ops.CorpusQualityOps._
    // every derived column the rules consume is computed under a scratch
    // name: caller-supplied columns of the same names survive untouched
    // (r6 ADVICE + r7 review — the first fix protected only n_chars)
    val scratch = Seq("toks", "n_chars")
    val present = scratch.filter(docs.columns.contains)
    val base = present.foldLeft(docs) { (f, c) =>
      f.withColumnRenamed(c, s"_gate_orig_$c")
    }
    val gated = base
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_chars", length(col("text")))
      .withColumn("wc_ok", wcOk)
      .withColumn("mwl_ok", mwlOk)
      .withColumn("stop_ok", stopOk)
      .withColumn("short_ok", shortOk)
      .filter(col("wc_ok") && col("mwl_ok") && col("stop_ok") && col("short_ok"))
      .drop("toks", "n_chars")
    present.foldLeft(gated) { (f, c) =>
      f.withColumnRenamed(s"_gate_orig_$c", c)
    }
  }

  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  case class FunnelSt(t1: Long, t2: Long, t3: Long)
  case class FunnelProgress(user_id: Long, t1_us: Long, t2_us: Long,
      t3_us: Long, stage: Long)

  /** j153 streaming form — the ordered view→click→purchase funnel as a
    * live per-user state machine (flatMapGroupsWithState, Update mode):
    * each user's state is the three step timestamps (-1 = not reached);
    * a row is emitted whenever a user advances. The transition rules are
    * j153's verbatim — step strictly after the previous step's FIRST
    * completion and within the 12 h window — so on an event-time-ordered
    * feed the final emission per user equals the batch funnel row
    * (StreamingSpec pins the equality on the full fixture).
    *
    * Ordering contract: rows are sorted within each microbatch, so
    * intra-batch disorder cannot flip the greedy update; ACROSS batches
    * the per-key feed must be event-time ordered (true of a keyed log
    * like the fixture's). A deployment on an out-of-order feed would
    * buffer events to the watermark horizon before applying them — the
    * sessionize pattern above — at the cost of holding the horizon in
    * state; the greedy machine is the right trade for ordered logs
    * because its state is three longs per user, not an event buffer.
    *
    * Scale shape: state = 24 bytes/user in the state store, partitioned
    * by user; no shuffle beyond the groupByKey. */
  def funnelStream(events: DataFrame,
      windowUs: Long = 43200000000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_type"), col("ts_us"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelSt]) =>
          val before = state.getOption.getOrElse(FunnelSt(-1L, -1L, -1L))
          var st = before
          rows.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
            if (e.event_type == "view" && st.t1 < 0)
              st = st.copy(t1 = e.ts_us)
            else if (e.event_type == "click" && st.t1 >= 0 && st.t2 < 0 &&
                e.ts_us > st.t1 && e.ts_us <= st.t1 + windowUs)
              st = st.copy(t2 = e.ts_us)
            else if (e.event_type == "purchase" && st.t2 >= 0 && st.t3 < 0 &&
                e.ts_us > st.t2 && e.ts_us <= st.t2 + windowUs)
              st = st.copy(t3 = e.ts_us)
          }
          if (st == before) Iterator.empty
          else {
            state.update(st)
            val stage = if (st.t3 >= 0) 3L else if (st.t2 >= 0) 2L else 1L
            Iterator.single(FunnelProgress(key, st.t1, st.t2, st.t3, stage))
          }
      }.toDF()
  }

  case class SeqMultiSt(n: Long, views: List[Long], clicks: List[Long],
      errors: List[Long])
  case class SeqMultiMatch(user_id: Long, seq_n: Long, t1_us: Long,
      t2_us: Long, t3_us: Long, span_s: Long)

  /** j168 streaming form — EQL `sequence by user_id with maxspan [view]
    * [click] [purchase] until [error]`: the FIRST match per key of
    * [[sequenceMultiStream]] (`seq_n = 1`, with `seq_n` dropped). Up to
    * a key's first match the two machines are one machine: the same
    * candidate test, the same maxspan horizon prune, the same emitted
    * row (latest start, then earliest middle — the batch j168 tiebreak
    * verbatim). StreamingSpec replays the full fixture log and pins the
    * emission set equal to batch j168 row for row.
    *
    * DELIBERATE RESTRICTION (matches batch j168, NOT full ES EQL): at
    * most one sequence is emitted per key. After its first match a key
    * keeps [[sequenceMultiStream]]'s state — horizon-bounded candidate
    * lists and the match counter, not an empty parked record — and its
    * later matches are filtered out.
    *
    * Ordering contract: intra-batch rows are sorted before folding;
    * across batches the per-key feed must be event-time ordered (the
    * funnelStream contract). */
  def sequenceStream(events: DataFrame,
      spanUs: Long = 21600000000L,
      untilType: String = "error"): DataFrame =
    // maxspan + until are the rule's parameters here exactly as in the
    // batch fragment (NestedOps.seqEarliest) — StreamingSpec pins batch
    // ≡ stream at NON-default values (j228: 12h/signup), so the knobs
    // cannot drift between the two engines
    sequenceMultiStream(events, spanUs, untilType)
      .filter(col("seq_n") === 1L).drop("seq_n")

  /** j199 streaming form — EQL `sequence by user_id with maxspan [view]
    * [click] [purchase] until [error]` with ES EQL's real
    * reset-after-match semantics, as a live per-user NFA
    * (flatMapGroupsWithState, Update mode). Unlike [[funnelStream]]'s
    * greedy first-step machine, EQL's earliest-COMPLETION semantics
    * needs candidate tracking: the state holds the user's view/click/
    * error timestamps inside the trailing maxspan horizon (pruned every
    * event — the state bound is events-per-maxspan-window, exactly the
    * bound a real EQL engine carries). Each arriving purchase is tested
    * against the candidates (some view with a click strictly between,
    * span within maxspan, no error inside the open interval); a
    * completing purchase emits the match (latest start, then earliest
    * middle — the batch tiebreak verbatim) and CLEARS the candidate
    * lists (nothing at or before the matching purchase can join a later
    * sequence), so every greedy non-overlapping completion is emitted,
    * numbered `seq_n` per key by the persisted counter. Semantics mirror
    * batch [[graft.ops.NestedOps.j199]] exactly — each arriving purchase
    * is tested against the candidates accumulated since the last match,
    * which is precisely the batch fixpoint's "events strictly after the
    * previous t3" restriction; StreamingSpec replays the fixture log
    * multi-batch and pins the emission set equal to batch j199 row for
    * row. [[sequenceStream]] is this machine's first match per key. */
  def sequenceMultiStream(events: DataFrame,
      spanUs: Long = 21600000000L,
      untilType: String = "error"): DataFrame = {
    require(!Set("view", "click", "purchase")(untilType),
      s"until type '$untilType' collides with a sequence step")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_type"), col("ts_us"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqMultiSt, SeqMultiMatch](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[FunnelEvent], state: GroupState[SeqMultiSt]) =>
          var st = state.getOption.getOrElse(SeqMultiSt(0L, Nil, Nil, Nil))
          val out = scala.collection.mutable.ListBuffer.empty[SeqMultiMatch]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
            e.event_type match {
              case "view" => st = st.copy(views = e.ts_us :: st.views)
              case "click" => st = st.copy(clicks = e.ts_us :: st.clicks)
              case t if t == untilType =>
                st = st.copy(errors = e.ts_us :: st.errors)
              case "purchase" =>
                val p = e.ts_us
                val valid = st.views.filter(v => p - v <= spanUs &&
                  st.clicks.exists(c => c > v && c < p) &&
                  !st.errors.exists(te => te > v && te < p))
                if (valid.nonEmpty) {
                  val t1 = valid.max
                  val t2 = st.clicks.filter(c => c > t1 && c < p).min
                  st = SeqMultiSt(st.n + 1L, Nil, Nil, Nil) // reset-after-match
                  out += SeqMultiMatch(key, st.n, t1, t2, p, (p - t1) / 1000000L)
                }
              case _ => ()
            }
            // prune to the maxspan horizon: a candidate older than
            // ts − maxspan can never satisfy p − v ≤ maxspan later
            val h = e.ts_us - spanUs
            st = st.copy(views = st.views.filter(_ >= h),
              clicks = st.clicks.filter(_ >= h),
              errors = st.errors.filter(_ >= h))
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  /** Streaming twin of i13 — CONTINUOUS reconciliation: each change
    * arriving on the source feed is checked against the replica snapshot
    * and emitted with its divergence class, instead of waiting for the
    * periodic full-store diff. `missing_in_target` = the replica has no
    * row for the key yet (the sync loop is behind); `checksum_mismatch` =
    * the replica's row differs (a divergent update to repair); `in_sync`
    * rows are suppressed by default — a verify feed reports problems.
    *
    * Row identity is [[graft.ops.SyncOps.eventChecksum]] — the SAME
    * definition batch i13 compares, so the periodic and continuous
    * surfaces cannot disagree. (`missing_in_source` — replica orphans —
    * is structurally a replica-side scan concern: a row the source never
    * sends can't appear on the change feed; that class stays with the
    * batch sweep.)
    *
    * Scale shape: the replica snapshot is reduced to (key, checksum) and
    * persisted (stream-static joins re-execute the static plan per
    * microbatch — the lshDedupStreamReleasable discipline); the probe is a keyed
    * left join per arriving row; emission is watermark-deduped per
    * (key, checksum) so a re-sent unchanged row reports once.
    *
    * Returns the stream and the static-cache release thunk (the
    * `...Releasable` contract shared with lshDedupStreamReleasable and
    * curateStreamReleasable). */
  def syncDiffStreamReleasable(changes: DataFrame, replica: DataFrame,
      emitInSync: Boolean = false, gap: String = "10 minutes")
      : (DataFrame, () => Unit) = {
    val replicaCs = graft.ops.SyncOps.eventChecksum(replica)
      .select(col("event_id"), col("cs").as("cs_t")).persist()
    val classified = graft.ops.SyncOps.eventChecksum(
      changes.withWatermark("ts", gap))
      .join(replicaCs, Seq("event_id"), "left")
      .withColumn("status",
        when(col("cs_t").isNull, "missing_in_target")
          .when(col("cs") =!= col("cs_t"), "checksum_mismatch")
          .otherwise("in_sync"))
    val out = (if (emitInSync) classified
      else classified.filter(col("status") =!= "in_sync"))
      .select(col("event_id"), col("ts"), col("event_type"), col("status"),
        col("cs"))
      .dropDuplicatesWithinWatermark("event_id", "cs")
      .drop("cs")
    (out, () => { replicaCs.unpersist(); () })
  }

  /** Compose per-key per-CELL LWW states (the i20 slice schema —
    * graft.ops.SyncOps.cellMergeSlice): each cell re-resolves by argmax
    * over the slices' own write stamps, counts add, the row stamp maxes.
    * compose ∘ compose = compose (same schema in and out), which is what
    * lets [[cellLwwSink]] fold any number of micro-batches — and any
    * future compaction rewrite — without changing the served answer. */
  def cellCompose(states: DataFrame): DataFrame =
    states.groupBy(col("user_id")).agg(
      max_by(col("status"), col("s_ord")).as("status"),
      max(col("status_ts_us")).as("status_ts_us"),
      max(col("s_ord")).as("s_ord"),
      max_by(col("val_cents"), col("v_ord")).as("val_cents"),
      max(col("val_ts_us")).as("val_ts_us"),
      max(col("v_ord")).as("v_ord"),
      sum(col("n_changes")).as("n_changes"),
      max(col("row_ts_us")).as("row_ts_us"))

  /** Runs `f` on each micro-batch of `df` and its epoch id, checkpointed
    * at `checkpointDir`. The micro-batch reaches `f` on `df`'s own session,
    * not on the clone the query runs in (its plan is foreachBatch's
    * `LogicalRDD`, so no row is copied): Spark's generated-code cache is
    * keyed by the tasks' classloader, and each started query's clone runs
    * its jobs under a fresh artifact classloader, so work planned on the
    * clone recompiled every class in every new query (DESIGN.md, "One
    * session for a sink's per-batch work"). */
  private def eachBatch(df: DataFrame, checkpointDir: String, trigger: Trigger)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.outputMode("append").option("checkpointLocation", checkpointDir)
      .trigger(trigger).foreachBatch { (batch: DataFrame, epochId: Long) =>
        f(GraftShim.ofRows(df.sparkSession, batch.queryExecution.logical), epochId)
      }.start()

  /** Snapshot state of the three LWW sinks, one protocol for all of
    * them. A round writes the new state to `<dir>.tmp` (Spark's job commit,
    * or the last step of [[commitSnapshot]]'s copy, marks it complete with
    * `_SUCCESS`), then swaps it in: delete `<dir>`,
    * rename `<dir>.tmp`. Offsets commit after the sink, so a crash replays
    * the round. Recovery, before every read: a missing `<dir>` beside a
    * complete `<dir>.tmp` is a swap that died between delete and rename,
    * so the rename is finished; any other `<dir>.tmp` is an uncommitted
    * write the replay overwrites. Returns `None` only when no snapshot
    * exists; one that cannot be read, or whose columns are not `columns`,
    * fails the batch and is left as it is.
    *
    * The schema comes from the data files' parquet footers
    * ([[snapshotFooters]]), so the read plans without a schema-inference
    * job. */
  private[graft] def readSnapshot(spark: SparkSession, dir: String,
      columns: Seq[String]): Option[DataFrame] =
    snapshotFooters(spark, dir, columns).map { case (schema, _) =>
      spark.read.schema(schema).parquet(dir)
    }

  /** Rows of the snapshot at `dir` (0 when there is none), summed from its
    * parquet footers on the driver: no Spark job. Recovers and refuses as
    * [[readSnapshot]] does. */
  private[graft] def snapshotRows(spark: SparkSession, dir: String,
      columns: Seq[String]): Long =
    snapshotFooters(spark, dir, columns).fold(0L)(_._2)

  /** The key under which Spark's parquet writer stores the row schema in
    * every file footer. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Recovery as in [[readSnapshot]], then the footer of every data file
    * of `dir` (a name not starting with `_` or `.`, the rule of Spark's
    * file index): the Spark schema they all carry and their summed row
    * count. No data file, an unreadable footer, a footer without Spark's
    * schema, footers that disagree, or columns other than `columns` fail
    * with the refusal and touch nothing. */
  private def snapshotFooters(spark: SparkSession, dir: String,
      columns: Seq[String]): Option[(StructType, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path) && fs.exists(new Path(tmpOf(dir), "_SUCCESS"))) swapIn(fs, dir)
    if (!fs.exists(path)) None
    else {
      def refuse(found: String, cause: Throwable = null) = new IllegalStateException(
        s"snapshot $dir $found but the sink needs [${columns.mkString(", ")}] — " +
          "refusing to overwrite existing state; point the snapshot at a fresh directory",
        cause)
      val files = fs.listStatus(path).toSeq.filterNot { f =>
        val name = f.getPath.getName
        name.startsWith("_") || name.startsWith(".")
      }
      if (files.isEmpty) throw refuse("has no data file")
      val footers = files.map { f =>
        val name = f.getPath.getName
        val footer =
          try {
            // options built from `conf`: the plain builder makes a fresh
            // configuration per file, ~10 ms each
            val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
              HadoopReadOptions.builder(conf, f.getPath).build())
            try reader.getFooter finally reader.close()
          } catch { case NonFatal(e) =>
            throw refuse(s"cannot be read ($name)", e) }
        val json = Option(footer.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
          .getOrElse(throw refuse(s"has a data file without Spark's schema ($name)"))
        (json, footer.getBlocks.asScala.map(_.getRowCount).sum)
      }
      if (footers.map(_._1).distinct.size > 1)
        throw refuse("has data files that disagree on the schema")
      val schema =
        try DataType.fromJson(footers.head._1).asInstanceOf[StructType]
        catch { case NonFatal(e) => throw refuse("cannot be read", e) }
      if (schema.fieldNames.toSeq != columns)
        throw refuse(s"has columns [${schema.fieldNames.mkString(", ")}]")
      Some((schema, footers.map(_._2).sum))
    }
  }

  /** Commit `df` to every one of `dirs` ([[readSnapshot]] has the
    * protocol): all `<dir>.tmp` are complete before any is swapped in, so
    * no write reads a snapshot that has already been replaced. `df` is
    * written once, to `<dirs.head>.tmp`; every other `<dir>.tmp` is a
    * file copy of it, data files first and `_SUCCESS` last. */
  private def commitSnapshot(df: DataFrame, dirs: Seq[String]): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    df.write.mode("overwrite").parquet(tmpOf(dirs.head))
    dirs.tail.foreach(dir => copyDir(conf, tmpOf(dirs.head), tmpOf(dir)))
    dirs.foreach(dir => swapIn(new Path(dir).getFileSystem(conf), dir))
  }

  /** Replaces `to` by a copy of the written snapshot directory `from`:
    * its data files (the names [[snapshotFooters]] reads), then its
    * `_SUCCESS` marker, so a copy cut short has no marker and
    * [[readSnapshot]] treats it as an uncommitted write. */
  private def copyDir(conf: org.apache.hadoop.conf.Configuration, from: String,
      to: String): Unit = {
    val (src, dst) = (new Path(from), new Path(to))
    val (srcFs, dstFs) = (src.getFileSystem(conf), dst.getFileSystem(conf))
    if (dstFs.exists(dst) && !dstFs.delete(dst, true))
      throw new java.io.IOException(s"snapshot commit: could not delete $to")
    if (!dstFs.mkdirs(dst))
      throw new java.io.IOException(s"snapshot commit: could not create $to")
    val data = srcFs.listStatus(src).toSeq.map(_.getPath).filterNot { f =>
      f.getName.startsWith("_") || f.getName.startsWith(".")
    }
    (data :+ new Path(src, "_SUCCESS")).foreach { f =>
      if (!FileUtil.copy(srcFs, f, dstFs, new Path(dst, f.getName), false, conf))
        throw new java.io.IOException(s"snapshot commit: could not copy $f to $to")
    }
  }

  private def tmpOf(dir: String): String = dir + ".tmp"

  private def swapIn(fs: FileSystem, dir: String): Unit = {
    val path = new Path(dir)
    if (fs.exists(path) && !fs.delete(path, true))
      throw new java.io.IOException(s"snapshot commit: could not delete $dir")
    if (!fs.rename(new Path(tmpOf(dir)), path))
      throw new java.io.IOException(s"snapshot commit: could not rename ${tmpOf(dir)} to $dir")
  }

  /** i20 streaming form — Cassandra's per-CELL LWW as the sync loop's
    * upsert: each microbatch of events (the eventsStream shape) folds to
    * per-key cell states (SyncOps.cellMergeSlice — the SAME aggregate as
    * batch i20, so the conflict rule cannot drift), then composes into
    * the parquet snapshot at `targetDir` by per-cell argmax. Contrast
    * [[lwwSink]]: the row-granular merge keeps ONE winning change per
    * key; this merge keeps one winning change PER CELL — a losing row's
    * newer cells survive, which is C*'s actual WRITETIME semantics.
    * State commits and recovers by [[readSnapshot]]'s protocol; a snapshot
    * without the cell-state columns fails the batch. */
  def cellLwwSink(events: DataFrame, targetDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(events, checkpointDir, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val slice = graft.ops.SyncOps.cellMergeSlice(
        graft.ops.SyncOps.cellChangesFrom(
          batch.withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))))
      val merged = readSnapshot(spark, targetDir, slice.columns)
        .fold(slice)(b => cellCompose(b.unionByName(slice)))
      commitSnapshot(merged, Seq(targetDir))
    }

  /** Generic per-CELL LWW merge over WIDE rows — the wire loop's form of
    * i20's conflict rule. Input rows carry `keyCol`, a `ts` bigint (the
    * poll cursor), and for every data column `c` a stamp column `c_wt`
    * (epoch-µs bigint; NULL = this row does not carry that cell). Each
    * cell resolves independently to the value under the greatest stamp;
    * a stamp tie goes to the value whose CQL bytes compare greater
    * unsigned ([[graft.sources.CqlProtocol.orderKey]]: −1 beats 1, as in
    * C*), and a live value beats a NULL/tombstone at an equal stamp (the
    * rule the CQL stub shares; USAGE `merge: cell`). Output has the same
    * shape as the input (compose ∘ compose = compose), which is what lets
    * [[cellSyncSink]] fold any number of micro-batches and re-merge
    * snapshots.
    *
    * Scale shape: ONE keyed aggregation, [[CellMerge]], with constant
    * state per key: a map-side partial aggregate, one shuffle on the key
    * (none at all once the snapshot is bucketed on it) and a final
    * aggregate, planned as ObjectHashAggregate — no sort, no window, no
    * join. */
  def mergeCellLww(rows: DataFrame, keyCol: String,
      dataCols: Seq[String]): DataFrame =
    mergeCells(rows.withColumn(StoreCol, lit(0)), keyCol, dataCols)
      .drop(CellMerge.Relay, CellMerge.Differs, CellMerge.HeldBy)

  /** The per-cell snapshot layout — [[mergeCellLww]]'s input and output
    * columns: the key, the poll cursor `ts`, then each cell and its
    * `<cell>_wt` stamp. */
  def cellColumns(keyCol: String, dataCols: Seq[String]): Seq[String] =
    keyCol +: "ts" +: dataCols.flatMap(c => Seq(c, s"${c}_wt"))

  /** The column that tags a [[cellSyncSink]] row with the store that
    * sent it; null for a committed snapshot row. */
  private val StoreCol = "_graft_store"

  /** [[mergeCellLww]] over rows tagged by [[StoreCol]], by [[CellMerge]]:
    * its three flags follow the merged columns. */
  private[graft] def mergeCells(rows: DataFrame, keyCol: String,
      dataCols: Seq[String]): DataFrame = {
    require(dataCols.nonEmpty, "mergeCellLww needs at least one data column")
    val inputs = (cellColumns(keyCol, dataCols).tail :+ StoreCol).map(col)
    val merge = GraftShim.aggregate(inputs)(CellMerge(_, dataCols))
    // the aggregate's own result projection unpacks its struct, so no
    // projection runs after it
    val out = cellColumns(keyCol, dataCols).tail ++ Seq(CellMerge.Relay, CellMerge.Differs,
      CellMerge.HeldBy)
    val fields = out.map(f => merge.getField(f).as(f))
    rows.groupBy(col(keyCol)).agg(fields.head, fields.tail: _*)
  }

  /** The wire loop's per-cell sink (SyncJob `merge: cell`): `feeds` are
    * the stores' change feeds, store `i` being `feeds(i)`; each
    * micro-batch of their wide change rows folds by [[mergeCellLww]] into
    * the parquet snapshot(s), and `writeback(i, rows)` receives the merged
    * rows of the keys this batch CHANGED that store `i` does not already
    * hold — SyncJob writes them to that store; it is not called for a
    * store with none. A key whose every incoming row already equals its
    * committed snapshot row (same cells, same stamps) is the echo of an
    * earlier relay and is relayed to no store. Otherwise it is relayed to
    * every store except one whose own rows are its only incoming rows and
    * are one cell tuple equal to the merged row: that store read exactly
    * the merged row, and a later local write there carries a newer stamp,
    * so it reaches the next batch (DESIGN.md, "A store is not sent a row
    * it already holds").
    *
    * The snapshots are rewritten only when some merged row differs from
    * its committed row in a cell, a stamp or the cursor `ts`, or when a
    * `<dir>.tmp` of `snapshotDirs` is left over; a batch that changes no
    * row (an echo whose rows equal the snapshot) commits nothing.
    *
    * The writeback runs BEFORE the snapshots are replaced, so a
    * committed snapshot row always implies its relay landed: a crash
    * before the commit replays the batch against the old snapshot and
    * relays again (both relays are idempotent); a crash after it replays
    * against the new one, whose rows the stores already hold. Identical
    * batches re-merge to identical snapshots, so a replayed round
    * converges on every surface (the guarantee lwwSink gives
    * row-granular). State commits and recovers by [[readSnapshot]]'s
    * protocol, based on `snapshotDirs.head`: a crash between two swaps
    * leaves the head new and the next `<dir>.tmp` behind, so the replay
    * changes no row yet still rewrites every directory. A snapshot with
    * other columns (a reconfigured `cells:` list pointed at an old state
    * dir) fails loudly. */
  def cellSyncSink(feeds: Seq[DataFrame], keyCol: String, dataCols: Seq[String],
      snapshotDirs: Seq[String], checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      writeback: (Int, DataFrame) => Unit): StreamingQuery = {
    require(feeds.nonEmpty, "cellSyncSink needs at least one store feed")
    val columns = cellColumns(keyCol, dataCols)
    import CellMerge.{Differs, HeldBy, Relay}
    val tagged = feeds.zipWithIndex
      .map { case (f, i) => f.select(columns.map(col): _*).withColumn(StoreCol, lit(i)) }
      .reduce(_ unionByName _)
    eachBatch(tagged, checkpointDir, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val base = readSnapshot(spark, snapshotDirs.head, columns)
      // ONE aggregation reads each feed once, merges the batch into the
      // committed snapshot row and flags each key: relay (an incoming row
      // differs from the committed row), differs (the merged row does)
      // and held-by (the store whose rows are the merged row). The batch
      // comes first in the union, so its generated scan keeps the codegen
      // stage id it has in a round without a snapshot and is reused.
      val merged = mergeCells(
        base.fold(batch)(b => batch.unionByName(b.withColumn(StoreCol, lit(null).cast("int")))),
        keyCol, dataCols)
        .cache()
      def relayTo(i: Int) = col(Relay) && !(col(HeldBy) <=> i)
      // one pass over the cached merge counts the changed keys and each
      // store's relays
      val counts = merged.agg(count_if(col(Differs)),
        feeds.indices.map(i => count_if(relayTo(i))): _*).head()
      // relay the merged row, not the raw change, so a relay can never
      // regress the other store
      feeds.indices.filter(i => counts.getLong(i + 1) > 0).foreach { i =>
        writeback(i, merged.where(relayTo(i)).drop(Relay, Differs, HeldBy))
      }
      def leftover(dir: String) = {
        val tmp = new Path(tmpOf(dir))
        tmp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tmp)
      }
      if (counts.getLong(0) > 0 || snapshotDirs.exists(leftover))
        commitSnapshot(merged.drop(Relay, Differs, HeldBy), snapshotDirs)
      merged.unpersist()
    }
  }

  /** i6 streaming form — the sync loop: each microbatch is LWW-merged into
    * the parquet snapshot at `targetDir` (read-modify-write per batch, the
    * foreachBatch upsert idiom; at scale this would be a MERGE INTO a
    * bucketed table). State commits and recovers by [[readSnapshot]]'s
    * protocol; a snapshot without [[changeSchema]]'s columns fails. */
  def lwwSink(changes: DataFrame, targetDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(changes, checkpointDir, trigger) { (delta, _) =>
      val spark = delta.sparkSession
      val base = readSnapshot(spark, targetDir, changeSchema.fieldNames.toSeq)
        .getOrElse(spark.createDataFrame(java.util.List.of[Row](), changeSchema))
      commitSnapshot(mergeLww(base, delta), Seq(targetDir))
    }

  /** i18 — the storage-backed rollup's incremental updater (batch j262's
    * streaming half): each microbatch of events folds to PARTIAL hourly
    * rollup rows (the shared NestedOps.hourlyCents/hourlyRollup
    * fragments — no drift vs the batch rollup) APPENDED to the
    * graft-sync store as one more manifest generation. There is NO
    * read-modify-write: count/sum/min/max compose, so the append IS the
    * merge and the serving query re-aggregates by (type, hour) at read
    * — j262's serve path works unchanged over any mix of batch builds
    * and streamed increments. Contrast lwwSink's snapshot rewrite: a
    * rollup's aggregates are associative, a LWW snapshot's are not —
    * that is precisely why rollup stores keep composable aggregates.
    * Input frame must carry event_type/ts_us/value (the eventsUs shape). */
  def rollupSink(events: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    epochTaggedAppend(events, storeDir, checkpointDir, trigger, "rollup-epoch") {
      batch => graft.ops.NestedOps.hourlyRollup(graft.ops.NestedOps.hourlyCents(batch))
    }

  /** i19 — the TS metrics-store ingest path (ES TSDB downsampling as a
    * stream): each microbatch of the ordered change feed folds to
    * per-(series, day) TS cell PARTIALS (Esql.tsCellPartials — n/sum/
    * min/max, first/last value-ts pairs, and RATE's positive-delta
    * numerator for the slice) appended through the page-tag idempotent
    * path. No read-modify-write: the partials compose (including RATE,
    * via the boundary-delta term — see tsCellPartials' contract), so
    * serving is Esql.tsComposeCells over the store and equals the batch
    * TS pipeline's inner rollup exactly; a crash-replayed epoch
    * SUPERSEDES its first attempt even under a different shuffle
    * layout. Input frame carries ts/user_id/event_type/value (the
    * change-feed shape). StreamingSpec's i19 pins streamed ≡ batch for
    * both j249's OVER_TIME family and j250's RATE, through a replay and
    * a compaction. */
  def tsRollupSink(events: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    epochTaggedAppend(events, storeDir, checkpointDir, trigger, "ts-rollup-epoch")(
      graft.ops.Esql.tsCellPartials)

  /** Appends `fold(batch)` of each micro-batch to the graft-sync store at
    * `storeDir` under the page tag `<tagPrefix>-<epochId>`. The tag is an
    * idempotency KEY, not just a naming scheme: the store keeps exactly
    * one committed generation per tag, so a replayed batch (post-crash
    * re-execution) SUPERSEDES the first attempt's generation even when it
    * shuffles into a different partition layout and lands the same rows
    * under different page names (GraftSyncStore.supersedeTag).
    * Exactly-once composition without sink-side state; a bare append
    * would double-count the partials on replay. */
  private def epochTaggedAppend(events: DataFrame, storeDir: String,
      checkpointDir: String, trigger: Trigger, tagPrefix: String)(
      fold: DataFrame => DataFrame): StreamingQuery =
    eachBatch(events, checkpointDir, trigger) { (batch, epochId) =>
      fold(batch).write.format("graft-sync").mode("append")
        .option("page-tag", s"$tagPrefix-$epochId")
        .save(storeDir)
    }
}
