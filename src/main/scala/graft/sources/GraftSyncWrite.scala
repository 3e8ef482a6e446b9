package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** The `graft-sync` write path — an idempotent batched NDJSON bulk sink,
  * the ES `_bulk` analog (SURVEY §3.1): every task buffers rows and flushes
  * them as one NDJSON page ("bulk request"), and the driver commits the
  * pages as one generation under a tag, so any retry converges to the
  * same store state instead of duplicating documents.
  *
  * Idempotency, the property that makes a sync pipeline safe to retry:
  * every commit — batch or streaming, append or overwrite — publishes
  * through ONE store function, [[GraftSyncStore.supersedeTag]], which
  * keeps exactly one generation per tag. The tag is the commit's
  * idempotency key:
  *   - streaming epoch `n`: `epoch-<n>` — a replayed epoch (post-crash
  *     re-execution of an un-committed batch) supersedes its first
  *     attempt at the same feed position, exactly-once without sink-side
  *     dedup state (the SIGMOD 2018 Structured Streaming sink contract;
  *     ES reaches the same effect with deterministic `_id` upserts);
  *   - a batch write with `page-tag`: that tag;
  *   - an untagged batch write: its queryId, a fresh UUID per write, so
  *     every such write is a new generation.
  * A new tag lands after every existing generation, so batch and
  * streamed generations may follow each other in any order.
  *
  * Staged page names are unique to the write attempt —
  * `page-[<tag>-]<queryId>-<partition>` for batch (queryId is fresh per
  * attempt), `epoch-<n>-<runToken>-<partition>` for streaming (runToken is
  * fresh per query run; the streaming queryId survives restarts) — so a
  * replay never overwrites a COMMITTED generation's bytes before its
  * atomic manifest publish, and abort deletes only its own attempt's
  * pages.
  *
  * Scale: a task writes only its own partition's page; the driver commit
  * handles O(#partitions) names, no data.
  */
private[sources] class GraftSyncWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    GraftSyncStore.checkSchema(info.schema())
    val opts = new ConnectorOptions("graft-sync", info.options)
    // bulk batch size: rows per page/request (the ES `_bulk` request-size
    // knob). Bounded writer memory at any partition size.
    val bulkRows = opts.positiveInt("bulk-rows").getOrElse(50000)
    // Optional caller-supplied generation tag for a batch write. Without
    // one the tag is the write's queryId — correct for independent writes
    // but NOT replay-stable: a foreachBatch APPEND re-executed after a
    // crash (same epoch, new queryId) would land the same rows as a second
    // generation and double-count. A deterministic tag (e.g.
    // "rollup-epoch-7") makes the replay SUPERSEDE the prior generation
    // even when it shuffles into a different partition layout (AQE
    // coalescing, changed shuffle-partition conf) and lands the same rows
    // under DIFFERENT page names. Supersede also defines tag REUSE: two
    // appends sharing a tag are last-write-wins by contract — one logical
    // batch per tag, never a silent partial mix.
    val pageTag = opts.string("page-tag")
    require(pageTag.forall(_.matches("[A-Za-z0-9._-]+")),
      s"graft-sync: page-tag must be a [A-Za-z0-9._-]+ token, got '${pageTag.get}'")
    // "epoch-<n>" is streaming epoch n's tag — a batch sharing it would
    // supersede that epoch's generation. "compact" is the snapshot
    // manifest's tag — a user batch sharing it would supersede the
    // compaction snapshot and delete its page, silently dropping the
    // whole compacted store (r13 advice).
    require(!pageTag.exists(_.matches("epoch-[0-9]+")),
      "graft-sync: page-tag 'epoch-<n>' is reserved for the streaming sink")
    require(!pageTag.contains("compact"),
      "graft-sync: page-tag 'compact' is reserved for compaction snapshots")
    // publish the schema marker BEFORE any task flushes a page: its
    // presence disables committedPages' hand-made-dir fallback, so a
    // reader concurrent with the store's very first write sees an empty
    // committed set instead of in-flight pages
    GraftSyncStore.writeSchema(dir, info.schema())
    new GraftSyncWrite(dir, info.schema(), pageTag, info.queryId(),
      doTruncate, bulkRows)
  }
}

/** One write, batch or streaming: both commit through [[publish]]. */
private[sources] class GraftSyncWrite(dir: String, schema: StructType,
    pageTag: Option[String], queryId: String, truncate: Boolean,
    bulkRows: Int) extends Write with BatchWrite with StreamingWrite {

  private val runToken = java.util.UUID.randomUUID().toString.take(8)

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // both interfaces default to true; the class must pick one
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftSyncWriterFactory(dir, schema,
      pageTag.fold(s"page-$queryId")(t => s"page-$t-$queryId"), bulkRows)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftSyncWriterFactory(dir, schema, runToken, bulkRows)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    publish(pageTag.getOrElse(queryId), messages)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    publish(s"epoch-$epochId", messages)

  /** Overwrite (batch `SaveMode.Overwrite`, streaming complete mode) first
    * drops every other generation, keeping this commit's own pages. */
  private def publish(tag: String, messages: Array[WriterCommitMessage]): Unit = {
    val pages = messages.flatMap(_.asInstanceOf[GraftSyncCommit].pages).toSeq
    if (truncate) GraftSyncStore.dropAllExcept(dir, pages.toSet)
    GraftSyncStore.writeSchema(dir, schema)
    GraftSyncStore.supersedeTag(dir, tag, pages)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftSyncCommit(pages) =>
        pages.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
      case _ => ()
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abort(messages)
}

private[sources] case class GraftSyncCommit(pages: Seq[String]) extends WriterCommitMessage

/** Batch writers stage under `<prefix>-<partition>`, streaming writers
  * under `epoch-<epochId>-<prefix>-<partition>`. */
private[sources] case class GraftSyncWriterFactory(dir: String,
    schema: StructType, prefix: String, bulkRows: Int)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftSyncDataWriter(dir, schema, f"$prefix-$partitionId%05d", bulkRows)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftSyncDataWriter(dir, schema,
      f"epoch-$epochId-$prefix-$partitionId%05d", bulkRows)
}

/** Serializes this partition's rows to NDJSON pages of at most `bulkRows`
  * rows each — a real bulk endpoint takes bounded requests, and the
  * writer's memory must stay bounded no matter how large the partition
  * (the per-chunk buffer is the only state). Chunk names are
  * deterministic (`<prefix>-c<chunk>`): Spark replays a partition's rows
  * in the same order on retry, so a retried task overwrites its own
  * chunks byte-for-byte, and a speculative twin races the atomic rename
  * with identical content — either winner is correct. */
private[sources] class GraftSyncDataWriter(dir: String, schema: StructType,
    prefix: String, bulkRows: Int) extends DataWriter[InternalRow] {

  private val mapper = new ObjectMapper()
  private val buf = new java.lang.StringBuilder(1 << 16)
  private val fields = schema.fields
  private var rowsInChunk = 0
  private var chunkIdx = 0
  private val flushed = Seq.newBuilder[String]

  override def write(row: InternalRow): Unit = {
    val node = GraftSyncStore.rowToNode(mapper, row, fields)
    buf.append(mapper.writeValueAsString(node)).append('\n')
    rowsInChunk += 1
    if (rowsInChunk >= bulkRows) flushChunk()
  }

  private def flushChunk(): Unit = {
    val page = f"$prefix-c$chunkIdx%04d.jsonl"
    Files.createDirectories(Paths.get(dir))
    GraftSyncStore.atomicWrite(Paths.get(dir, page))(_.write(buf.toString.getBytes(UTF_8)))
    flushed += page
    buf.setLength(0)
    rowsInChunk = 0
    chunkIdx += 1
  }

  override def commit(): WriterCommitMessage = {
    if (rowsInChunk > 0) flushChunk()
    // an empty partition sends no bulk request — no pages, no manifest entry
    GraftSyncCommit(flushed.result())
  }

  override def abort(): Unit = ()
  // Task-level abort deliberately deletes NOTHING: chunk names are
  // deterministic, so a losing speculative/zombie attempt's abort could
  // otherwise delete the pages its winning twin already committed.
  // Un-committed chunks are harmless — readers see only manifested pages
  // (for sink-produced stores the no-manifest fallback is disabled by the
  // _schema.json marker), and a successful retry overwrites the names.
  // Job-level abort (driver, no concurrent winner) does the cleanup.
  override def close(): Unit = ()
}
