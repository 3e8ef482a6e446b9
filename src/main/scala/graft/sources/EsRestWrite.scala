package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructType}

/** The `graft-es` sink: batched `_bulk` NDJSON requests — the reference's
  * actual ES write path (each document pair is `{"index":{"_index":i,
  * "_id":...}}` + the row as a JSON object, the same encoder as the
  * graft-sync pages).
  *
  * Transactionality, stated honestly: ES bulk has no job transaction —
  * documents are visible (after refresh) as each request lands, and
  * there is nothing to roll back on abort. The connector therefore makes
  * the write CONVERGENT instead of atomic: `id-column` pins `_id`, so a
  * retried task / replayed job re-indexes the same documents in place
  * (ES index = upsert) — at-least-once delivery, exactly-once EFFECT.
  * That is the reference sync loop's own idempotency contract. Without
  * an id column ES auto-assigns ids and a retry DUPLICATES — allowed
  * only behind `allow-auto-ids=true`.
  *
  * `bulk-size` bounds request bodies (writer memory is constant in
  * partition size); the driver-side job commit issues ONE `_refresh` so
  * a read planned after the write sees every document (the
  * write-then-verify step the reference performs per sync round). */
private[sources] class EsRestWriteBuilder(node: String, index: String,
    info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = {
    val schema = info.schema()
    val opts = new ConnectorOptions("graft-es", info.options())
    val idCol = opts.column("id-column", schema, StringType, IntegerType, LongType)
    val allowAuto = opts.boolean("allow-auto-ids").getOrElse(false)
    require(idCol.isDefined || allowAuto,
      "graft-es: .option(\"id-column\", ...) is required — ids make " +
        "retries convergent (upsert); pass allow-auto-ids=true to " +
        "accept duplicate-on-retry semantics explicitly")
    // tombstone-column: rows where this boolean is true emit a bulk
    // DELETE action instead of an index — how a sync round propagates
    // LWW-winning tombstones to the ES side (delete of a missing doc
    // is not_found, not an error — replays stay convergent)
    val tombCol = opts.column("tombstone-column", schema, BooleanType)
    require(tombCol.isEmpty || idCol.isDefined,
      "graft-es: tombstone-column requires id-column (a delete names its _id)")
    // version-column: each index action carries the row's own version
    // with version_type=external_gte — ES's guard against a replayed or
    // re-ordered relay clobbering a NEWER document (the reference writes
    // its source timestamps as external versions for exactly this). A
    // 409 version_conflict then means "the store already holds newer"
    // and is a CORRECT no-op, not an error.
    val verCol = opts.column("version-column", schema, LongType)
    require(verCol.isEmpty || idCol.isDefined,
      "graft-es: version-column requires id-column (a version guards an _id)")
    val bulkSize = opts.positiveInt("bulk-size").getOrElse(500)
    val bulkRetries = opts.nonNegativeInt("bulk-retries").getOrElse(3)
    val retryWaitMs = opts.nonNegativeLong("bulk-retry-wait-ms").getOrElse(500L)
    GraftSyncStore.checkSchema(schema)
    new Write {
      override def toBatch: BatchWrite = new EsRestBatchWrite(node, index, schema,
        idCol, tombCol, verCol, bulkSize, bulkRetries, retryWaitMs)
    }
  }
}

private[sources] class EsRestBatchWrite(node: String, index: String,
    schema: StructType, idCol: Option[String], tombCol: Option[String],
    verCol: Option[String], bulkSize: Int, bulkRetries: Int,
    retryWaitMs: Long) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    EsRestWriterFactory(node, index, schema, idCol, tombCol, verCol, bulkSize,
      bulkRetries, retryWaitMs)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // make the job's documents visible to the next planned read — ES is
    // near-real-time; one refresh per JOB, never per bulk request
    val (code, body) = EsHttp.request("POST", s"$node/$index/_refresh", None)
    if (code != 200) throw new java.io.IOException(
      s"graft-es: _refresh after commit failed ($code): $body")
  }

  /** Nothing to delete: documents already indexed stay (at-least-once);
    * a successful retry converges them via `_id` upsert. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case class EsRestWriterFactory(node: String, index: String,
    schema: StructType, idCol: Option[String], tombCol: Option[String],
    verCol: Option[String], bulkSize: Int, bulkRetries: Int,
    retryWaitMs: Long) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new EsBulkWriter(node, index, schema, idCol, tombCol, verCol, bulkSize,
      bulkRetries, retryWaitMs)
}

private[sources] case class EsBulkCommit(docs: Long) extends WriterCommitMessage

private[sources] class EsBulkWriter(node: String, index: String,
    schema: StructType, idCol: Option[String], tombCol: Option[String],
    verCol: Option[String], bulkSize: Int, bulkRetries: Int,
    retryWaitMs: Long) extends DataWriter[InternalRow] {

  private val mapper = new ObjectMapper()
  private val fields = schema.fields
  private val idIdx = idCol.map(schema.fieldIndex)
  private val tombIdx = tombCol.map(schema.fieldIndex)
  private val verIdx = verCol.map(schema.fieldIndex)
  // one entry per bulk item: (action line, doc line or null for deletes) —
  // kept as ITEMS, not one string, so a 429-rejected subset can be
  // re-sent without the items that already landed
  private val items = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private var total = 0L

  override def write(row: InternalRow): Unit = {
    val isDelete = tombIdx.exists(i => !row.isNullAt(i) && row.getBoolean(i))
    val action = mapper.createObjectNode()
    val idx = action.putObject(if (isDelete) "delete" else "index")
    idx.put("_index", index)
    idIdx.foreach { i =>
      require(!row.isNullAt(i), s"graft-es: null id in column '${idCol.get}'")
      idx.put("_id", fields(i).dataType match {
        case StringType => row.getUTF8String(i).toString
        case IntegerType => row.getInt(i).toString
        case LongType => row.getLong(i).toString
      })
    }
    // external_gte (not external): an equal version re-lands the SAME
    // logical content — that is what makes a replayed sync round a no-op
    // instead of a version conflict storm
    verIdx.foreach { i =>
      require(!row.isNullAt(i), s"graft-es: null version in column '${verCol.get}'")
      idx.put("version", row.getLong(i))
      idx.put("version_type", "external_gte")
    }
    items += ((mapper.writeValueAsString(action),
      if (isDelete) null // a delete action carries no document line
      else mapper.writeValueAsString(
        GraftSyncStore.rowToNode(mapper, row, fields))))
    total += 1
    if (items.length >= bulkSize) flush()
  }

  /** Send the buffered items, retrying ONLY the 429-rejected subset with
    * bounded backoff. 429 (TOO_MANY_REQUESTS / es_rejected_execution) is
    * ES's NORMAL backpressure from a busy bulk queue — not a data error;
    * `_id`-pinned upserts make the bounded re-send safe by construction
    * (an item that actually landed re-lands identically). Attempts past
    * `bulk-retries` surface loudly: unbounded silent retry would hide a
    * truly overloaded cluster from the operator. */
  private def flush(): Unit = {
    if (items.isEmpty) return
    var pending = items.toVector
    var attempt = 0
    while (pending.nonEmpty) {
      val body = pending.map { case (a, d) =>
        if (d == null) a + "\n" else a + "\n" + d + "\n"
      }.mkString
      val (code, respBody) = EsHttp.request("POST", s"$node/_bulk",
        Some(body), contentType = "application/x-ndjson")
      val rejected: Vector[(String, String)] =
        if (code == 429) pending // whole-request rejection: retry it all
        else if (code != 200) throw new java.io.IOException(
          s"graft-es: _bulk failed ($code): ${respBody.take(500)}")
        else {
          val resp = mapper.readTree(respBody)
          if (!resp.path("errors").asBoolean(false)) Vector.empty
          else {
            // per-item triage: 429 → retry set; 409 under external
            // versioning → the guard's correct no-op; anything else →
            // loud failure (a silent partial bulk is exactly the
            // corruption a sync loop must never absorb)
            val out = Vector.newBuilder[(String, String)]
            val it = resp.path("items").elements()
            var i = 0
            while (it.hasNext) {
              val wrap = it.next()
              val item = if (wrap.has("delete")) wrap.path("delete")
                else wrap.path("index")
              val status = item.path("status").asInt(0)
              if (item.has("error")) {
                if (status == 429) out += pending(i)
                else if (!(verIdx.isDefined && status == 409))
                  throw new java.io.IOException(
                    s"graft-es: bulk item failed (_id=${item.path("_id").asText()}): " +
                      item.path("error").toString.take(300))
              }
              i += 1
            }
            out.result()
          }
        }
      if (rejected.nonEmpty) {
        attempt += 1
        if (attempt > bulkRetries) throw new java.io.IOException(
          s"graft-es: ${rejected.size} bulk items still rejected (429) " +
            s"after $bulkRetries retries — cluster overloaded, surfacing " +
            "instead of retrying forever")
        Thread.sleep(retryWaitMs * (1L << math.min(attempt - 1, 6)))
      }
      pending = rejected
    }
    items.clear()
  }

  override def commit(): WriterCommitMessage = { flush(); EsBulkCommit(total) }
  override def abort(): Unit = () // indexed docs stay; id upsert converges
  override def close(): Unit = ()
}
