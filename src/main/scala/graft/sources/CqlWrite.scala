package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** The `graft-cql` sink: bounded UNLOGGED BATCHes of positional-value
  * INSERTs over the native protocol. C* INSERT is an UPSERT by primary
  * key, so the write is at-least-once with exactly-once EFFECT — a
  * retried task or replayed job re-applies the same primary-keyed rows
  * (the ES sink's `_id` contract, C*-side). `batch-rows` bounds the rows
  * of each request (writer memory constant in partition size; C* itself
  * rejects oversized batches — the reference's bulk loop uses the same
  * knob). UNLOGGED because the rows of one Spark partition do not need
  * C*'s atomic-batch log (they are independent upserts — the log would
  * add a coordinator round-trip per batch for a guarantee replays
  * already provide). Abort deletes nothing: applied upserts converge on
  * retry.
  *
  * Write stamps, the reference's actual C* write path (it stamps writes
  * with the SOURCE timestamp so C*'s per-cell LWW resolves conflicts by
  * origin time, not arrival order):
  *   - `using-timestamp-column=<col>`: each row is one INSERT of every
  *     column `USING TIMESTAMP <col>` (epoch-µs bigint/timestamp_ntz; a
  *     null stamp fails the write).
  *   - `writetime-of=<c1,c2,…>`: per-CELL stamps, the read side's option
  *     and stamp-column names ([[Cql.writetimeCols]]: `writetime` for one
  *     cell, `writetime_<c>` for several). Each row becomes one
  *     `INSERT (<other columns>, c) … USING TIMESTAMP <stamp of c>` per
  *     listed cell whose stamp is non-null; the stamp columns are not
  *     table data. All of a row's statements ride the same batch, so one
  *     Spark write relays every cell under its own writetime. */
private[sources] class CqlWriteBuilder(host: String, port: Int, ks: String,
    table: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = {
    val schema = info.schema()
    GraftSyncStore.checkSchema(schema)
    val opts = new ConnectorOptions("graft-cql", info.options())
    val tsCol = opts.column("using-timestamp-column", schema, LongType, TimestampNTZType)
    val cells = opts.columnList("writetime-of")
    require(tsCol.isEmpty || cells.isEmpty,
      "graft-cql: writetime-of and using-timestamp-column are exclusive")
    val stamps = Cql.writetimeCols(cells.getOrElse(Nil))
    stamps.foreach { case (stamp, c) =>
      opts.inSchema("writetime-of", c, schema)
      opts.inSchema("writetime-of stamp", stamp, schema, LongType)
    }
    val batchRows = opts.positiveInt("batch-rows").getOrElse(64)
    def insert(cols: Seq[StructField], stamp: Option[String]) = CqlInsert(
      s"INSERT INTO $ks.$table (${cols.map(_.name).mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})" +
        stamp.fold("")(_ => " USING TIMESTAMP ?"),
      cols.map(f => (schema.fieldIndex(f.name), f.dataType)),
      stamp.map(schema.fieldIndex))
    val inserts =
      if (stamps.isEmpty) Seq(insert(schema.fields.toSeq, tsCol))
      else {
        val stamped = stamps.keySet ++ stamps.values
        val other = schema.fields.toSeq.filterNot(f => stamped(f.name))
        stamps.toSeq.map { case (stamp, c) => insert(other :+ schema(c), Some(stamp)) }
      }
    new Write {
      override def toBatch: BatchWrite =
        new CqlBatchWrite(CqlWriterFactory(host, port, inserts, tsCol, batchRows))
    }
  }
}

/** One INSERT a written row expands to: its text, the (ordinal, type) of
  * each bound value, and the ordinal bound to `USING TIMESTAMP ?`. */
private[sources] case class CqlInsert(cql: String,
    values: Seq[(Int, DataType)], stamp: Option[Int])

private[sources] class CqlBatchWrite(factory: CqlWriterFactory)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** A null stamp fails the write under `using-timestamp-column` (`tsCol`);
  * under `writetime-of` it drops that statement (a cell the row does not
  * carry). */
private[sources] case class CqlWriterFactory(host: String, port: Int,
    inserts: Seq[CqlInsert], tsCol: Option[String], batchRows: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CqlBatchWriter(this)
}

private[sources] case class CqlCommit(rows: Long) extends WriterCommitMessage

private[sources] class CqlBatchWriter(f: CqlWriterFactory)
    extends DataWriter[InternalRow] {

  private val client = new CqlProtocol.Client(f.host, f.port)
  private val buf = Seq.newBuilder[(String, Seq[Array[Byte]])]
  private var inBatch = 0
  private var total = 0L

  override def write(row: InternalRow): Unit = {
    f.inserts.foreach { ins =>
      if (ins.stamp.exists(row.isNullAt))
        require(f.tsCol.isEmpty, s"graft-cql: null write timestamp in '${f.tsCol.get}'")
      else buf += ((ins.cql, ins.values.map { case (i, dt) =>
        CqlProtocol.encode(CqlProtocol.rawOf(row.get(i, dt), dt), dt)
      } ++ ins.stamp.map(i => CqlProtocol.encode(row.getLong(i), LongType))))
    }
    inBatch += 1
    total += 1
    if (inBatch >= f.batchRows) flush()
  }

  private def flush(): Unit = {
    val stmts = buf.result()
    buf.clear()
    inBatch = 0
    // prepared-id batches: the INSERT text crossed the wire once in
    // PREPARE; each batch entry is the 16-byte id + values (the driver's
    // hot-path write shape — re-prepared transparently on UNPREPARED)
    if (stmts.nonEmpty) client.batchPrepared(stmts)
  }

  override def commit(): WriterCommitMessage = { flush(); CqlCommit(total) }
  override def abort(): Unit = () // applied upserts converge on retry
  override def close(): Unit = client.close()
}
