package graft.sources

import java.util

import scala.collection.immutable.ListMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-cql` — the reference's ACTUAL Cassandra I/O layer as a
  * DataSource V2 connector speaking the CQL native protocol v4 over a
  * raw socket (graft.sources.CqlProtocol): STARTUP handshake, paged
  * QUERY reads, UNLOGGED BATCH upsert writes, schema inference from
  * `system_schema.columns` (exactly the official drivers' metadata
  * path). The zero-egress container has no C* server, so the protocol
  * is pinned against an in-JVM socket stub (CqlStubServer); the
  * connector carries no test hooks and would run against a real cluster
  * unchanged.
  *
  * Scale shape (the token-ring story):
  *   - READ: one InputPartition per TOKEN RANGE — the connector splits
  *     the full Murmur3 ring [Long.Min, Long.Max] into `token-splits`
  *     contiguous ranges and each reader issues
  *     `SELECT … WHERE token(pk) > a AND token(pk) <= b`, paging with
  *     the protocol's paging_state (`page-size` rows per exchange).
  *     That is EXACTLY how C* drivers parallelize full-table scans:
  *     range scans are node-local, readers never coordinate, and the
  *     split count scales to any executor fleet. Column pruning is real
  *     (the SELECT list carries only the pruned columns).
  *   - No predicate pushdown: C* rejects arbitrary predicates without
  *     ALLOW FILTERING (a server-side table scan — worse than letting
  *     Spark filter post-scan), so filters stay in Spark. Stated
  *     honestly instead of shipping a slow path.
  *   - WRITE: per-task bounded UNLOGGED BATCHes of
  *     `INSERT INTO ks.t (…) VALUES (?…)` — C* INSERT is an UPSERT by
  *     primary key, so task retries and job replays CONVERGE (the same
  *     idempotency contract as the ES sink's _id upserts; the
  *     reference's sync loop leans on both).
  *
  * Usage:
  *   spark.read.format("graft-cql").option("host", "127.0.0.1:9042")
  *     .option("keyspace", "ks").option("table", "events")
  *     .option("partition-key", "event_id").option("token-splits", "8").load()
  *   df.write.format("graft-cql").option("host", ...)
  *     .option("keyspace", "ks").option("table", "events").mode("append").save()
  */
class CqlProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-cql"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = new ConnectorOptions("graft-cql", options)
    val (host, port) = opts.hostPort("host", 9042)
    val base = Cql.systemSchema(host, port, opts.required("keyspace"),
      opts.required("table"))
    // writetime-of=<dataCol>[,<dataCol>...]: expose C*'s per-cell
    // WRITETIME as synthetic bigint columns — the reference's actual
    // update-timestamp source (it reads WRITETIME() for LWW ordering).
    // One column keeps the legacy name `writetime`; a list yields one
    // `writetime_<col>` per entry (the per-cell sync loop reads EVERY
    // data cell's stamp in one scan).
    val stamps = Cql.writetimeCols(opts.columnList("writetime-of").getOrElse(Nil))
    stamps.values.foreach(opts.inSchema("writetime-of", _, base))
    StructType(base.fields ++ stamps.keys.map(StructField(_, LongType)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    GraftSyncStore.checkSchema(schema) // same value domain as graft-sync
    val opts = new ConnectorOptions("graft-cql", properties)
    val (host, port) = opts.hostPort("host", 9042)
    new CqlTable(host, port, opts.required("keyspace"), opts.required("table"), schema)
  }
}

private[graft] object Cql {
  /** The stamp-column map of the `writetime-of` cells: stamp column name →
    * the data column whose WRITETIME a read exposes in it and a write
    * binds from it as `USING TIMESTAMP`. Insertion-ordered (schema order =
    * option order); no cells, no stamps. */
  def writetimeCols(cells: Seq[String]): ListMap[String, String] =
    if (cells.length == 1) ListMap("writetime" -> cells.head)
    else ListMap(cells.map(c => s"writetime_$c" -> c): _*)

  /** Schema from `system_schema.columns` — the drivers' metadata query,
    * issued over the same wire protocol as data reads. */
  def systemSchema(host: String, port: Int, ks: String, table: String): StructType = {
    val client = new CqlProtocol.Client(host, port)
    try {
      val res = client.query(
        "SELECT column_name, type FROM system_schema.columns WHERE " +
          s"keyspace_name = '$ks' AND table_name = '$table'")
        .getOrElse(throw new IllegalArgumentException(
          s"graft-cql: no columns for $ks.$table"))
      require(res.rows.nonEmpty, s"graft-cql: unknown table $ks.$table")
      val fields = res.rows.map { r =>
        val name = new String(r(0), "UTF-8")
        val cqlType = new String(r(1), "UTF-8")
        StructField(name, CqlProtocol.sparkTypeOf(cqlType))
      }.sortBy(_.name)
      StructType(fields)
    } finally client.close()
  }
}

private[sources] class CqlTable(host: String, port: Int, ks: String,
    table: String, schema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-cql:$host:$port/$ks.$table"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = new ConnectorOptions("graft-cql", options)
    new CqlScanBuilder(host, port, ks, table, schema,
      opts.inSchema("partition-key", opts.required("partition-key"), schema),
      opts.positiveInt("token-splits").getOrElse(4),
      opts.positiveInt("page-size").getOrElse(1000),
      opts.column("incremental-column", schema),
      Cql.writetimeCols(opts.columnList("writetime-of").getOrElse(Nil)))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CqlWriteBuilder(host, port, ks, table, info)
}

private[sources] class CqlScanBuilder(host: String, port: Int, ks: String,
    table: String, fullSchema: StructType, pk: String, splits: Int,
    pageSize: Int, incrementalCol: Option[String],
    stamps: ListMap[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // C* cannot return zero columns — a COUNT-style empty projection
    // still selects the partition key (cheapest single column)
    required = if (requiredSchema.isEmpty)
      StructType(Seq(fullSchema(fullSchema.fieldIndex(pk))))
    else requiredSchema

  override def build(): Scan =
    new CqlScan(host, port, ks, table, required, pk, splits, pageSize,
      incrementalCol, stamps)
}

private[sources] class CqlScan(host: String, port: Int, ks: String,
    table: String, required: StructType, pk: String, splits: Int,
    pageSize: Int, incrementalCol: Option[String],
    stamps: ListMap[String, String])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"CqlScan $ks.$table token-splits=$splits " +
      s"ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] = partitions(None)

  /** Contiguous token ranges covering the full Murmur3 ring. The ring is
    * a CLOSED circle: the first range uses >= Long.Min so the minimum
    * token itself is not dropped (every other range is (a, b]). A
    * micro-batch's (tsCol, from, to] `window` rides on every range. */
  private def partitions(window: Option[(String, Long, Long)]): Array[InputPartition] = {
    val step = java.lang.Long.divideUnsigned(-1L, splits.toLong) max 1L
    val bounds = (0 until splits).map(i => Long.MinValue + step * i) :+ Long.MaxValue
    (0 until splits).map { i =>
      CqlTokenRange(host, port, ks, table, pk, bounds(i), bounds(i + 1),
        i == 0, pageSize, window, stamps): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CqlReaderFactory(required)

  /** The poll-by-timestamp stream ([[MarkWindowStream]]) over the native
    * protocol: mark = `SELECT max(ts)` (a scan-aggregate server-side — the
    * honest cost of poll-by-timestamp on C*; real deployments index the ts
    * or use CDC, the reference scans exactly like this). The window
    * conjunct rides WITH the token-range predicate, which requires ALLOW
    * FILTERING — C*'s own spelling for a non-key predicate, again the
    * reference's actual query shape. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    MarkWindowStream.byTimestamp("graft-cql", incrementalCol, maxTs,
      partitions, createReaderFactory())

  private def maxTs(col: String): Option[Long] = {
    val client = new CqlProtocol.Client(host, port)
    try {
      val res = client.query(s"SELECT max($col) FROM $ks.$table")
        .getOrElse(throw new java.io.IOException("graft-cql: Void for max()"))
      res.rows.headOption.flatMap(r => Option(r(0)))
        .map(b => java.nio.ByteBuffer.wrap(b).getLong)
    } finally client.close()
  }
}

/** One token range = one split (the C* drivers' scan parallelism). */
private[sources] case class CqlTokenRange(host: String, port: Int, ks: String,
    table: String, pk: String, lo: Long, hi: Long, includeLo: Boolean,
    pageSize: Int, window: Option[(String, Long, Long)],
    stamps: ListMap[String, String])
  extends InputPartition

private[sources] class CqlReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CqlRangeReader(partition.asInstanceOf[CqlTokenRange], required)
}

/** Drains one token range with protocol paging: each exchange returns at
  * most page-size rows plus a paging_state cursor; the reader loops until
  * the server omits the cursor. Reader memory = one page. */
private[sources] class CqlRangeReader(range: CqlTokenRange,
    required: StructType) extends PartitionReader[InternalRow] {

  private val client = new CqlProtocol.Client(range.host, range.port)
  private val fields = required.fields
  private val cql = {
    // synthetic writetime columns read as WRITETIME(<data col>) —
    // positional decode, so no alias is needed
    val cols = fields.map { f =>
      range.stamps.get(f.name).map(c => s"WRITETIME($c)").getOrElse(f.name)
    }.mkString(", ")
    val loOp = if (range.includeLo) ">=" else ">"
    val win = range.window.map { case (c, from, to) =>
      s" AND $c > $from AND $c <= $to ALLOW FILTERING"
    }.getOrElse("")
    s"SELECT $cols FROM ${range.ks}.${range.table} WHERE " +
      s"token(${range.pk}) $loOp ${range.lo} AND token(${range.pk}) <= ${range.hi}" +
      win
  }
  private var pagingState: Array[Byte] = _
  private var page: Iterator[Array[Array[Byte]]] = Iterator.empty
  private var exhausted = false
  private var row: InternalRow = _

  private def fetch(): Unit = {
    // EXECUTE against the prepared id: the SELECT text crosses the wire
    // once per reader; every page exchange after that carries only the
    // id + paging state
    val res = client.execute(cql, pageSize = range.pageSize,
        pagingState = pagingState)
      .getOrElse(throw new java.io.IOException(
        s"graft-cql: Void result for a SELECT: $cql"))
    pagingState = res.pagingState
    // Terminate ONLY on a null paging state. Cassandra may legally return
    // an empty page that still carries a continuation cursor (common under
    // the ALLOW FILTERING window conjunct, where a page's worth of scanned
    // rows can all fail the filter); next()'s fetch loop keeps paging.
    if (pagingState == null) exhausted = true
    page = if (res.rows.isEmpty) Iterator.empty else res.rows.iterator
  }

  override def next(): Boolean = {
    while (!page.hasNext && !exhausted) fetch()
    if (!page.hasNext) return false
    val raw = page.next()
    val vals = Array.tabulate[Any](fields.length)(i =>
      CqlProtocol.decode(raw(i), fields(i).dataType))
    row = GraftSyncStore.internalRow(vals, fields)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = client.close()
}
