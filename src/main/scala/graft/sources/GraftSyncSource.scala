package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-sync` — the engine's DataSource V2 connector pair, standing in
  * for the two external endpoints the reference syncs (SURVEY §3.1): the
  * read side is a PAGED table scan (the CQL token-range/paged-scan analog
  * — each committed page is an independent split, so 1000 executors read
  * 1000 pages with no coordination), the write side an idempotent batched
  * NDJSON bulk sink (the ES `_bulk` analog, in GraftSyncWrite.scala).
  *
  * Read-path features, all first-class DSv2:
  *   - `SupportsPushDownFilters`: EqualTo/comparisons/In/IsNull/And on
  *     primitive columns are evaluated inside the page reader BEFORE a row
  *     is materialized to Catalyst form — rows that fail never allocate.
  *     Accepted filters are fully claimed (no residual FilterExec), the
  *     real contract a pushdown connector must honor.
  *   - `SupportsPushDownRequiredColumns`: only the pruned columns are
  *     parsed out of each JSON object (plus nothing else — filter columns
  *     are always part of the pruned schema Spark hands down).
  *   - `MicroBatchStream`: the committed generations are an append-only
  *     feed read through the shared [[MarkWindowStream]]; an offset is the
  *     highest generation (manifest) ordinal consumed, so each micro-batch
  *     plans exactly the pages of the new generations — the
  *     incremental-sync read the reference's change-feed loop implements
  *     by bookmarking its scan position.
  *
  * Usage: `spark.read.format("graft-sync").load(dir)` /
  * `spark.readStream.format("graft-sync").load(dir)`; schema comes from
  * the store's `_schema.json` (written by the sink) or an explicit
  * `.schema(...)`.
  */
class GraftSyncProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sync"

  // user-supplied .schema(...) is allowed (and checked against the value
  // domain); otherwise _schema.json must exist
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftSyncProvider.dirOf(options)
    GraftSyncStore.readSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"graft-sync: no ${GraftSyncStore.SchemaFile} in $dir and no " +
        "user-specified schema — write through the graft-sync sink first " +
        "or pass .schema(...)"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    GraftSyncStore.checkSchema(schema)
    new GraftSyncTable(GraftSyncProvider.dirOf(properties), schema)
  }
}

private[sources] object GraftSyncProvider {
  def dirOf(options: util.Map[String, String]): String = {
    val p = new ConnectorOptions("graft-sync", options).required("path")
    // strip a file: scheme if the caller went through a Hadoop-path API
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
  }
}

private[sources] class GraftSyncTable(dir: String, schema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-sync:$dir"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
    TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
    TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = new ConnectorOptions("graft-sync", options)
    new GraftSyncScanBuilder(dir, schema,
      opts.positiveInt("max-pages-per-trigger"),
      opts.oneOf("starting-offset", "earliest", "latest").getOrElse("earliest"))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftSyncWriteBuilder(dir, info)
}

private[sources] class GraftSyncScanBuilder(dir: String, fullSchema: StructType,
    maxPagesPerTrigger: Option[Int], startingOffset: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) =
      filters.partition(GraftSyncFilters.supports(fullSchema, _))
    pushed = supported
    residual // only what the reader cannot evaluate stays a FilterExec
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark includes every column a pushed-down-rejected filter needs; the
    // reader additionally needs the columns of the CLAIMED filters, which
    // may have been pruned from the output — handled in the reader by
    // parsing (required ∪ pushed-filter columns) and emitting required.
    required = requiredSchema

  /** Per-partition limit: each page reader stops after `n` surviving rows
    * (post-pushed-filter), so a `LIMIT n` over a huge store parses at most
    * n rows per split instead of the whole page set. Spark keeps its own
    * global Limit on top — returning false declares the pushdown partial,
    * which is exactly right for a multi-split scan. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  override def build(): Scan =
    new GraftSyncScan(dir, fullSchema, required, pushed, maxPagesPerTrigger,
      limit, startingOffset)
}

private[sources] object GraftSyncFilters {
  /** A filter is pushable iff the reader can evaluate it with exact SQL
    * semantics: simple predicates over top-level primitive columns
    * (binary-collation string compares, SQL null behavior). Or/Not are
    * deliberately left to Spark — 3-valued logic under nulls is easy to
    * get subtly wrong, and a residual FilterExec costs little next to a
    * page fetch. */
  def supports(schema: StructType, f: Filter): Boolean = f match {
    case And(l, r) => supports(schema, l) && supports(schema, r)
    case EqualTo(a, _) => comparable(schema, a)
    case GreaterThan(a, _) => comparable(schema, a)
    case GreaterThanOrEqual(a, _) => comparable(schema, a)
    case LessThan(a, _) => comparable(schema, a)
    case LessThanOrEqual(a, _) => comparable(schema, a)
    case In(a, _) => comparable(schema, a)
    case IsNull(a) => primitive(schema, a)
    case IsNotNull(a) => primitive(schema, a)
    case _ => false
  }

  private def primitive(schema: StructType, attr: String): Boolean =
    schema.fields.find(_.name == attr).exists(_.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | BooleanType |
           StringType => true
      case _ => false
    })

  private def comparable(schema: StructType, attr: String): Boolean =
    schema.fields.find(_.name == attr).exists(_.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType => true
      case BooleanType => true // equality/In only reach here in practice
      case _ => false
    })

  /** The columns a filter reads. */
  def references(f: Filter): Seq[String] = f.references.toSeq

  /** Evaluate a pushed filter against raw JVM values (pre-Catalyst). SQL
    * semantics: any comparison against NULL is false. */
  def eval(f: Filter, get: String => Any): Boolean = f match {
    case And(l, r) => eval(l, get) && eval(r, get)
    case EqualTo(a, v) => cmp(get(a), v).contains(0)
    case GreaterThan(a, v) => cmp(get(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(get(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(get(a), v).exists(_ <= 0)
    case In(a, vs) => { val x = get(a); x != null && vs.exists(v => cmp(x, v).contains(0)) }
    case IsNull(a) => get(a) == null
    case IsNotNull(a) => get(a) != null
    case other => throw new IllegalStateException(s"unpushable filter evaluated: $other")
  }

  /** 3-valued comparison: None when either side is null. Numerics compare
    * as Long when both sides are integral (no double rounding at 2^53),
    * as Double otherwise; strings compare through UTF8String — genuine
    * UTF-8 byte order, which differs from java.lang.String's UTF-16
    * code-unit order for supplementary characters (String.compareTo would
    * mis-order an emoji against U+E000..U+FFFF, and a claimed filter is
    * never re-checked by Spark). */
  private def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (null, _) | (_, null) => None
    case (a: String, b: String) =>
      Some(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
    case (a: Boolean, b: Boolean) => Some(java.lang.Boolean.compare(a, b))
    case (a: Number, b: Number) =>
      if (integral(a) && integral(b)) Some(java.lang.Long.compare(a.longValue(), b.longValue()))
      else Some(java.lang.Double.compare(a.doubleValue(), b.doubleValue()))
    case _ => None
  }
  private def integral(n: Number): Boolean = n match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }
}

private[sources] class GraftSyncScan(dir: String, fullSchema: StructType,
    required: StructType, pushed: Array[Filter],
    maxPagesPerTrigger: Option[Int], limit: Option[Int],
    startingOffset: String)
    extends Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  // surfaces in `.explain` — the PlanSpec pin for pushdown reads this
  override def description(): String =
    s"GraftSyncScan $dir PushedFilters: [${pushed.mkString(", ")}], " +
      limit.map(n => s"PushedLimit: $n, ").getOrElse("") +
      s"ReadSchema: ${required.catalogString}"

  /** Size statistics from the committed page files — what lets Catalyst
    * treat a small connector table like any other small table (broadcast
    * it under the join threshold) instead of assuming the DSv2 default of
    * "unknown = huge". NDJSON bytes overestimate in-memory row size
    * slightly, which errs the safe way for broadcast decisions. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = GraftSyncStore.committedPages(dir)
      .map(p => try java.nio.file.Files.size(
        java.nio.file.Paths.get(dir, p)) catch { case _: Exception => 0L }).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      splits(GraftSyncStore.committedPages(dir))
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftSyncReaderFactory(fullSchema, required, pushed, limit)
  }

  /** The generation feed as a [[MarkWindowStream]]: mark = the highest
    * generation ordinal (from manifest file names alone), a batch = the
    * pages of the generations in (prev, mark] (see
    * [[GraftSyncStore.window]] for the compaction and rewrite rules), and
    * `max-pages-per-trigger` admits whole generations up to that many
    * pages, at least one. `starting-offset` = earliest (default: the whole
    * feed) or latest (only generations committed after the query starts);
    * only a FRESH query consults it, a checkpointed restart resumes from
    * its stored offset. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val mark = () => GraftSyncStore.mark(dir)
    new MarkWindowStream(mark, (from, to) => splits(GraftSyncStore.window(dir, from, to)),
      new GraftSyncReaderFactory(fullSchema, required, pushed),
      if (startingOffset == "latest") mark else () => 0L,
      maxPagesPerTrigger, GraftSyncStore.admit(dir, _, _, _))
  }

  private def splits(pages: Seq[String]): Array[InputPartition] =
    pages.map(GraftSyncPage(dir, _)).toArray
}

/** One committed page = one split. At 100 TB the page list is just longer;
  * planInputPartitions ships only (dir, name) pairs, never data. */
private[sources] case class GraftSyncPage(dir: String, page: String)
  extends InputPartition

private[sources] class GraftSyncReaderFactory(fullSchema: StructType,
    required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftSyncPage]
    new GraftSyncPageReader(
      java.nio.file.Paths.get(p.dir, p.page), fullSchema, required, pushed, limit)
  }
}

/** Streams one NDJSON page: parse only (required ∪ filter) columns,
  * evaluate pushed filters on the raw values, convert survivors to
  * Catalyst form. */
private[sources] class GraftSyncPageReader(path: java.nio.file.Path,
    fullSchema: StructType, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  // parse schema = required columns plus any claimed-filter column that
  // pruning removed from the output
  private val filterCols = pushed.flatMap(GraftSyncFilters.references).distinct
    .filterNot(c => required.fieldNames.contains(c))
  private val parseFields: Array[StructField] =
    required.fields ++ filterCols.map(c => fullSchema(fullSchema.fieldIndex(c)))
  private val colIndex: Map[String, Int] =
    parseFields.map(_.name).zipWithIndex.toMap

  private val reader = java.nio.file.Files.newBufferedReader(path)
  private var row: InternalRow = _
  private var lineNo = 0L
  private var emitted = 0L

  override def next(): Boolean = {
    // pushed LIMIT: this split has produced enough rows — stop parsing
    if (limit.exists(emitted >= _)) return false
    var line = reader.readLine()
    while (line != null) {
      lineNo += 1
      if (line.nonEmpty) {
        val vals =
          try GraftSyncStore.parseLine(mapper, line, parseFields)
          catch {
            case e: Exception => throw new java.io.IOException(
              s"graft-sync: corrupt page $path line $lineNo: ${e.getMessage}", e)
          }
        def get(c: String): Any = vals(colIndex(c))
        if (pushed.forall(GraftSyncFilters.eval(_, get))) {
          row = GraftSyncStore.internalRow(vals, required.fields)
          emitted += 1
          return true
        }
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
