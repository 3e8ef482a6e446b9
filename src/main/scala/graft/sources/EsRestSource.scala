package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-es` — the reference's ACTUAL Elasticsearch I/O layer as a
  * DataSource V2 connector speaking the real ES REST protocol over HTTP:
  * `_bulk` NDJSON writes on the sink side, sliced point-in-time scans on
  * the read side (`_pit` + `search_after` paging — the only scan; a
  * cluster without PIT, before ES 7.10, fails at "open PIT failed"),
  * mapping inference from `GET /{index}/_mapping`. The zero-egress
  * container has no ES server, so the protocol is pinned against an
  * in-JVM HTTP stub (EsRestConnectorSpec / EsStubServer) that implements
  * exactly the endpoint surface this connector consumes — the connector
  * itself carries no test hooks and would run against a real cluster
  * unchanged.
  *
  * Scale shape (the 1000-executor story):
  *   - READ: one InputPartition per PIT SLICE (`slice: {id, max}` —
  *     ES's server-side partitioning of a scan); each executor drains
  *     its slice independently, `read-slices` controls the fan-out,
  *     `scroll-size` bounds each page (per-request memory) and
  *     `scroll-keepalive` is the PIT keep-alive. planInputPartitions
  *     ships (node, index, sliceId) tuples, never data.
  *   - WRITE: each task batches rows into bounded `_bulk` bodies
  *     (`bulk-size` rows per request) — writer memory is constant in
  *     partition size, exactly the reference's batched-bulk loop.
  *
  * Semantics contracts, stated honestly:
  *   - Writes are AT-LEAST-ONCE made CONVERGENT by document identity:
  *     `id-column` names the `_id` (index = upsert in ES), so task
  *     retries and job replays overwrite instead of duplicating — the
  *     reference sync loop's idempotency rule. Auto-assigned ids would
  *     duplicate on retry, so they require an explicit
  *     `allow-auto-ids=true` opt-in.
  *   - Filter pushdown is DATA-SKIPPING ONLY, never claimed: pushable
  *     predicates translate to a `bool.filter` prefilter in the search
  *     body, but every filter is also returned as residual so Spark
  *     re-verifies — ES analyzed-text `term` semantics differ from SQL
  *     equality on text fields, and a claimed filter is never
  *     re-checked. Pruning IS exact: `_source.includes` carries only
  *     the needed columns.
  *   - Timestamps ride as epoch-µs JSON numbers (the graft-sync value
  *     domain; a real-cluster deployment maps such fields as `long` or
  *     a custom date format — documented deviation from ES's default
  *     ISO strings).
  *
  * Usage:
  *   spark.read.format("graft-es").option("nodes", "http://host:9200")
  *     .option("index", "events").option("read-slices", "8").load()
  *   df.write.format("graft-es").option("nodes", ...).option("index", ...)
  *     .option("id-column", "event_id").mode("append").save()
  */
class EsRestProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-es"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = new ConnectorOptions("graft-es", options)
    EsRest.mappingSchema(EsRest.nodeOf(opts), EsRest.indexOf(opts))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    GraftSyncStore.checkSchema(schema) // same value domain as graft-sync
    val opts = new ConnectorOptions("graft-es", properties)
    new EsRestTable(EsRest.nodeOf(opts), EsRest.indexOf(opts), schema)
  }
}

private[sources] object EsRest {
  private val mapper = new ObjectMapper()

  // one coordinating node is enough
  def nodeOf(opts: ConnectorOptions): String =
    opts.required("nodes").split(",").head.stripSuffix("/")

  // .load("idx") surfaces as path; .option("index", ...) wins
  def indexOf(opts: ConnectorOptions): String =
    opts.required("index", opts.string("path"))

  /** Schema from `GET /{index}/_mapping` — the ES type → Spark type
    * subset of the connector's value domain. Unmapped/unsupported ES
    * types fail loudly (a silently-skipped column is schema drift). */
  def mappingSchema(node: String, index: String): StructType = {
    val (code, body) = EsHttp.request("GET", s"$node/$index/_mapping", None)
    require(code == 200, s"graft-es: GET _mapping failed ($code): $body")
    val props = mapper.readTree(body).path(index).path("mappings").path("properties")
    require(props.isObject && props.size() > 0,
      s"graft-es: index '$index' has no mapped properties")
    val fields = props.properties().asScala.toSeq
      .map(e => (e.getKey, e.getValue.path("type").asText()))
      .sortBy(_._1)
      .map {
        case (name, "long") => StructField(name, LongType)
        case (name, "integer") => StructField(name, IntegerType)
        case (name, "double") => StructField(name, DoubleType)
        case (name, "float") => StructField(name, FloatType)
        case (name, "boolean") => StructField(name, BooleanType)
        case (name, "keyword" | "text") => StructField(name, StringType)
        case (name, "date") => StructField(name, TimestampNTZType)
        // dense_vector is ES's embedding field — float elements (the
        // index-time element_type float default; a bit/byte-quantized
        // field would need .schema(...)). ES has no dedicated array
        // mapping (any field is multi-valued), so vectors are the one
        // mapping that DECLARES an array shape.
        case (name, "dense_vector") => StructField(name, ArrayType(FloatType))
        case (name, other) => throw new IllegalArgumentException(
          s"graft-es: unsupported mapping type '$other' for field '$name' " +
            "— pass .schema(...) to override")
      }
    StructType(fields)
  }

  /** Pushable filters → an ES `bool.filter` prefilter (jackson-built).
    * Only ever a PREFILTER: the caller returns all filters as residual. */
  def queryJson(mapper: ObjectMapper, filters: Array[Filter]): JsonNode = {
    val clauses = mapper.createArrayNode()
    def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode,
        k: String, v: Any): Boolean = v match {
      case s: String => o.put(k, s); true
      case i: java.lang.Integer => o.put(k, i.intValue()); true
      case l: java.lang.Long => o.put(k, l.longValue()); true
      case f: java.lang.Float => o.put(k, f.floatValue()); true
      case d: java.lang.Double => o.put(k, d.doubleValue()); true
      case b: java.lang.Boolean => o.put(k, b.booleanValue()); true
      case _ => false // non-primitive literal: skip the clause entirely
    }
    def add(f: Filter): Unit = f match {
      case And(l, r) => add(l); add(r)
      case EqualTo(a, v) =>
        val term = mapper.createObjectNode()
        if (putVal(term.putObject("term"), a, v)) clauses.add(term)
      case In(a, vs) =>
        val terms = mapper.createObjectNode()
        val arr = terms.putObject("terms").putArray(a)
        val tmp = mapper.createObjectNode()
        if (vs.forall(v => putVal(tmp, "x", v))) {
          vs.foreach {
            case s: String => arr.add(s)
            case i: java.lang.Integer => arr.add(i.intValue())
            case l: java.lang.Long => arr.add(l.longValue())
            case f: java.lang.Float => arr.add(f.floatValue())
            case d: java.lang.Double => arr.add(d.doubleValue())
            case b: java.lang.Boolean => arr.add(b.booleanValue())
            case _ => ()
          }
          clauses.add(terms)
        }
      case GreaterThan(a, v) => range(a, "gt", v)
      case GreaterThanOrEqual(a, v) => range(a, "gte", v)
      case LessThan(a, v) => range(a, "lt", v)
      case LessThanOrEqual(a, v) => range(a, "lte", v)
      case IsNotNull(a) =>
        clauses.add(mapper.createObjectNode()
          .set[JsonNode]("exists", mapper.createObjectNode().put("field", a)))
      case IsNull(a) =>
        val not = mapper.createObjectNode()
        not.putObject("bool").putArray("must_not")
          .addObject().set[JsonNode]("exists",
            mapper.createObjectNode().put("field", a))
        clauses.add(not)
      case _ => () // unpushable: Spark's residual filter handles it
    }
    def range(a: String, op: String, v: Any): Unit = {
      val r = mapper.createObjectNode()
      if (putVal(r.putObject("range").putObject(a), op, v)) clauses.add(r)
    }
    filters.foreach(add)
    if (clauses.isEmpty)
      mapper.createObjectNode().set[JsonNode]("match_all", mapper.createObjectNode())
    else {
      val q = mapper.createObjectNode()
      q.putObject("bool").set[JsonNode]("filter", clauses)
      q
    }
  }
}

/** Minimal HTTP client over the JDK's HttpURLConnection — no external
  * dependency, stateless (safe on executors), bounded timeouts. */
private[graft] object EsHttp {
  def request(method: String, url: String, body: Option[String],
      contentType: String = "application/json"): (Int, String) = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      val os = conn.getOutputStream
      try os.write(b.getBytes("UTF-8")) finally os.close()
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text =
      if (is == null) ""
      else try new String(is.readAllBytes(), "UTF-8") finally is.close()
    (code, text)
  }
}

private[sources] class EsRestTable(node: String, index: String,
    schema: StructType) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-es:$node/$index"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = new ConnectorOptions("graft-es", options)
    new EsRestScanBuilder(node, index, schema,
      opts.positiveInt("read-slices").getOrElse(4),
      opts.positiveInt("scroll-size").getOrElse(1000),
      opts.string("scroll-keepalive").getOrElse("1m"),
      opts.column("incremental-column", schema))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new EsRestWriteBuilder(node, index, info)
}

private[sources] class EsRestScanBuilder(node: String, index: String,
    fullSchema: StructType, slices: Int, pageSize: Int, keepalive: String,
    incrementalCol: Option[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // prefilter-only pushdown: ship the pushable subset to ES for data
    // skipping but return EVERYTHING as residual — ES's analyzed-text
    // term semantics are not SQL equality, so Spark must re-verify
    pushed = filters.filter(GraftSyncFilters.supports(fullSchema, _))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new EsRestScan(node, index, required, pushed, slices, pageSize,
      keepalive, incrementalCol)
}

private[sources] class EsRestScan(node: String, index: String,
    required: StructType, pushed: Array[Filter], slices: Int,
    pageSize: Int, keepalive: String, incrementalCol: Option[String])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"EsRestScan $node/$index slices=$slices " +
      s"Prefilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  /** Set when Spark turns this scan into a stream ([[toMicroBatchStream]]). */
  @volatile private var streamed = false

  /** A batch scan's `GET /{index}/_count` → row statistics (bytes
    * unknown): lets Catalyst see a small index as broadcastable-ish
    * instead of the DSv2 "unknown = huge" default. A stream's scan reports
    * none: Spark reads them for every micro-batch, and the count is of
    * the whole index, not the batch's window. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows: Option[Long] =
      if (streamed) None
      else try {
        val (code, body) = EsHttp.request("GET", s"$node/$index/_count", None)
        if (code == 200)
          Some(new ObjectMapper().readTree(body).path("count").asLong())
        else None
      } catch { case _: Exception => None }
    override def sizeInBytes(): java.util.OptionalLong =
      rows.map(n => java.util.OptionalLong.of(n * 256L)) // coarse NDJSON-row estimate
        .getOrElse(java.util.OptionalLong.empty())
    override def numRows(): java.util.OptionalLong =
      rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  }

  override def planInputPartitions(): Array[InputPartition] = partitions(None)

  /** One slice per partition; a micro-batch's (tsCol, from, to] `window`
    * rides on every slice. */
  private def partitions(window: Option[(String, Long, Long)]): Array[InputPartition] =
    (0 until slices)
      .map(i => EsSlice(node, index, i, slices, pageSize, keepalive,
        window): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new EsRestReaderFactory(required, pushed)

  /** The poll-by-timestamp stream ([[MarkWindowStream]]) over the real
    * wire — exactly how the reference detects changed rows (the update-ts
    * column it reads from `_timestamp`-style fields). The mark comes from
    * a size-0 `max` aggregation; each window still reads as sliced PIT
    * scans, the batch scan's parallelism. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    streamed = true
    MarkWindowStream.byTimestamp("graft-es", incrementalCol, maxTs,
      partitions, createReaderFactory())
  }

  private def maxTs(col: String): Option[Long] = {
    val m = new ObjectMapper()
    val body = m.createObjectNode()
    body.put("size", 0)
    body.putObject("aggs").putObject("m").putObject("max").put("field", col)
    val (code, resp) = EsHttp.request("POST", s"$node/$index/_search",
      Some(m.writeValueAsString(body)))
    if (code != 200) throw new java.io.IOException(
      s"graft-es: max-$col poll failed ($code): $resp")
    val v = m.readTree(resp).path("aggregations").path("m").path("value")
    if (v.isNumber) Some(v.asLong()) else None
  }
}

/** One scan slice = one split (ES partitions the scan server-side).
  * `window` (tsCol, from, to] narrows a micro-batch to its offset range. */
private[sources] case class EsSlice(node: String, index: String,
    sliceId: Int, maxSlices: Int, pageSize: Int, keepalive: String,
    window: Option[(String, Long, Long)])
  extends InputPartition

private[sources] class EsRestReaderFactory(required: StructType,
    pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EsPitReader(partition.asInstanceOf[EsSlice], required, pushed)
}

/** Drains one slice over PIT + search_after — the documented replacement
  * for scroll (discouraged since ES 7.10): open a point-in-time on the
  * index, page `POST /_search` bodies carrying `pit: {id}`, the slice
  * clause INSIDE the PIT body, a `[_shard_doc]` sort (the cheapest
  * total-order tiebreak — doc position, no field data), and
  * `search_after: <last hit's sort key>`; the PIT is closed on
  * completion. Unlike a scroll context (server-held per-scan state that
  * leaks segment memory if a reader dies before DELETE), a PIT holds
  * only an index VIEW shared by all its pages — crash cleanup is the
  * keep-alive expiry, not a leak class. Each reader opens its own PIT:
  * lifecycle stays partition-local (a dead task cleans itself), at the
  * cost of one `_pit` round-trip per slice — a fleet-scale deployment
  * could share one PIT opened at planning time, at the cost of driver-
  * side cleanup responsibility. */
private[sources] class EsPitReader(slice: EsSlice, required: StructType,
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val fields = required.fields
  private var pitId: String = _
  private var searchAfter: JsonNode = _ // the previous page's last sort key
  private var page: Iterator[JsonNode] = Iterator.empty
  private var exhausted = false
  private var row: InternalRow = _

  private def openPit(): Unit = {
    val (code, body) = EsHttp.request("POST",
      s"${slice.node}/${slice.index}/_pit?keep_alive=${slice.keepalive}",
      Some(""))
    if (code != 200) throw new java.io.IOException(
      s"graft-es: open PIT failed ($code): $body")
    pitId = mapper.readTree(body).path("id").asText("")
    if (pitId.isEmpty) throw new java.io.IOException(
      s"graft-es: PIT response carried no id: $body")
  }

  private def searchBody(): String = {
    val body = mapper.createObjectNode()
    body.put("size", slice.pageSize)
    if (slice.maxSlices > 1) {
      val s = body.putObject("slice")
      s.put("id", slice.sliceId)
      s.put("max", slice.maxSlices)
    }
    val base = EsRest.queryJson(mapper, pushed)
    val query = slice.window match {
      case None => base
      case Some((col, from, to)) =>
        val q = mapper.createObjectNode()
        val fs = q.putObject("bool").putArray("filter")
        fs.add(base)
        val r = fs.addObject().putObject("range").putObject(col)
        r.put("gt", from)
        r.put("lte", to)
        q
    }
    body.set[JsonNode]("query", query)
    val src = body.putObject("_source")
    val inc = src.putArray("includes")
    fields.foreach(f => inc.add(f.name))
    val pit = body.putObject("pit")
    pit.put("id", pitId)
    pit.put("keep_alive", slice.keepalive)
    // _shard_doc: the PIT-only implicit doc-position field — a total
    // order with zero fielddata cost, exactly what search_after needs
    body.putArray("sort").addObject().put("_shard_doc", "asc")
    if (searchAfter != null) body.set[JsonNode]("search_after", searchAfter)
    mapper.writeValueAsString(body)
  }

  private def fetch(): Unit = {
    if (pitId == null) openPit()
    val (code, respBody) = EsHttp.request("POST",
      s"${slice.node}/_search", Some(searchBody()))
    if (code != 200) throw new java.io.IOException(
      s"graft-es: PIT search failed ($code): $respBody")
    val resp = mapper.readTree(respBody)
    pitId = resp.path("pit_id").asText(pitId) // the server may refresh it
    val hits = resp.path("hits").path("hits")
    if (!hits.isArray || hits.size() == 0) { exhausted = true; page = Iterator.empty }
    else {
      // a page shorter than `size` is the slice's last: a PIT does not
      // change under the reader, so another search would come back empty
      exhausted = hits.size() < slice.pageSize
      searchAfter = hits.get(hits.size() - 1).path("sort")
      page = hits.elements().asScala.map(_.path("_source")).toSeq.iterator
    }
  }

  override def next(): Boolean = {
    while (!page.hasNext && !exhausted) fetch()
    if (!page.hasNext) return false
    row = GraftSyncStore.internalRow(
      GraftSyncStore.parseNode(page.next(), fields), fields)
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = if (pitId != null) {
    val b = mapper.createObjectNode()
    b.put("id", pitId)
    try EsHttp.request("DELETE", s"${slice.node}/_pit",
      Some(mapper.writeValueAsString(b)))
    catch { case _: Exception => () } // best-effort: keep-alive expires it
  }
}
