package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-JVM HTTP stub implementing the minimal Elasticsearch REST surface
  * the `graft-es` connector consumes — PUT index (with mappings), GET
  * `_mapping`/`_count`, POST `_bulk` (NDJSON, per-item results, error
  * injection), POST `{index}/_search?scroll=` with `slice`/`query`/
  * `_source` handling, POST `_search/scroll` continuation, DELETE
  * `_search/scroll`. The zero-egress container has no ES server; this
  * fixture pins the PROTOCOL (request shapes, paging lifecycle, error
  * envelopes) so the connector would run against a real cluster
  * unchanged. Stores documents in memory; slice membership is a stable
  * hash of `_id` (ES slices a scan server-side the same way). */
class EsStubServer {
  private val mapper = new ObjectMapper()
  // index -> (mappings properties node, id -> doc)
  private val indices =
    mutable.LinkedHashMap.empty[String, (JsonNode, mutable.LinkedHashMap[String, JsonNode])]
  // (index, id) -> external version (docs indexed without one are unversioned)
  private val versions = mutable.LinkedHashMap.empty[(String, String), Long]
  // scrollId -> (remaining doc snapshot, page size)
  private val scrolls = mutable.LinkedHashMap.empty[String, (Vector[JsonNode], Int)]
  private val scrollSeq = new AtomicInteger()
  // pitId -> (index, (id, doc) snapshot at open — a POINT IN TIME: writes
  // after the open are invisible to searches inside the PIT)
  private val pits = mutable.LinkedHashMap.empty[String, (String, Vector[(String, JsonNode)])]
  private val pitSeq = new AtomicInteger()

  // observability for the spec
  val bulkRequests = new AtomicInteger()
  val scrollDeletes = new AtomicInteger()
  val pitOpens = new AtomicInteger()
  val pitDeletes = new AtomicInteger()
  val searches = new AtomicInteger() // PIT searches (`POST /_search`)
  val counts = new AtomicInteger() // `GET /<index>/_count`
  @volatile var lastSourceIncludes: Seq[String] = Nil
  @volatile var lastQuery: String = ""
  @volatile var failNextBulkItem: Boolean = false
  // 429-injection: while > 0, each bulk ITEM consumes one token and is
  // rejected with status 429 (es_rejected_execution_exception — ES's
  // bulk-queue backpressure signal) WITHOUT being applied; the doc line
  // is still consumed. Models a busy cluster shedding load item by item.
  val inject429Items = new AtomicInteger(0)

  private var server: HttpServer = _

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def docCount(index: String): Int = indices(index)._2.size

  def start(): EsStubServer = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    this
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripPrefix("/")
    val method = ex.getRequestMethod
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    val parts = path.split("/").filter(_.nonEmpty)
    val (code, resp) = (method, parts.toList) match {
      case ("PUT", idx :: Nil) =>
        val props = mapper.readTree(if (body.isEmpty) "{}" else body)
          .path("mappings").path("properties")
        indices(idx) = (props, mutable.LinkedHashMap.empty)
        (200, """{"acknowledged":true}""")
      case ("GET", idx :: "_mapping" :: Nil) if indices.contains(idx) =>
        val root = mapper.createObjectNode()
        root.putObject(idx).putObject("mappings")
          .set[JsonNode]("properties", indices(idx)._1)
        (200, mapper.writeValueAsString(root))
      case ("GET", idx :: "_count" :: Nil) if indices.contains(idx) =>
        counts.incrementAndGet()
        (200, s"""{"count":${indices(idx)._2.size}}""")
      case ("POST", idx :: "_refresh" :: Nil) if indices.contains(idx) =>
        (200, """{"_shards":{"successful":1}}""")
      case ("POST", "_bulk" :: Nil) => bulk(body)
      case ("POST", idx :: "_search" :: Nil) if indices.contains(idx) =>
        search(idx, body)
      case ("POST", idx :: "_pit" :: Nil) if indices.contains(idx) =>
        pitOpens.incrementAndGet()
        val id = s"pit-${pitSeq.incrementAndGet()}"
        synchronized { pits(id) = (idx, indices(idx)._2.toVector) }
        (200, s"""{"id":"$id"}""")
      case ("POST", "_search" :: Nil) =>
        searches.incrementAndGet()
        pitSearch(body)
      case ("DELETE", "_pit" :: Nil) =>
        pitDeletes.incrementAndGet()
        val id = mapper.readTree(body).path("id").asText()
        val existed = synchronized { pits.remove(id).isDefined }
        (200, s"""{"succeeded":$existed,"num_freed":${if (existed) 1 else 0}}""")
      case ("POST", "_search" :: "scroll" :: Nil) => scrollNext(body)
      case ("DELETE", "_search" :: "scroll" :: Nil) =>
        scrollDeletes.incrementAndGet()
        mapper.readTree(body).path("scroll_id").elements().asScala
          .foreach(id => scrolls.remove(id.asText()))
        (200, """{"succeeded":true}""")
      case _ => (404, s"""{"error":"no handler for $method /$path"}""")
    }
    val bytes = resp.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  } catch {
    case e: Exception =>
      val bytes = s"""{"error":"${e.getMessage}"}""".getBytes("UTF-8")
      ex.sendResponseHeaders(500, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
  }

  private def bulk(body: String): (Int, String) = synchronized {
    bulkRequests.incrementAndGet()
    val lines = body.split("\n").filter(_.nonEmpty)
    val items = mapper.createArrayNode()
    var anyError = false
    var i = 0
    var itemNo = 0
    while (i < lines.length) {
      val envelope = mapper.readTree(lines(i))
      val isDelete = envelope.has("delete")
      val action = envelope.path(if (isDelete) "delete" else "index")
      require(!action.isMissingNode, s"bulk line $i is not an index/delete action")
      val idx = action.path("_index").asText()
      require(indices.contains(idx), s"bulk to unknown index $idx")
      val id = if (action.has("_id")) action.path("_id").asText()
        else java.util.UUID.randomUUID().toString
      val item = items.addObject().putObject(if (isDelete) "delete" else "index")
      item.put("_id", id)
      if (failNextBulkItem && itemNo == 0) {
        anyError = true
        failNextBulkItem = false
        item.putObject("error").put("type", "mapper_parsing_exception")
          .put("reason", "injected failure")
        item.put("status", 400)
        if (!isDelete) i += 1 // still consume the doc line
      } else if (inject429Items.get() > 0 &&
          inject429Items.getAndDecrement() > 0) {
        anyError = true
        item.putObject("error").put("type", "es_rejected_execution_exception")
          .put("reason", "injected bulk-queue rejection")
        item.put("status", 429)
        if (!isDelete) i += 1 // the doc line is consumed but NOT applied
      } else if (isDelete) {
        // ES: deleting a missing doc is not_found (404) but NOT an error
        val existed = indices(idx)._2.remove(id).isDefined
        versions.remove((idx, id))
        item.put("status", if (existed) 200 else 404)
        if (!existed) item.put("result", "not_found")
      } else if (action.path("version_type").asText("") == "external_gte" &&
          action.path("version").isNumber) {
        // ES external versioning: the write lands iff its version is >=
        // the stored one; a smaller version is a 409 version_conflict
        // (per-item error, the request itself still returns 200)
        val v = action.path("version").asLong()
        versions.get((idx, id)) match {
          case Some(cur) if cur > v =>
            anyError = true
            item.putObject("error")
              .put("type", "version_conflict_engine_exception")
              .put("reason", s"current version [$cur] is higher than the one provided [$v]")
            item.put("status", 409)
          case _ =>
            versions((idx, id)) = v
            indices(idx)._2(id) = mapper.readTree(lines(i + 1))
            item.put("status", 200)
        }
        i += 1 // the doc line
      } else {
        indices(idx)._2(id) = mapper.readTree(lines(i + 1))
        item.put("status", 200)
        i += 1 // the doc line
      }
      itemNo += 1
      i += 1
    }
    val root = mapper.createObjectNode()
    root.put("errors", anyError)
    root.set[JsonNode]("items", items)
    (200, mapper.writeValueAsString(root))
  }

  private def search(idx: String, body: String): (Int, String) = synchronized {
    val req = mapper.readTree(body)
    val size = req.path("size").asInt(10)
    if (req.has("aggs")) { // size-0 max agg: the incremental-poll mark
      val field = req.path("aggs").path("m").path("max").path("field").asText()
      val vals = indices(idx)._2.values
        .map(_.path(field)).filter(_.isNumber).map(_.asLong())
      val root = mapper.createObjectNode()
      val m = root.putObject("aggregations").putObject("m")
      if (vals.isEmpty) m.putNull("value") else m.put("value", vals.max)
      return (200, mapper.writeValueAsString(root))
    }
    val includes = req.path("_source").path("includes").elements().asScala
      .map(_.asText()).toSeq
    lastSourceIncludes = includes
    lastQuery = req.path("query").toString
    val (sliceId, maxSlices) =
      if (req.has("slice"))
        (req.path("slice").path("id").asInt(), req.path("slice").path("max").asInt())
      else (0, 1)
    val docs = indices(idx)._2.toVector
      .filter { case (id, _) =>
        maxSlices == 1 || ((id.hashCode % maxSlices) + maxSlices) % maxSlices == sliceId }
      .filter { case (_, d) => evalQuery(req.path("query"), d) }
      .map { case (_, d) => project(d, includes) }
    val sid = s"scroll-${scrollSeq.incrementAndGet()}"
    scrolls(sid) = (docs.drop(size), size)
    (200, pageResponse(sid, docs.take(size)))
  }

  /** PIT search: `POST /_search` with `pit.id`, slice/query/_source as in
    * a scroll body, `sort: [_shard_doc]` and `search_after` pagination.
    * The stub's `_shard_doc` is the doc's position in the PIT snapshot —
    * a stable total order, exactly the field's contract. */
  private def pitSearch(body: String): (Int, String) = synchronized {
    val req = mapper.readTree(body)
    val pitId = req.path("pit").path("id").asText()
    pits.get(pitId) match {
      case None => (404, s"""{"error":"unknown or closed pit id $pitId"}""")
      case Some((_, snapshot)) =>
        val size = req.path("size").asInt(10)
        val includes = req.path("_source").path("includes").elements().asScala
          .map(_.asText()).toSeq
        lastSourceIncludes = includes
        lastQuery = req.path("query").toString
        val (sliceId, maxSlices) =
          if (req.has("slice"))
            (req.path("slice").path("id").asInt(), req.path("slice").path("max").asInt())
          else (0, 1)
        val after =
          if (req.has("search_after")) req.path("search_after").path(0).asLong(-1L)
          else -1L
        val matching = snapshot.zipWithIndex
          .filter { case (_, pos) => pos > after }
          .filter { case ((id, _), _) =>
            maxSlices == 1 || ((id.hashCode % maxSlices) + maxSlices) % maxSlices == sliceId }
          .filter { case ((_, d), _) => evalQuery(req.path("query"), d) }
          .take(size)
        val root = mapper.createObjectNode()
        root.put("pit_id", pitId)
        val hits = root.putObject("hits").putArray("hits")
        matching.foreach { case ((_, d), pos) =>
          val h = hits.addObject()
          h.set[JsonNode]("_source", project(d, includes))
          h.putArray("sort").add(pos.toLong)
        }
        (200, mapper.writeValueAsString(root))
    }
  }

  private def scrollNext(body: String): (Int, String) = synchronized {
    val sid = mapper.readTree(body).path("scroll_id").asText()
    scrolls.get(sid) match {
      case None => (404, s"""{"error":"unknown scroll id $sid"}""")
      case Some((rest, size)) =>
        scrolls(sid) = (rest.drop(size), size)
        (200, pageResponse(sid, rest.take(size)))
    }
  }

  private def pageResponse(sid: String, page: Vector[JsonNode]): String = {
    val root = mapper.createObjectNode()
    root.put("_scroll_id", sid)
    val hits = root.putObject("hits").putArray("hits")
    page.foreach(d => hits.addObject().set[JsonNode]("_source", d))
    mapper.writeValueAsString(root)
  }

  private def project(doc: JsonNode, includes: Seq[String]): JsonNode =
    if (includes.isEmpty) doc
    else {
      val out = mapper.createObjectNode()
      includes.foreach(f => if (doc.has(f)) out.set[JsonNode](f, doc.get(f)))
      out
    }

  /** Evaluate the connector's prefilter subset: match_all, bool.filter
    * over term/terms/range/exists and must_not-exists. */
  private def evalQuery(q: JsonNode, doc: JsonNode): Boolean = {
    if (q.isMissingNode || q.has("match_all")) return true
    if (q.has("bool")) {
      val b = q.path("bool")
      val filters = b.path("filter")
      val ok = !filters.isArray ||
        filters.elements().asScala.forall(evalQuery(_, doc))
      val notOk = !b.path("must_not").isArray ||
        !b.path("must_not").elements().asScala.exists(evalQuery(_, doc))
      return ok && notOk
    }
    if (q.has("term")) {
      val f = q.path("term").properties().asScala.head
      val v = doc.path(f.getKey)
      return !v.isMissingNode && !v.isNull && jsonEq(v, f.getValue)
    }
    if (q.has("terms")) {
      val f = q.path("terms").properties().asScala.head
      val v = doc.path(f.getKey)
      return !v.isMissingNode && !v.isNull &&
        f.getValue.elements().asScala.exists(jsonEq(v, _))
    }
    if (q.has("range")) {
      val f = q.path("range").properties().asScala.head
      val v = doc.path(f.getKey)
      if (v.isMissingNode || v.isNull || !v.isNumber) return false
      val x = v.asDouble()
      return f.getValue.properties().asScala.forall { e =>
        val bound = e.getValue.asDouble()
        e.getKey match {
          case "gt" => x > bound
          case "gte" => x >= bound
          case "lt" => x < bound
          case "lte" => x <= bound
          case _ => true
        }
      }
    }
    if (q.has("exists")) {
      val v = doc.path(q.path("exists").path("field").asText())
      return !v.isMissingNode && !v.isNull
    }
    true
  }

  private def jsonEq(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) a.asDouble() == b.asDouble()
    else a.asText() == b.asText()
}
