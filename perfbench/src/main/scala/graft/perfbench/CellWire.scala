package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{CqlStubServer, EsStubServer, SyncConfig}
import graft.sources.{CqlProtocol, EsHttp}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType}

/** The reference topology: `SyncJob` with `merge: cell` over the in-JVM
  * CQL v4 and ES REST stubs, cells `status,val`. The generator writes over
  * one CQL connection and one HTTP connection, straight to the stubs; in
  * traced runs the engine reaches the stubs through counting relays.
  *
  * Sizes: `cqlKeys` C* rows and `esKeys` ES docs preloaded; each change set
  * is `newKeys` new C* keys, `esUpdates` ES-side single-cell updates and
  * `bothKeys` keys updated on both sides in different cells. */
final class CellWire(dir: Path, seed: Long, name: String,
    cqlKeys: Int, esKeys: Int, newKeys: Int, esUpdates: Int, bothKeys: Int,
    traced: Boolean) extends SyncStores {
  import CellRule.Cell

  private def spark = SparkSession.active
  val cells = Seq("status", "val")
  val cql = new CqlStubServer().start()
  val es = new EsStubServer().start()
  private val esPort = es.url.split(":").last.toInt
  val cqlFrames = new java.util.concurrent.atomic.AtomicLong()
  val cqlPrepares = new java.util.concurrent.atomic.AtomicLong()
  val esWire = new EsWire
  val cqlProxy: Option[Proxy] = if (!traced) None else
    Some(new Proxy(cql.port, () =>
      (new CqlCounter(cqlFrames, cqlPrepares), new CqlCounter(cqlFrames, cqlPrepares))))
  val esProxy: Option[Proxy] = if (!traced) None else Some(new Proxy(esPort, () => esWire.counters()))

  val model = new CellModel(cells)
  private val mapper = new ObjectMapper()
  private val client = new CqlProtocol.Client("127.0.0.1", cql.port)
  private var stamp = 1000000000L
  private var nextKey = 1L
  private var changeId = 0
  private val rng = new scala.util.Random(seed)

  cql.createTable("ks", name, Seq(("key", "bigint"), ("ts", "bigint"),
    ("status", "text"), ("val", "bigint")), pk = "key")
  private val (putCode, _) = EsHttp.request("PUT", s"${es.url}/$name", Some(
    """{"mappings":{"properties":{"key":{"type":"long"},"ts":{"type":"long"},
      |"status":{"type":"keyword"},"status_wt":{"type":"long"},
      |"val":{"type":"long"},"val_wt":{"type":"long"}}}}""".stripMargin))
  require(putCode == 200, s"index create answered $putCode")

  // in traced runs, whether the engine's connectors go through the relays
  private var viaProxy = traced
  override def relay(on: Boolean): Unit = viaProxy = on && traced

  private def configFor(cqlPort: Int, esNodePort: Int): SyncConfig = SyncConfig.fromYaml(
    s"""cassandra:
       |  feed: cql://127.0.0.1:$cqlPort/ks/$name?pk=key
       |  snapshot: $dir/snapA
       |  format: graft-cql
       |elasticsearch:
       |  feed: es://127.0.0.1:$esNodePort/$name
       |  snapshot: $dir/snapB
       |  format: graft-es
       |checkpoint_dir: $dir/ckpt
       |merge: cell
       |cells: status,val
       |""".stripMargin)
  private val direct = configFor(cql.port, esPort)
  private val proxied = (cqlProxy zip esProxy).map { case (c, e) => configFor(c.port, e.port) }
  def config: SyncConfig = if (viaProxy) proxied.getOrElse(direct) else direct

  private def nextStamp(): Long = { stamp += 1; stamp }

  /** C*-side writes: one unlogged batch per 1000 rows, each INSERT carrying
    * its stamp as `USING TIMESTAMP` and as the `ts` update column. (Each
    * request/response exchange with the stub costs tens of ms, so the
    * generator sends few, large batches.) Returns when C* acknowledged. */
  private def writeCql(rows: Seq[(Long, Map[String, Any])]): Long = {
    val stamps = rows.map { case (key, values) =>
      val s = nextStamp()
      model.write(fromCql = true, key, values, s)
      s
    }
    rows.zip(stamps).grouped(1000).foreach { chunk =>
      client.batch(chunk.map { case ((key, values), s) =>
        val cols = Seq("key", "ts") ++ cells.filter(values.contains)
        val vals = Seq(CqlProtocol.encode(key, LongType), CqlProtocol.encode(s, LongType)) ++
          cells.filter(values.contains).map(c => CqlProtocol.encode(values(c),
            if (c == "status") StringType else LongType))
        (s"INSERT INTO ks.$name (${cols.mkString(", ")}) VALUES " +
          s"(${cols.map(_ => "?").mkString(", ")}) USING TIMESTAMP ?",
          vals :+ CqlProtocol.encode(s, LongType))
      })
    }
    System.nanoTime()
  }

  /** ES-side writes: one `_bulk` request. Each doc is the key's current
    * merged doc with the changed cells replaced, stamped and versioned
    * with a fresh stamp, as an ES client of the sync would write it.
    * Returns when ES acknowledged. */
  private def writeEs(rows: Seq[(Long, Map[String, Any])]): Long = {
    val body = new StringBuilder
    rows.foreach { case (key, values) =>
      val s = nextStamp()
      val doc = mapper.createObjectNode()
      doc.put("key", key)
      doc.put("ts", s)
      cells.foreach { c =>
        val cur = values.get(c).map(Cell(_, s)).orElse(model.cell(key, c))
        cur.foreach { cell =>
          cell.value match {
            case v: String => doc.put(c, v)
            case v: Long => doc.put(c, v)
            case other => throw new IllegalStateException(s"cell value $other")
          }
          doc.put(s"${c}_wt", cell.stamp)
        }
      }
      body ++= s"""{"index":{"_index":"$name","_id":"$key","version":$s,"version_type":"external_gte"}}\n"""
      body ++= mapper.writeValueAsString(doc) += '\n'
      model.write(fromCql = false, key, values, s)
      esVersions(key.toString) = s
    }
    val (code, resp) = EsHttp.request("POST", s"${es.url}/_bulk", Some(body.toString),
      "application/x-ndjson")
    require(code == 200 && !mapper.readTree(resp).path("errors").asBoolean(true),
      s"generator bulk write failed: $code $resp")
    System.nanoTime()
  }

  private def statusOf(iter: Int): String = s"s$iter-${rng.alphanumeric.take(6).mkString}"
  private def valOf(): Long = rng.nextInt(1000000000).toLong

  def preload(): Unit = {
    writeCql((1 to cqlKeys).map { _ =>
      val k = nextKey; nextKey += 1
      k -> Map[String, Any]("status" -> statusOf(0), "val" -> valOf())
    })
    writeEs((1 to esKeys).map { i =>
      (10000000L + i) -> Map[String, Any]("status" -> statusOf(0), "val" -> valOf())
    })
  }

  def writeChangeSet(iter: Int): Seq[Change] = {
    val existing = model.merged.keysIterator.toIndexedSeq
    val picked = rng.shuffle(existing).take(esUpdates + bothKeys)
    val (esOnly, both) = picked.splitAt(esUpdates)
    val fresh = (1 to newKeys).map { _ => val k = nextKey; nextKey += 1; k }
    def change(key: Long, cell: String, fromA: Boolean, ack: Long) = {
      changeId += 1
      Change(changeId, key, cell, fromA, ack)
    }
    val cqlRows = fresh.map(k => k -> Map[String, Any]("status" -> statusOf(iter), "val" -> valOf())) ++
      both.map(k => k -> Map[String, Any]("status" -> statusOf(iter)))
    val esRows = esOnly.map { k =>
      val c = cells(rng.nextInt(cells.size))
      k -> Map[String, Any](c -> (if (c == "status") statusOf(iter) else valOf()))
    } ++ both.map(k => k -> Map[String, Any]("val" -> valOf()))
    // ES first: the C*-side stamps then lie beyond the ES poll cursor, so
    // their relays come back through the ES feed as the echo round
    val ackB = writeEs(esRows)
    val ackA = writeCql(cqlRows)
    cqlRows.flatMap { case (k, vs) => vs.keys.map(change(k, _, fromA = true, ackA)) } ++
      esRows.flatMap { case (k, vs) => vs.keys.map(change(k, _, fromA = false, ackB)) }
  }

  def changeBytes(changes: Seq[Change]): Long =
    changes.map(c => 16L + (if (c.cell == "status") 10 else 8) + 8).sum

  /** Every C* row: key -> (ts cell, cell -> (value, writetime)). */
  def readCql(): Map[Long, (Option[Long], Map[String, Cell])] = {
    val out = mutable.Map.empty[Long, (Option[Long], Map[String, Cell])]
    var paging: Array[Byte] = null
    var more = true
    while (more) {
      val rs = client.query(
        s"SELECT key, ts, status, WRITETIME(status), val, WRITETIME(val) FROM ks.$name " +
          s"WHERE token(key) >= ${Long.MinValue} AND token(key) <= ${Long.MaxValue}",
        Nil, 5000, paging).get
      rs.rows.foreach { r =>
        def long(b: Array[Byte]) = Option(b).map(CqlProtocol.decode(_, LongType).asInstanceOf[Long])
        val cs = Seq(
          Option(r(2)).map(b => "status" -> Cell(CqlProtocol.decode(b, StringType).toString, long(r(3)).get)),
          Option(r(4)).map(b => "val" -> Cell(long(b).get, long(r(5)).get))).flatten.toMap
        out(long(r(0)).get) = (long(r(1)), cs)
      }
      paging = rs.pagingState
      more = paging != null
    }
    out.toMap
  }

  /** Every ES doc: key -> (ts, cell -> (value, stamp)). */
  def readEs(): Map[Long, (Long, Map[String, Cell])] = {
    val (code, resp) = EsHttp.request("POST", s"${es.url}/$name/_search",
      Some("""{"size":10000000}"""))
    require(code == 200, s"search answered $code")
    val root = mapper.readTree(resp)
    Option(root.path("_scroll_id").asText(null)).foreach(id =>
      EsHttp.request("DELETE", s"${es.url}/_search/scroll", Some(s"""{"scroll_id":["$id"]}""")))
    val out = mutable.Map.empty[Long, (Long, Map[String, Cell])]
    root.path("hits").path("hits").forEach { h =>
      val d = h.path("_source")
      val cs = Seq(
        Option(d.get("status")).filterNot(_.isNull).map(v => "status" -> Cell(v.asText(), d.path("status_wt").asLong())),
        Option(d.get("val")).filterNot(_.isNull).map(v => "val" -> Cell(v.asLong(), d.path("val_wt").asLong()))).flatten.toMap
      out(d.path("key").asLong()) = (d.path("ts").asLong(), cs)
    }
    out.toMap
  }

  def visible(pending: Seq[Change]): Set[Int] = {
    lazy val cqlNow = readCql()
    lazy val esNow = readEs()
    pending.filter { ch =>
      val want = model.cell(ch.key, ch.cell)
      if (ch.fromA) esNow.get(ch.key).flatMap(_._2.get(ch.cell)) == want
      else cqlNow.get(ch.key).flatMap(_._2.get(ch.cell)) == want
    }.map(_.id).toSet
  }

  /** Both stores and both snapshots against the model. */
  def finalCheck(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val cqlNow = readCql()
    val esNow = readEs()
    def snapshot(d: String): Map[Long, (Long, Map[String, Cell])] =
      spark.read.parquet(d).collect().map { r =>
        val cs = Seq(
          Option(r.getAs[String]("status")).map(v => "status" -> Cell(v, r.getAs[Long]("status_wt"))),
          Option(r.getAs[java.lang.Long]("val")).map(v => "val" -> Cell(v.longValue, r.getAs[Long]("val_wt")))).flatten.toMap
        r.getAs[Long]("key") -> (r.getAs[Long]("ts"), cs)
      }.toMap
    val snaps = Seq("snapA" -> snapshot(s"$dir/snapA"), "snapB" -> snapshot(s"$dir/snapB"))
    val keys = model.merged.keySet
    if (cqlNow.keySet != keys) bad += s"C* holds ${cqlNow.size} keys, model ${keys.size}"
    if (esNow.keySet != keys) bad += s"ES holds ${esNow.size} keys, model ${keys.size}"
    snaps.foreach { case (n, s) => if (s.keySet != keys) bad += s"$n holds ${s.size} keys, model ${keys.size}" }
    keys.foreach { k =>
      val want = model.merged(k).toMap
      cqlNow.get(k).foreach { case (ts, cs) =>
        if (cs != want) bad += s"C* key $k cells $cs, model $want"
        if (ts != model.cqlTs.get(k)) bad += s"C* key $k ts $ts, model ${model.cqlTs.get(k)}"
      }
      (("ES" -> esNow.get(k)) +: snaps.map { case (n, s) => n -> s.get(k) }).foreach {
        case (n, Some((ts, cs))) =>
          if (cs != want) bad += s"$n key $k cells $cs, model $want"
          if (ts != model.maxStamp(k)) bad += s"$n key $k ts $ts, model ${model.maxStamp(k)}"
        case _ => ()
      }
    }
    bad.toSeq
  }

  def liveKeys: Long = model.merged.size

  def stateBytes: Long = Harness.diskBytes(dir)

  // the version ES holds per doc id, to tell useful relay writes from waste
  private val esVersions = mutable.Map.empty[String, Long]
  private var esUseful = 0L

  override def wire(): Map[String, Double] = if (!traced) Map.empty else {
    esWire.takeItems().foreach { it =>
      if (it.status == 200 && esVersions.get(it.id).forall(it.version > _)) esUseful += 1
      if (it.status == 200) esVersions(it.id) = math.max(it.version, esVersions.getOrElse(it.id, Long.MinValue))
    }
    // relays made while the relays were bypassed are not in the items
    readEs().foreach { case (k, (ts, _)) => esVersions(k.toString) = ts }
    Map("cql.frames" -> cqlFrames.get, "cql.prepares" -> cqlPrepares.get,
      "cql.wire_bytes" -> cqlProxy.get.wireBytes.get, "es.requests" -> esWire.requests.get,
      "es.wire_bytes" -> esProxy.get.wireBytes.get, "es.docs_sent" -> esWire.sent.get,
      "es.docs_useful" -> esUseful).map { case (k, v) => k -> v.toDouble }
  }

  def storeMaxTs: Option[(Long, Long)] =
    Some((model.cqlTs.values.maxOption.getOrElse(0L), model.maxStamp.values.maxOption.getOrElse(0L)))

  override def close(): Unit = {
    client.close()
    cqlProxy.foreach(_.close())
    esProxy.foreach(_.close())
    cql.stop()
    es.stop()
  }
}
