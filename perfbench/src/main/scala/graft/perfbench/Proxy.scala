package graft.perfbench

import java.io.{InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** A counting TCP relay in front of one stub port, used in traced runs
  * only: the engine's connectors talk to the relay, the relay to the stub.
  * Each direction's bytes pass through a [[Counter]] that sees them in
  * order, so protocol units (CQL frames, HTTP requests) are counted
  * where the work crosses the wire. */
final class Proxy(targetPort: Int, counters: () => (Counter, Counter)) extends AutoCloseable {
  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  private val sockets = new ConcurrentLinkedQueue[Socket]()
  private val threads = new ConcurrentLinkedQueue[Thread]()
  @volatile private var open = true
  val wireBytes = new AtomicLong()

  def port: Int = server.getLocalPort

  private def thread(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
  }

  private def pump(in: InputStream, out: OutputStream, c: Counter): Unit = {
    val buf = new Array[Byte](64 * 1024)
    try {
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) {
          wireBytes.addAndGet(n)
          c.feed(buf, n)
          out.write(buf, 0, n)
          out.flush()
        }
        n = in.read(buf)
      }
    } catch { case _: java.io.IOException => () }
    finally {
      // half-close so the other side sees EOF, as it would without the relay
      try out.close() catch { case _: java.io.IOException => () }
    }
  }

  thread("proxy-accept") {
    while (open) {
      try {
        val client = server.accept()
        val upstream = new Socket(InetAddress.getLoopbackAddress, targetPort)
        Seq(client, upstream).foreach { s => s.setTcpNoDelay(true); sockets.add(s) }
        val (up, down) = counters()
        thread("proxy-up")(pump(client.getInputStream, upstream.getOutputStream, up))
        thread("proxy-down")(pump(upstream.getInputStream, client.getOutputStream, down))
      } catch { case _: java.io.IOException => () }
    }
  }

  override def close(): Unit = {
    open = false
    server.close()
    sockets.forEach(s => try s.close() catch { case _: java.io.IOException => () })
    threads.forEach(_.join(5000))
  }
}

/** Sees one direction of one connection's bytes, in order. */
trait Counter { def feed(buf: Array[Byte], n: Int): Unit }

/** Counts CQL v4 frames (9-byte header, 4-byte body length at offset 5)
  * and PREPARE requests (opcode 0x09). */
final class CqlCounter(frames: AtomicLong, prepares: AtomicLong) extends Counter {
  private val header = new Array[Byte](9)
  private var have = 0
  private var skip = 0L
  def feed(buf: Array[Byte], n: Int): Unit = {
    var i = 0
    while (i < n) {
      if (skip > 0) {
        val k = math.min(skip, (n - i).toLong).toInt
        skip -= k; i += k
      } else {
        header(have) = buf(i); have += 1; i += 1
        if (have == 9) {
          frames.incrementAndGet()
          if (header(4) == 0x09) prepares.incrementAndGet()
          skip = java.nio.ByteBuffer.wrap(header, 5, 4).getInt.toLong & 0xffffffffL
          have = 0
        }
      }
    }
  }
}

/** Splits one direction of an HTTP/1.1 connection into messages (head up
  * to the blank line, then a Content-Length body) and hands each to
  * `onMessage(head, body)`. */
final class HttpCounter(onMessage: (String, Array[Byte]) => Unit) extends Counter {
  private val head = new java.io.ByteArrayOutputStream()
  private var body: java.io.ByteArrayOutputStream = _
  private var remaining = -1L
  private var headText = ""

  private def endOfHead: Boolean = {
    val b = head.toByteArray
    val m = b.length
    m >= 4 && b(m - 4) == '\r' && b(m - 3) == '\n' && b(m - 2) == '\r' && b(m - 1) == '\n'
  }

  def feed(buf: Array[Byte], n: Int): Unit = {
    var i = 0
    while (i < n) {
      if (remaining < 0) {
        head.write(buf(i)); i += 1
        if (endOfHead) {
          headText = head.toString("ISO-8859-1")
          head.reset()
          remaining = headText.linesIterator
            .collectFirst { case l if l.toLowerCase.startsWith("content-length:") =>
              l.substring(15).trim.toLong }
            .getOrElse(0L)
          body = new java.io.ByteArrayOutputStream()
          if (remaining == 0) { onMessage(headText, Array.emptyByteArray); remaining = -1 }
        }
      } else {
        val k = math.min(remaining, (n - i).toLong).toInt
        body.write(buf, i, k)
        remaining -= k; i += k
        if (remaining == 0) { onMessage(headText, body.toByteArray); remaining = -1 }
      }
    }
  }
}

/** One `_bulk` index item: doc id, version sent, status answered. */
final case class BulkItem(id: String, version: Long, status: Int)

/** What the ES relay saw: requests, and per `_bulk` item the doc id, the
  * version sent and the status the store answered. */
final class EsWire {
  val requests = new AtomicLong()
  val sent = new AtomicLong()
  val items = new ConcurrentLinkedQueue[BulkItem]()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def counters(): (Counter, Counter) = {
    val pending = new java.util.concurrent.LinkedBlockingQueue[Seq[(String, Long)]]()
    val up = new HttpCounter((head, body) => {
      requests.incrementAndGet()
      val bulk = head.startsWith("POST /_bulk")
      pending.put(if (!bulk) Nil else {
        val lines = new String(body, "UTF-8").split("\n").filter(_.nonEmpty)
        lines.grouped(2).flatMap { pair =>
          val a = mapper.readTree(pair(0)).path("index")
          if (a.isMissingNode) None
          else Some(a.path("_id").asText() -> a.path("version").asLong(-1L))
        }.toSeq
      })
    })
    val down = new HttpCounter((_, body) => {
      val sent = pending.take()
      if (sent.nonEmpty) {
        val statuses = mutable.ArrayBuffer.empty[Int]
        mapper.readTree(body).path("items").forEach { it =>
          statuses += it.path("index").path("status").asInt(0)
        }
        this.sent.addAndGet(sent.size)
        sent.zip(statuses).foreach { case ((id, v), s) => items.add(BulkItem(id, v, s)) }
      }
    })
    (up, down)
  }

  def takeItems(): Seq[BulkItem] = {
    val out = Seq.newBuilder[BulkItem]
    var x = items.poll()
    while (x != null) { out += x; x = items.poll() }
    out.result()
  }
}
