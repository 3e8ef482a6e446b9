package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The CQL native protocol v4 (the public Cassandra binary protocol
  * spec): frame codec, the type serialization subset matching the
  * engine's connector value domain, and a minimal single-connection
  * client — STARTUP handshake, QUERY with paging, UNLOGGED BATCH.
  * This is the reference's ACTUAL Cassandra wire layer; the zero-egress
  * container has no C* server, so the protocol is pinned against an
  * in-JVM socket stub (CqlStubServer) speaking the same spec.
  *
  * Each frame crosses the socket in one write, and the client turns
  * Nagle's algorithm off (TCP_NODELAY), as a real C* node and every C*
  * driver do. A frame split over several small writes meets Nagle ×
  * delayed ACK: the tail waits ~40 ms per direction per exchange.
  *
  * Value domain mapping (same columns the graft-sync store carries):
  * int↔int(0x0009), long↔bigint(0x0002), float↔float(0x0008),
  * double↔double(0x0007), boolean↔boolean(0x0004), string↔varchar
  * (0x000D), TimestampNTZ↔bigint as epoch-µs (C*'s own `timestamp` is
  * millisecond-precision — the µs feed would truncate, so timestamps
  * ride their exact µs longs; a real deployment declares the column
  * `bigint`, the reference's own schema choice for change feeds), flat
  * arrays↔list<T>(0x0020).
  */
private[graft] object CqlProtocol {
  // opcodes (protocol v4 §2.4)
  val OpError = 0x00
  val OpStartup = 0x01
  val OpReady = 0x02
  val OpOptions = 0x05
  val OpSupported = 0x06
  val OpQuery = 0x07
  val OpResult = 0x08
  val OpPrepare = 0x09
  val OpExecute = 0x0A
  val OpBatch = 0x0D

  // result kinds (§4.2.5)
  val KindVoid = 1
  val KindRows = 2
  val KindPrepared = 4

  // error codes (§9)
  val ErrUnprepared = 0x2500

  // type option ids (§6)
  val TBigint = 0x0002
  val TBoolean = 0x0004
  val TDouble = 0x0007
  val TFloat = 0x0008
  val TInt = 0x0009
  val TVarchar = 0x000D
  val TList = 0x0020

  def typeIdOf(dt: DataType): Int = dt match {
    case IntegerType => TInt
    case LongType | TimestampNTZType => TBigint
    case FloatType => TFloat
    case DoubleType => TDouble
    case BooleanType => TBoolean
    case StringType => TVarchar
    case ArrayType(_, _) => TList
    case other => throw new IllegalArgumentException(
      s"graft-cql: unsupported type ${other.simpleString}")
  }

  /** CQL DDL type name ↔ Spark type (schema inference reads these out of
    * system_schema.columns, exactly as the official drivers do). */
  def sparkTypeOf(cql: String): DataType = cql.trim match {
    case "int" => IntegerType
    case "bigint" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "text" | "varchar" => StringType
    case l if l.startsWith("list<") && l.endsWith(">") =>
      ArrayType(sparkTypeOf(l.stripPrefix("list<").stripSuffix(">")))
    case other => throw new IllegalArgumentException(
      s"graft-cql: unsupported CQL type '$other' — pass .schema(...)")
  }

  def cqlTypeOf(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType | TimestampNTZType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case StringType => "text"
    case ArrayType(et, _) => s"list<${cqlTypeOf(et)}>"
    case other => throw new IllegalArgumentException(
      s"graft-cql: unsupported type ${other.simpleString}")
  }

  // ---------- value codecs ([bytes] framing is the caller's job) ----------

  /** Serialize one JVM value (the connector's raw-value domain) for its
    * Spark type. Returns null for SQL NULL (framed as length −1). */
  def encode(v: Any, dt: DataType): Array[Byte] = (v, dt) match {
    case (null, _) => null
    case (i: Int, IntegerType) =>
      java.nio.ByteBuffer.allocate(4).putInt(i).array()
    case (l: Long, LongType | TimestampNTZType) =>
      java.nio.ByteBuffer.allocate(8).putLong(l).array()
    case (f: Float, FloatType) =>
      java.nio.ByteBuffer.allocate(4).putFloat(f).array()
    case (d: Double, DoubleType) =>
      java.nio.ByteBuffer.allocate(8).putDouble(d).array()
    case (b: Boolean, BooleanType) => Array[Byte](if (b) 1 else 0)
    case (s: String, StringType) => s.getBytes(UTF_8)
    case (a: Array[Any], ArrayType(et, _)) =>
      val parts = a.map(encode(_, et))
      val size = 4 + parts.map(p => 4 + (if (p == null) 0 else p.length)).sum
      val bb = java.nio.ByteBuffer.allocate(size)
      bb.putInt(a.length)
      parts.foreach { p =>
        if (p == null) bb.putInt(-1) else { bb.putInt(p.length); bb.put(p) }
      }
      bb.array()
    case (x, t) => throw new IllegalArgumentException(
      s"graft-cql: cannot encode ${x.getClass.getSimpleName} as ${t.simpleString}")
  }

  /** Catalyst value → [[encode]]'s raw JVM domain (strings and arrays
    * convert; a null array slot stays null, framed as length −1). */
  def rawOf(v: Any, dt: DataType): Any = (v, dt) match {
    case (s: UTF8String, StringType) => s.toString
    case (a: ArrayData, ArrayType(et, _)) =>
      Array.tabulate[Any](a.numElements())(j => if (a.isNullAt(j)) null else rawOf(a.get(j, et), et))
    case _ => v
  }

  /** The order C* breaks a writetime tie by, as a Spark column: the
    * cell's [[encode]] bytes as BinaryType. Spark orders binary exactly
    * as C* compares cell values — unsigned bytes, a shorter prefix first
    * — so −1 (0xFF…) ranks above 1 and 2.0 above −2.0, where Spark's own
    * numeric order says the opposite. A null cell gives null (lowest). A
    * type with no CQL encoding fails analysis. */
  def orderKey(c: Column): Column = GraftShim.mapExpr(c)(CqlOrderKey)

  /** [[orderKey]] of one Catalyst value of type `dt` (null for null). */
  def orderKeyOf(v: Any, dt: DataType): Array[Byte] = encode(rawOf(v, dt), dt)

  private case class CqlOrderKey(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      try { cqlTypeOf(child.dataType); TypeCheckResult.TypeCheckSuccess }
      catch { case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage) }
    override protected def nullSafeEval(v: Any): Any = orderKeyOf(v, child.dataType)
    override protected def withNewChildInternal(c: Expression): CqlOrderKey = copy(child = c)
  }

  /** Decode one value's bytes for its Spark type (null bytes = SQL NULL). */
  def decode(bytes: Array[Byte], dt: DataType): Any =
    if (bytes == null) null
    else dt match {
      case IntegerType => java.nio.ByteBuffer.wrap(bytes).getInt
      case LongType | TimestampNTZType => java.nio.ByteBuffer.wrap(bytes).getLong
      case FloatType => java.nio.ByteBuffer.wrap(bytes).getFloat
      case DoubleType => java.nio.ByteBuffer.wrap(bytes).getDouble
      case BooleanType => bytes.nonEmpty && bytes(0) != 0
      case StringType => new String(bytes, UTF_8)
      case ArrayType(et, _) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val n = bb.getInt
        Array.tabulate[Any](n) { _ =>
          val len = bb.getInt
          if (len < 0) null
          else { val e = new Array[Byte](len); bb.get(e); decode(e, et) }
        }
      case other => throw new IllegalArgumentException(
        s"graft-cql: cannot decode ${other.simpleString}")
    }

  // ---------- frame + primitive writers/readers ----------

  final class FrameOut {
    private val bos = new java.io.ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def byte(b: Int): this.type = { out.writeByte(b); this }
    def short(s: Int): this.type = { out.writeShort(s); this }
    def int(i: Int): this.type = { out.writeInt(i); this }
    def long(l: Long): this.type = { out.writeLong(l); this }
    def string(s: String): this.type = { // [string] = short len + utf8
      val b = s.getBytes(UTF_8); out.writeShort(b.length); out.write(b); this
    }
    def longString(s: String): this.type = { // [long string] = int len + utf8
      val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b); this
    }
    def bytes(b: Array[Byte]): this.type = { // [bytes] = int len (-1 null)
      if (b == null) out.writeInt(-1)
      else { out.writeInt(b.length); out.write(b) }
      this
    }
    def shortBytes(b: Array[Byte]): this.type = { // [short bytes] = short len
      out.writeShort(b.length); out.write(b); this
    }
    def stringMap(m: Map[String, String]): this.type = {
      out.writeShort(m.size)
      m.foreach { case (k, v) => string(k); string(v) }
      this
    }
    def stringMultimap(m: Map[String, Seq[String]]): this.type = {
      out.writeShort(m.size)
      m.foreach { case (k, vs) =>
        string(k); out.writeShort(vs.size); vs.foreach(string)
      }
      this
    }
    def toBytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  final class FrameIn(body: Array[Byte]) {
    private val in = new DataInputStream(new java.io.ByteArrayInputStream(body))
    def byte(): Int = in.readByte() & 0xff
    def short(): Int = in.readShort() & 0xffff
    def int(): Int = in.readInt()
    def long(): Long = in.readLong()
    def string(): String = {
      val b = new Array[Byte](short()); in.readFully(b); new String(b, UTF_8)
    }
    def longString(): String = {
      val b = new Array[Byte](int()); in.readFully(b); new String(b, UTF_8)
    }
    def bytes(): Array[Byte] = {
      val n = int()
      if (n < 0) null else { val b = new Array[Byte](n); in.readFully(b); b }
    }
    def shortBytes(): Array[Byte] = {
      val b = new Array[Byte](short()); in.readFully(b); b
    }
    def stringMap(): Map[String, String] =
      (1 to short()).map(_ => (string(), string())).toMap
    def stringMultimap(): Map[String, Seq[String]] = // [string multimap]
      (1 to short()).map(_ =>
        (string(), (1 to short()).map(_ => string()))).toMap
    def remaining: Int = in.available()
  }

  /** Write one v4 frame (request version 0x04, response 0x84): header
    * and body in a single `write`, so no part of it waits on Nagle. */
  def writeFrame(out: DataOutputStream, opcode: Int, stream: Int,
      body: Array[Byte], response: Boolean = false): Unit = {
    val frame = java.nio.ByteBuffer.allocate(9 + body.length)
      .put((if (response) 0x84 else 0x04).toByte)
      .put(0.toByte) // flags: none (no compression, no tracing)
      .putShort(stream.toShort)
      .put(opcode.toByte)
      .putInt(body.length)
      .put(body)
    out.write(frame.array())
    out.flush()
  }

  /** Read one frame; returns (opcode, stream, body). */
  def readFrame(in: DataInputStream): (Int, Int, Array[Byte]) = {
    in.readByte() // version
    in.readByte() // flags
    val stream = in.readShort().toInt
    val opcode = in.readByte() & 0xff
    val len = in.readInt()
    val body = new Array[Byte](len)
    in.readFully(body)
    (opcode, stream, body)
  }

  /** One Rows result's decoded payload. */
  case class RowsResult(columns: Seq[(String, Int)],
      rows: Seq[Array[Array[Byte]]], pagingState: Array[Byte])

  /** A prepared statement: server-assigned id + bind-marker count (−1 if
    * the server's metadata did not enumerate markers). */
  case class Prepared(id: Array[Byte], markers: Int)

  /** The server no longer knows a prepared id (error 0x2500) — the
    * normal signal after a coordinator restart or cache eviction; the
    * client re-prepares and retries. */
  final class UnpreparedException(msg: String) extends java.io.IOException(msg)

  /** Parse a RESULT Prepared body (v4 §4.2.5.4): <id><metadata>
    * <result_metadata>. Only the id and the bind-marker count are
    * consumed — the col specs describe types the client already knows. */
  def parsePrepared(body: Array[Byte]): Prepared = {
    val f = new FrameIn(body)
    val kind = f.int()
    if (kind != KindPrepared) throw new java.io.IOException(
      s"graft-cql: expected Prepared result, got kind $kind")
    val id = f.shortBytes()
    val markers =
      if (f.remaining >= 8) { f.int() /* flags */; f.int() }
      else -1
    Prepared(id, markers)
  }

  /** Parse a RESULT frame body: Void → None, Rows → decoded payload. */
  def parseResult(body: Array[Byte]): Option[RowsResult] = {
    val f = new FrameIn(body)
    f.int() match {
      case KindVoid => None
      case KindRows =>
        val flags = f.int()
        val nCols = f.int()
        val pagingState = if ((flags & 0x0002) != 0) f.bytes() else null
        val globalSpec = (flags & 0x0001) != 0
        if (globalSpec) { f.string(); f.string() } // ks, table once
        val cols = (1 to nCols).map { _ =>
          if (!globalSpec) { f.string(); f.string() }
          val name = f.string()
          val tid = f.short()
          if (tid == TList) f.short() // consume the element type option
          (name, tid)
        }
        val nRows = f.int()
        val rows = (1 to nRows).map { _ =>
          Array.fill(nCols)(f.bytes())
        }
        Some(RowsResult(cols, rows, pagingState))
      case other => throw new java.io.IOException(
        s"graft-cql: unexpected RESULT kind $other")
    }
  }

  /** Minimal blocking single-connection client: one STARTUP handshake,
    * then synchronous QUERY/BATCH exchanges (stream id 0 — one in-flight
    * request per connection, which is exactly what a partition reader or
    * a bulk writer needs; parallelism comes from Spark's partitions, not
    * from protocol pipelining). */
  final class Client(host: String, port: Int) extends AutoCloseable {
    private val socket = new Socket(host, port)
    socket.setSoTimeout(120000)
    socket.setTcpNoDelay(true) // as every C* driver: frames are whole writes
    private val out = new DataOutputStream(socket.getOutputStream)
    private val in = new DataInputStream(socket.getInputStream)

    { // OPTIONS → SUPPORTED, then STARTUP → READY — the drivers' own
      // connection preamble: learn the server's supported CQL versions
      // BEFORE committing to one (and negotiate no compression).
      writeFrame(out, OpOptions, 0, Array.empty)
      val (sop, _, sbody) = readFrame(in)
      if (sop != OpSupported) throw new java.io.IOException(
        s"graft-cql: OPTIONS rejected: ${errorText(sop, sbody)}")
      val supported = new FrameIn(sbody).stringMultimap()
      val versions = supported.getOrElse("CQL_VERSION", Nil)
      if (versions.nonEmpty && !versions.exists(_.startsWith("3.")))
        throw new java.io.IOException(
          s"graft-cql: server supports no CQL 3.x (got ${versions.mkString(", ")})")
      writeFrame(out, OpStartup, 0,
        new FrameOut().stringMap(Map("CQL_VERSION" -> "3.0.0")).toBytes)
      val (op, _, body) = readFrame(in)
      if (op != OpReady) throw new java.io.IOException(
        s"graft-cql: STARTUP rejected: ${errorText(op, body)}")
    }

    /** QUERY with optional positional values and paging. */
    def query(cql: String, values: Seq[Array[Byte]] = Nil,
        pageSize: Int = 0, pagingState: Array[Byte] = null): Option[RowsResult] = {
      val f = new FrameOut().longString(cql).short(0x0001) // consistency ONE
      var flags = 0
      if (values.nonEmpty) flags |= 0x01
      if (pageSize > 0) flags |= 0x04
      if (pagingState != null) flags |= 0x08
      f.byte(flags)
      if (values.nonEmpty) {
        f.short(values.size)
        values.foreach(f.bytes)
      }
      if (pageSize > 0) f.int(pageSize)
      if (pagingState != null) f.bytes(pagingState)
      exchange(OpQuery, f.toBytes)
    }

    /** UNLOGGED BATCH of query strings with positional values. */
    def batch(statements: Seq[(String, Seq[Array[Byte]])]): Unit = {
      val f = new FrameOut().byte(1) // type 1 = UNLOGGED
      f.short(statements.size)
      statements.foreach { case (cql, values) =>
        f.byte(0) // kind 0: query string
        f.longString(cql)
        f.short(values.size)
        values.foreach(f.bytes)
      }
      f.short(0x0001) // consistency ONE
      f.byte(0) // batch flags
      exchange(OpBatch, f.toBytes)
      ()
    }

    // ---- prepared statements (the hot-path wire shape every real C*
    // deployment expects: statement text crosses the wire ONCE per
    // connection; every further page/batch carries only the 16-byte id) --

    private val preparedCache =
      scala.collection.mutable.LinkedHashMap.empty[String, Prepared]

    /** PREPARE (cached per connection): id + bind-marker count. */
    def prepare(cql: String): Prepared =
      preparedCache.getOrElseUpdate(cql, {
        writeFrame(out, OpPrepare, 0, new FrameOut().longString(cql).toBytes)
        val (op, _, resp) = readFrame(in)
        if (op != OpResult) throw new java.io.IOException(
          s"graft-cql: PREPARE failed: ${errorText(op, resp)}")
        parsePrepared(resp)
      })

    /** EXECUTE a prepared statement (same parameter shape as QUERY).
      * On UNPREPARED (0x2500 — coordinator restarted / evicted the id)
      * the statement is re-prepared once and the EXECUTE retried: the
      * drivers' standard recovery, invisible to the caller. */
    def execute(cql: String, values: Seq[Array[Byte]] = Nil,
        pageSize: Int = 0, pagingState: Array[Byte] = null): Option[RowsResult] = {
      def attempt(): Option[RowsResult] = {
        val p = prepare(cql)
        require(p.markers < 0 || p.markers == values.size,
          s"graft-cql: prepared '$cql' has ${p.markers} bind markers, got ${values.size} values")
        val f = new FrameOut().shortBytes(p.id).short(0x0001) // consistency ONE
        var flags = 0
        if (values.nonEmpty) flags |= 0x01
        if (pageSize > 0) flags |= 0x04
        if (pagingState != null) flags |= 0x08
        f.byte(flags)
        if (values.nonEmpty) { f.short(values.size); values.foreach(f.bytes) }
        if (pageSize > 0) f.int(pageSize)
        if (pagingState != null) f.bytes(pagingState)
        exchange(OpExecute, f.toBytes)
      }
      try attempt() catch {
        case _: UnpreparedException => preparedCache.remove(cql); attempt()
      }
    }

    /** UNLOGGED BATCH of PREPARED statements (kind-1 entries carry only
      * ids — the reference driver's write shape; statement text is sent
      * once in PREPARE, then each batch is ids + values). Re-prepares and
      * retries once on UNPREPARED. */
    def batchPrepared(statements: Seq[(String, Seq[Array[Byte]])]): Unit = {
      def attempt(): Unit = {
        val ids = statements.map { case (cql, values) => (prepare(cql), values) }
        val f = new FrameOut().byte(1) // type 1 = UNLOGGED
        f.short(ids.size)
        ids.foreach { case (p, values) =>
          f.byte(1) // kind 1: prepared id
          f.shortBytes(p.id)
          f.short(values.size)
          values.foreach(f.bytes)
        }
        f.short(0x0001) // consistency ONE
        f.byte(0) // batch flags
        exchange(OpBatch, f.toBytes)
        ()
      }
      try attempt() catch {
        case _: UnpreparedException => preparedCache.clear(); attempt()
      }
    }

    private def exchange(opcode: Int, body: Array[Byte]): Option[RowsResult] = {
      writeFrame(out, opcode, 0, body)
      val (op, _, resp) = readFrame(in)
      if (op != OpResult) {
        if (op == OpError && new FrameIn(resp).int() == ErrUnprepared)
          throw new UnpreparedException(errorText(op, resp))
        throw new java.io.IOException(
          s"graft-cql: request failed: ${errorText(op, resp)}")
      }
      parseResult(resp)
    }

    private def errorText(op: Int, body: Array[Byte]): String =
      if (op == OpError) {
        val f = new FrameIn(body)
        val code = f.int()
        s"error 0x${code.toHexString}: ${f.string()}"
      } else s"unexpected opcode $op"

    override def close(): Unit = socket.close()
  }
}
