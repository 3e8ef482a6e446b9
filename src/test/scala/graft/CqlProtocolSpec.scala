package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CqlProtocol

/** The CQL v4 codec layer in isolation: value round-trips across the
  * whole type domain including the edges a wire codec gets wrong first
  * (NaN/±Inf doubles, negative zero, empty and supplementary-plane
  * strings, empty arrays, null elements, Long.Min/Max), and the frame
  * primitives ([string]/[long string]/[bytes]/[string map]). */
class CqlProtocolSpec extends AnyFunSuite {

  private def rt(v: Any, dt: DataType): Any =
    CqlProtocol.decode(CqlProtocol.encode(v, dt), dt)

  test("scalar values round-trip bit-exactly, including the IEEE edges") {
    assert(rt(0, IntegerType) === 0)
    assert(rt(Int.MinValue, IntegerType) === Int.MinValue)
    assert(rt(Long.MinValue, LongType) === Long.MinValue)
    assert(rt(Long.MaxValue, LongType) === Long.MaxValue)
    assert(rt(true, BooleanType) === true)
    assert(rt(false, BooleanType) === false)
    // IEEE edges: compare through raw bits (NaN != NaN; -0.0 == 0.0)
    for (d <- Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue, math.Pi))
      assert(java.lang.Double.doubleToRawLongBits(rt(d, DoubleType).asInstanceOf[Double]) ===
        java.lang.Double.doubleToRawLongBits(d), s"double $d")
    for (f <- Seq(0.0f, -0.0f, Float.NaN, Float.PositiveInfinity, 1.5f))
      assert(java.lang.Float.floatToRawIntBits(rt(f, FloatType).asInstanceOf[Float]) ===
        java.lang.Float.floatToRawIntBits(f), s"float $f")
  }

  test("strings round-trip: empty, unicode, supplementary plane") {
    val supplementary = new String(Character.toChars(0x1F600)) // outside the BMP
    for (s <- Seq("", "plain", "naïve—ütf8", s"emoji $supplementary tail"))
      assert(rt(s, StringType) === s)
  }

  test("timestamps ride as exact epoch-us longs") {
    assert(rt(1705276800123456L, TimestampNTZType) === 1705276800123456L)
  }

  test("arrays round-trip: empty, null elements, every element type") {
    def arr(xs: Any*): Array[Any] = xs.toArray
    assert(rt(arr(), ArrayType(LongType)).asInstanceOf[Array[Any]].toSeq === Seq())
    assert(rt(arr(1L, null, 3L), ArrayType(LongType))
      .asInstanceOf[Array[Any]].toSeq === Seq(1L, null, 3L))
    assert(rt(arr("a", "", null), ArrayType(StringType))
      .asInstanceOf[Array[Any]].toSeq === Seq("a", "", null))
    assert(rt(arr(1.5, -0.0), ArrayType(DoubleType))
      .asInstanceOf[Array[Any]].toSeq === Seq(1.5, -0.0))
  }

  test("SQL NULL is length -1 framing, not a zero-byte value") {
    assert(CqlProtocol.encode(null, LongType) === null)
    assert(CqlProtocol.decode(null, StringType) === null)
    // empty string is NOT null: zero-LENGTH bytes decode to ""
    assert(CqlProtocol.decode(Array.empty[Byte], StringType) === "")
  }

  test("frame primitives round-trip through FrameOut/FrameIn") {
    val out = new CqlProtocol.FrameOut()
      .byte(0x7f).short(0xbeef).int(-42).long(Long.MinValue)
      .string("s").longString("l" * 70000)
      .bytes(Array[Byte](1, 2, 3)).bytes(null)
      .stringMap(Map("CQL_VERSION" -> "3.0.0"))
    val in = new CqlProtocol.FrameIn(out.toBytes)
    assert(in.byte() === 0x7f)
    assert(in.short() === 0xbeef)
    assert(in.int() === -42)
    assert(in.long() === Long.MinValue)
    assert(in.string() === "s")
    assert(in.longString() === "l" * 70000)
    assert(in.bytes().toSeq === Seq[Byte](1, 2, 3))
    assert(in.bytes() === null)
    assert(in.stringMap() === Map("CQL_VERSION" -> "3.0.0"))
    assert(in.remaining === 0)
  }

  test("[short bytes] round-trips and a Prepared RESULT body parses to id + marker count") {
    // [short bytes] codec (the prepared-id framing)
    val sb = new CqlProtocol.FrameIn(
      new CqlProtocol.FrameOut().shortBytes(Array[Byte](9, 8, 7)).toBytes)
    assert(sb.shortBytes().toSeq === Seq[Byte](9, 8, 7))
    // RESULT Prepared (v4 §4.2.5.4): <kind><id><metadata><result_metadata>
    val id = Array.tabulate[Byte](16)(_.toByte)
    val body = new CqlProtocol.FrameOut()
      .int(CqlProtocol.KindPrepared)
      .shortBytes(id)
      .int(0x0001).int(2).int(0)          // metadata: global spec, 2 markers
      .string("ks").string("t")
      .string("id").short(CqlProtocol.TBigint)
      .string("name").short(CqlProtocol.TVarchar)
      .int(0).int(0)                      // result metadata: none
      .toBytes
    val p = CqlProtocol.parsePrepared(body)
    assert(p.id.toSeq === id.toSeq)
    assert(p.markers === 2)
    // a Rows body must be rejected as a Prepared parse
    intercept[java.io.IOException] {
      CqlProtocol.parsePrepared(
        new CqlProtocol.FrameOut().int(CqlProtocol.KindVoid).toBytes)
    }
  }

  test("prepare/execute round-trip over the wire: text once, pages by id, UNPREPARED recovery") {
    val stub = new CqlStubServer().start()
    try {
      stub.createTable("ks", "t", Seq(("id", "bigint"), ("v", "text")), pk = "id")
      val client = new CqlProtocol.Client("127.0.0.1", stub.port)
      try {
        val ins = "INSERT INTO ks.t (id, v) VALUES (?, ?)"
        val p = client.prepare(ins)
        assert(p.id.length === 16, "C*-shaped md5 statement id")
        assert(p.markers === 2, "bind-marker specs enumerate the INSERT columns")
        assert(client.prepare(ins) eq p, "client caches per statement text")
        assert(stub.prepareRequests.get() === 1)
        (1L to 60L).grouped(20).foreach { g =>
          client.batchPrepared(g.map(i => (ins, Seq(
            CqlProtocol.encode(i, LongType),
            CqlProtocol.encode(s"v$i", StringType)))).toSeq)
        }
        assert(stub.prepareRequests.get() === 1, "three batches, one PREPARE")
        assert(stub.rowCount("ks", "t") === 60)
        // paged EXECUTE: the SELECT text crosses once, pages carry the id
        val sel = "SELECT id, v FROM ks.t WHERE " +
          s"token(id) >= ${Long.MinValue} AND token(id) <= ${Long.MaxValue}"
        var res = client.execute(sel, pageSize = 25).get
        var n = res.rows.size
        while (res.pagingState != null) {
          res = client.execute(sel, pageSize = 25, pagingState = res.pagingState).get
          n += res.rows.size
        }
        assert(n === 60)
        assert(stub.executeRequests.get() >= 3, "every page was an EXECUTE")
        assert(stub.prepareRequests.get() === 2, "one more PREPARE for the SELECT")
      } finally client.close()
    } finally stub.stop()
  }

  /** An OutputStream that counts the write calls reaching it — what a
    * socket stream would turn into separate sends. */
  private final class CountingOut extends java.io.OutputStream {
    val bytes = new java.io.ByteArrayOutputStream()
    var writes = 0
    override def write(b: Int): Unit = { writes += 1; bytes.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      writes += 1; bytes.write(b, off, len)
    }
  }

  test("writeFrame issues one write per frame; header pinned; readFrame round-trips") {
    val big = Array.tabulate[Byte](70000)(i => (i * 31).toByte) // > 64 KiB
    for ((body, response, stream, opcode) <- Seq(
        (Array.empty[Byte], false, 0, CqlProtocol.OpOptions),
        (Array[Byte](1, 2, 3), true, 0x1234, CqlProtocol.OpResult),
        (big, false, 7, CqlProtocol.OpBatch))) {
      val sink = new CountingOut
      CqlProtocol.writeFrame(new java.io.DataOutputStream(sink),
        opcode, stream, body, response)
      assert(sink.writes === 1, s"frame of ${body.length} B took ${sink.writes} writes")
      val wire = sink.bytes.toByteArray
      val hdr = java.nio.ByteBuffer.wrap(wire, 0, 9)
      assert(hdr.get() === (if (response) 0x84 else 0x04).toByte, "version")
      assert(hdr.get() === 0, "flags")
      assert(hdr.getShort() === stream.toShort, "stream")
      assert((hdr.get() & 0xff) === opcode, "opcode")
      assert(hdr.getInt() === body.length, "length")
      assert(wire.length === 9 + body.length)
      val (op, st, rb) = CqlProtocol.readFrame(
        new java.io.DataInputStream(new java.io.ByteArrayInputStream(wire)))
      assert((op, st) === ((opcode, stream)))
      assert(rb.toSeq === body.toSeq)
    }
  }

  test("200 sequential EXECUTE exchanges finish in well under a delayed-ACK stall each") {
    val stub = new CqlStubServer().start()
    try {
      stub.createTable("ks", "t", Seq(("id", "bigint"), ("v", "text")), pk = "id")
      val client = new CqlProtocol.Client("127.0.0.1", stub.port)
      try {
        client.batchPrepared((1L to 5L).map(i =>
          ("INSERT INTO ks.t (id, v) VALUES (?, ?)", Seq(
            CqlProtocol.encode(i, LongType), CqlProtocol.encode(s"v$i", StringType)))))
        val sel = "SELECT id, v FROM ks.t WHERE " +
          s"token(id) >= ${Long.MinValue} AND token(id) <= ${Long.MaxValue}"
        client.prepare(sel)
        val t0 = System.nanoTime()
        (1 to 200).foreach(_ => assert(client.execute(sel).get.rows.size === 5))
        val secs = (System.nanoTime() - t0) / 1e9
        // a ~40 ms delayed-ACK stall per direction puts 200 exchanges past 15 s
        assert(secs < 4.0, f"200 exchanges took $secs%.2f s")
        assert(stub.executeRequests.get() === 200)
      } finally client.close()
    } finally stub.stop()
  }

  test("type mapping is total over the connector value domain and rejects outside it") {
    assert(CqlProtocol.sparkTypeOf("list<double>") === ArrayType(DoubleType))
    assert(CqlProtocol.cqlTypeOf(TimestampNTZType) === "bigint")
    intercept[IllegalArgumentException] { CqlProtocol.sparkTypeOf("blob") }
    intercept[IllegalArgumentException] {
      CqlProtocol.encode(Map.empty, MapType(StringType, StringType)) }
  }

  test("orderKey orders every cell type exactly as C* does: encode bytes compared unsigned") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val rnd = new scala.util.Random(11)
    val texts = Array("", "a", "ab", "b", "z", "é", "日本", "\uD83D\uDE00", "A")
    def text() = Seq.fill(rnd.nextInt(3))(texts(rnd.nextInt(texts.length))).mkString
    val domains: Seq[(DataType, Seq[Any], () => Any)] = Seq(
      (IntegerType, Seq(0, 1, -1, Int.MinValue, Int.MaxValue), () => rnd.nextInt()),
      (LongType, Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue), () => rnd.nextLong()),
      (FloatType, Seq(0.0f, -0.0f, 1.0f, -1.0f, Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MinPositiveValue), () => (rnd.nextFloat() - 0.5f) * 1e6f),
      (DoubleType, Seq(0.0, -0.0, 1.0, -1.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue), () => (rnd.nextDouble() - 0.5) * 1e12),
      (BooleanType, Seq(true, false), () => rnd.nextBoolean()),
      (StringType, texts.toSeq, () => text()))
    for ((dt, edges, draw) <- domains) {
      val values = edges ++ Seq.fill(60)(draw())
      val pairs = for (a <- values; b <- values) yield Row(a, b)
      val df = spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
        StructType(Seq(StructField("a", dt), StructField("b", dt))))
      val (ka, kb) = (CqlProtocol.orderKey(col("a")), CqlProtocol.orderKey(col("b")))
      val got = df.select(col("a"), col("b"),
        when(ka < kb, -1).when(ka > kb, 1).otherwise(0)).collect()
      assert(got.length === pairs.length)
      for (r <- got) {
        val want = Integer.signum(java.util.Arrays.compareUnsigned(
          CqlProtocol.encode(r.get(0), dt), CqlProtocol.encode(r.get(1), dt)))
        assert(r.getInt(2) === want, s"$dt: ${r.get(0)} vs ${r.get(1)}")
      }
    }
    // the key is not Spark's value order: −1 ranks above 1, as in C*
    val signed = spark.range(1).select(CqlProtocol.orderKey(lit(-1L)) > CqlProtocol.orderKey(lit(1L)),
      CqlProtocol.orderKey(lit(null).cast("bigint")).isNull).head()
    assert(signed.getBoolean(0) && signed.getBoolean(1))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(CqlProtocol.orderKey(current_date())).collect() }
  }
}
