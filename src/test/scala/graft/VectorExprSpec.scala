package graft

import graft.functions.{HyperplaneSig, VectorExpressions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The native vec_dot Expression: bit-identical to the higher-order-
  * function formula, codegen-compatible, and correctly type-checked.
  */
class VectorExprSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; VectorExpressions.register(s); s }

  test("vec_dot equals the HOF aggregate formula bit-for-bit on real embeddings") {
    import spark.implicits._
    val diff = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select(
        expr("vec_dot(embedding, embedding)").as("native"),
        expr("aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, z) -> a + z)").as("hof"))
      .filter($"native" =!= $"hof") // exact comparison, no tolerance
      .count()
    assert(diff === 0L)
  }

  test("vec_dot participates in whole-stage codegen") {
    val df = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .selectExpr("vec_dot(embedding, embedding) AS d")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), p) // project with vec_dot stays codegen'd
  }

  test("vec_dot rejects non-float-array inputs at analysis time") {
    val err = intercept[Exception] {
      graft.Tables.lineitem(spark, TestSpark.sf0001)
        .selectExpr("vec_dot(l_orderkey, l_orderkey)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("vec_dot") ||
      err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("vec_dot is null-safe") {
    val r = spark.sql(
      "SELECT vec_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS d")
      .collect()
    assert(r.head.isNullAt(0))
  }

  /** The j31/graphAnnBuild hyperplane tables, restated for the test: a
    * 2P×64 array<array<double>> of md5-nibble-derived weights on a 1-row
    * frame, exactly the ops-side construction. */
  private def planesExpr(p: Int, salt: String): String =
    s"""transform(sequence(0, ${2 * p - 1}), k -> transform(sequence(1, 64),
       |  i -> (CAST(${graft.ops.Hashing.nibbleInt(s"md5(concat('$salt:', k, ':', i))")} AS DOUBLE) / 65536.0) - 0.5))""".stripMargin

  /** The original interpreted-HOF signature fold hp_sig replaces. */
  private def hofSig(off: Int, p: Int): String =
    s"""aggregate(sequence(0, ${p - 1}), CAST(0 AS BIGINT), (acc, k) ->
       |  acc + CASE WHEN aggregate(sequence(1, 64), CAST(0 AS DOUBLE),
       |      (sm, i) -> sm + CAST(element_at(embedding, i) AS DOUBLE) *
       |                 element_at(element_at(hps, $off + k + 1), i)) >= 0
       |    THEN CAST(power(2, k) AS BIGINT) ELSE 0 END)""".stripMargin

  test("hp_sig equals the nested HOF signature fold bit-for-bit, both offsets") {
    import spark.implicits._
    val p = 4
    val hp = spark.range(1).select(expr(planesExpr(p, "hg")).as("hps"))
    val diff = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .crossJoin(broadcast(hp))
      .select(
        expr(s"hp_sig(embedding, hps, 0, $p)").as("n0"),
        expr(hofSig(0, p)).as("h0"),
        expr(s"hp_sig(embedding, hps, $p, $p)").as("n1"),
        expr(hofSig(p, p)).as("h1"))
      .filter($"n0" =!= $"h0" || $"n1" =!= $"h1")
      .count()
    assert(diff === 0L)
  }

  test("hp_sig participates in whole-stage codegen") {
    val hp = spark.range(1).select(expr(planesExpr(4, "hp")).as("hps"))
    val df = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .crossJoin(broadcast(hp))
      .selectExpr("hp_sig(embedding, hps, 0, 4) AS b")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }

  test("hp_sig rejects wrong input types at analysis time") {
    val err = intercept[Exception] {
      spark.sql("SELECT hp_sig(array(CAST(1.0 AS FLOAT)), array(array(1.0)), '0', 1)")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("hp_sig") ||
      err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  /** hp_sig over one (embedding, planes) row, interpreted and through
    * the generated code; each must fail with hp_sig's own error. */
  private def hpSigErrors(planes: Array[Any], offset: Int, count: Int): Seq[String] = {
    val sig = HyperplaneSig(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      BoundReference(1, ArrayType(ArrayType(DoubleType)), nullable = true),
      Literal(offset), Literal(count))
    val row = InternalRow(new GenericArrayData(Array[Any](1.0f, -1.0f)),
      new GenericArrayData(planes))
    Seq(
      intercept[IllegalArgumentException](sig.eval(row)),
      intercept[IllegalArgumentException](
        GenerateUnsafeProjection.generate(Seq(sig), false).apply(row))
    ).map(_.getMessage)
  }
  private def plane: Any = new GenericArrayData(Array[Any](1.0, 0.5))

  test("hp_sig fails clearly when offset + count runs past the plane table") {
    for (msg <- hpSigErrors(Array(plane, plane, plane), offset = 2, count = 2))
      assert(msg === "hp_sig: planes slice [2, 4) exceeds the plane table's 3 rows")
  }

  test("hp_sig fails clearly on a null plane inside the slice") {
    for (msg <- hpSigErrors(Array(plane, null, plane), offset = 0, count = 3))
      assert(msg === "hp_sig: null plane at index 1")
  }

  test("hp_sig is null-safe") {
    val r = spark.sql(
      "SELECT hp_sig(CAST(NULL AS ARRAY<FLOAT>), array(array(1.0d)), 0, 1) AS b")
      .collect()
    assert(r.head.isNullAt(0))
  }

  /** The interpreted position scan span_pos replaced, kept as its
    * reference (valid only on non-empty arrays: sequence(1, 0) descends). */
  private def oldSpanPos(term: String, prefix: Boolean): String =
    if (prefix) s"filter(sequence(1, size(toks)), i -> startswith(element_at(toks, i), '$term'))"
    else s"filter(sequence(1, size(toks)), i -> element_at(toks, i) = '$term')"

  test("span_pos equals the filter(sequence(...)) scan it replaced, exact and prefix, on random token arrays") {
    import spark.implicits._
    val vocab = Array("", "spark", "sp", "spa", "sparkle", "key", "日本", "日本語", "ü", "über", null)
    val rnd = new scala.util.Random(7)
    val arrays = Seq(Seq(""), Seq(null), Seq("spark", "spark", "spark")) ++
      Seq.fill(400)(Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))))
    val df = arrays.toDF("toks")
    for (term <- Seq("spark", "sp", "", "日本", "ü"); prefix <- Seq(false, true)) {
      val native = expr(s"span_pos(toks, '$term', $prefix)")
      val diff = df.where(!(native <=> expr(oldSpanPos(term, prefix))))
      assert(diff.count() === 0L, s"term '$term' prefix=$prefix: ${diff.head(3).toSeq}")
      assert(df.where(size(native) >= 2).count() > 0, s"term '$term' prefix=$prefix: no repeats drawn")
    }
  }

  test("span_pos: a null array gives null, an empty array an empty one; null tokens never match") {
    val r = spark.sql("""SELECT span_pos(CAST(NULL AS ARRAY<STRING>), 'a') AS n,
      |  span_pos(CAST(array() AS ARRAY<STRING>), 'a') AS e,
      |  span_pos(array('a', NULL, 'b', 'a'), 'a') AS m,
      |  span_pos(array('ab', NULL, 'b', 'a'), 'a', true) AS p""".stripMargin).head()
    assert(r.isNullAt(0))
    assert(r.getSeq[Int](1) === Seq.empty[Int])
    assert(r.getSeq[Int](2) === Seq(1, 4))
    assert(r.getSeq[Int](3) === Seq(1, 4))
  }

  test("span_pos rejects a non-literal or non-string term, or a non-array input, at analysis time") {
    import spark.implicits._
    val df = Seq((Seq("a"), "a")).toDF("toks", "t")
    for (bad <- Seq("span_pos(toks, t)", "span_pos(toks, 1)", "span_pos(toks, CAST(NULL AS STRING))",
        "span_pos(toks, 'a', t = 'a')", "span_pos(t, 'a')", "span_pos(toks)")) {
      val err = intercept[Exception](df.select(expr(bad)).collect())
      assert(err.getMessage.contains("span_pos"), s"$bad: ${err.getMessage}")
    }
  }
}
