package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the vector hot path.
  *
  * The higher-order-function form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,z) -> acc+z)` is
  * evaluated interpretively (one closure call + boxed Double per element),
  * which dominates the near-dup pair join where the expression runs
  * O(pairs·64) times. This expression does the same left-to-right
  * double-precision accumulation — bit-identical results — but
  * participates in whole-stage codegen: the generated Java is a tight
  * primitive loop, no boxing, no closures.
  *
  * Preference order per the charter: compose built-ins where semantics
  * allow (j3/j9 do); drop to a custom Expression only where the built-in
  * form is the measured bottleneck (the O(n²) pair join) — this is that
  * case.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native codegen form of `aggregate(emb, 0D, (a, x) -> a + CAST(x AS
  * DOUBLE))` — the all-ones-query numerator of the shared cosine column.
  * Identical left-to-right double accumulation (float widened exactly),
  * so bit-identical to the HOF form; no closures, no boxing. */
case class VecSum(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_sum expects array<float>, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecSum =
    copy(child = newChild)
}

/** Native Catalyst expression for the hyperplane-LSH signature pass.
  *
  * Replaces the nested higher-order-function form
  * `aggregate(sequence(0, P-1), 0L, (acc, k) -> acc + CASE WHEN
  *   aggregate(sequence(1, 64), 0D, (sm, i) -> sm +
  *     CAST(element_at(emb, i) AS DOUBLE) *
  *     element_at(element_at(planes, off + k + 1), i)) >= 0
  *   THEN CAST(power(2, k) AS BIGINT) ELSE 0 END)`
  * which evaluates P·dim interpreted lambda calls (boxed Doubles) per row —
  * the graphAnnBuild/j31 signature pass runs it over every corpus vector.
  * This expression performs the IDENTICAL left-to-right double-precision
  * accumulation per plane (float widened to double exactly, plane weights
  * already double) and the identical `>= 0` sign decision with bit k set
  * via `1L << k` (== CAST(power(2,k) AS BIGINT) exactly for k ≤ 62), so
  * results are bit-identical to the HOF form — but it participates in
  * whole-stage codegen: a tight primitive nested loop, no closures.
  *
  * `offset`/`count` must be foldable ints (they are structural literals —
  * which plane table slice and how many planes), pinned at analysis time.
  * A slice past the end of the plane table, or a null plane inside it,
  * fails with an IllegalArgumentException naming hp_sig (interpreted and
  * codegen alike) instead of an index or null-pointer error.
  */
case class HyperplaneSig(emb: Expression, planes: Expression,
    offset: Expression, count: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(emb, planes, offset, count)
  override def dataType: DataType = LongType
  override def nullable: Boolean = emb.nullable || planes.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    (emb.dataType, planes.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _))
          if offset.foldable && offset.dataType == IntegerType &&
            count.foldable && count.dataType == IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "hp_sig expects (array<float>, array<array<double>>, int literal, int literal), " +
          s"got (${emb.dataType}, ${planes.dataType}, $offset, $count)")
    }

  private lazy val offsetVal: Int = offset.eval().asInstanceOf[Int]
  private lazy val countVal: Int = count.eval().asInstanceOf[Int]
  // error-message prefixes shared by eval and the generated code (no
  // quotes or backslashes, so they embed as Java string literals as-is)
  private lazy val slicePrefix: String =
    s"hp_sig: planes slice [$offsetVal, ${offsetVal + countVal}) exceeds the plane table's "
  private val nullPlanePrefix = "hp_sig: null plane at index "

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val e = emb.eval(input)
    if (e == null) return null
    val p = planes.eval(input)
    if (p == null) return null
    val ea = e.asInstanceOf[ArrayData]
    val pa = p.asInstanceOf[ArrayData]
    if (offsetVal < 0 || offsetVal + countVal > pa.numElements())
      throw new IllegalArgumentException(slicePrefix + pa.numElements() + " rows")
    var acc = 0L
    var k = 0
    while (k < countVal) {
      if (pa.isNullAt(offsetVal + k))
        throw new IllegalArgumentException(nullPlanePrefix + (offsetVal + k))
      val plane = pa.getArray(offsetVal + k)
      val n = math.min(ea.numElements(), plane.numElements())
      var sm = 0.0
      var i = 0
      while (i < n) {
        sm += ea.getFloat(i).toDouble * plane.getDouble(i)
        i += 1
      }
      if (sm >= 0) acc += (1L << k)
      k += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val embCode = emb.genCode(ctx)
    val plCode = planes.genCode(ctx)
    val acc = ctx.freshName("acc")
    val k = ctx.freshName("k")
    val i = ctx.freshName("i")
    val sm = ctx.freshName("sm")
    val pl = ctx.freshName("pl")
    val n = ctx.freshName("n")
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${embCode.code}
        ${plCode.code}
        boolean ${ev.isNull} = ${embCode.isNull} || ${plCode.isNull};
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          if ($offsetVal < 0 || ${offsetVal + countVal} > ${plCode.value}.numElements()) {
            throw new IllegalArgumentException(
              "$slicePrefix" + ${plCode.value}.numElements() + " rows");
          }
          long $acc = 0L;
          for (int $k = 0; $k < $countVal; $k++) {
            if (${plCode.value}.isNullAt($offsetVal + $k)) {
              throw new IllegalArgumentException("$nullPlanePrefix" + ($offsetVal + $k));
            }
            $ad $pl = ${plCode.value}.getArray($offsetVal + $k);
            int $n = java.lang.Math.min(${embCode.value}.numElements(), $pl.numElements());
            double $sm = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              $sm += (double) ${embCode.value}.getFloat($i) * $pl.getDouble($i);
            }
            if ($sm >= 0) $acc += (1L << $k);
          }
          ${ev.value} = $acc;
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HyperplaneSig =
    copy(emb = newChildren(0), planes = newChildren(1),
      offset = newChildren(2), count = newChildren(3))
}

/** `span_pos(toks, 'term'[, prefix])` — the span family's one position
  * scan: the ascending 1-based positions where the token array equals
  * `term` or, with the prefix flag `true`, starts with it (span_multi's
  * rewritten term disjunction). A null array gives null, an empty array
  * an empty one, and a null token never matches. `term` must be a string
  * literal and `prefix` a boolean literal, pinned at analysis time.
  *
  * Replaces the interpreted `filter(sequence(1, size(toks)), i ->
  * element_at(toks, i) = 'term')`: one pass over the array, no boxed
  * index sequence, no lambda. No `doGenCode`: the span operators'
  * combinator lambdas keep their projections out of whole-stage codegen
  * regardless. */
case class SpanPositions(toks: Expression, term: Expression, prefix: Expression)
    extends TernaryExpression with CodegenFallback {

  override def prettyName: String = "span_pos"
  override def first: Expression = toks
  override def second: Expression = term
  override def third: Expression = prefix
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = toks.nullable
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = toks.dataType match {
    case ArrayType(StringType, _) if term.foldable && term.dataType == StringType &&
        term.eval() != null && prefix.foldable && prefix.dataType == BooleanType &&
        prefix.eval() != null =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "span_pos expects (array<string>, string literal[, boolean literal]), " +
        s"got (${toks.dataType}, $term, $prefix)")
  }

  private lazy val termVal: UTF8String = term.eval().asInstanceOf[UTF8String]
  private lazy val prefixVal: Boolean = prefix.eval().asInstanceOf[Boolean]

  override protected def nullSafeEval(t: Any, unusedTerm: Any, unusedPrefix: Any): Any = {
    val a = t.asInstanceOf[ArrayData]
    val n = a.numElements()
    val pos = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val tok = a.getUTF8String(i)
        if (if (prefixVal) tok.startsWith(termVal) else tok == termVal) {
          pos(m) = i + 1
          m += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(pos, m))
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SpanPositions =
    copy(toks = newFirst, term = newSecond, prefix = newThird)
}

object VectorExpressions {
  private type Builder = Seq[Expression] => Expression

  /** The native functions, one (identifier, info, builder) each: the list
    * both [[register]] and [[GraftExtensions]] install. */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("vec_dot", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    fn("hp_sig", classOf[HyperplaneSig], es => HyperplaneSig(es(0), es(1), es(2), es(3))),
    fn("vec_sum", classOf[VecSum], es => VecSum(es(0))),
    fn("span_pos", classOf[SpanPositions], {
      case Seq(toks, term) => SpanPositions(toks, term, Literal(false))
      case Seq(toks, term, prefix) => SpanPositions(toks, term, prefix)
      case es => throw new IllegalArgumentException(
        s"span_pos expects 2 or 3 arguments, got ${es.size}")
    }))

  private def fn(name: String, cls: Class[_], builder: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Imperative registration — used by query functions (idempotent). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  /** `spark.sql.extensions`-style injection for cluster deployments. */
  class GraftExtensions extends (SparkSessionExtensions => Unit) {
    override def apply(ext: SparkSessionExtensions): Unit =
      functions.foreach(ext.injectFunction)
  }
}
