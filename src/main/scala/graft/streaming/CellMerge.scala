package graft.streaming

import graft.sources.CqlProtocol
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.ByteArray
import scala.util.Try

/** The per-cell LWW merge of one key's wide rows ([[Sync.mergeCellLww]]'s
  * rule) as one object aggregate, so Spark plans it as
  * ObjectHashAggregate: a partial aggregate, one exchange on the key and a
  * final aggregate, with no sort and no generated projection for the
  * merge itself.
  *
  * Children: the cursor `ts` (bigint), then each cell's value and its
  * `<cell>_wt` stamp (bigint), then `_graft_store` (int): the store that
  * sent an incoming change row, null for the one committed snapshot row
  * of a key.
  *
  * The result is a struct of `ts` and each cell and stamp, named as
  * [[Sync.cellColumns]] without the key:
  *   - `ts` is the greatest cursor;
  *   - each cell takes the value under its greatest stamp among the rows
  *     that stamp it; a stamp tie goes to the greater
  *     [[CqlProtocol.orderKeyOf]] (unsigned bytes, a null tombstone
  *     lowest), and the stamp is the greatest stamp.
  * Three flags follow. Cell tuples (every cell's value and stamp) compare
  * with Spark's `<=>` (NaN equals NaN, −0.0 equals 0.0):
  *   - [[CellMerge.Relay]]: some incoming row exists and not every
  *     incoming tuple equals the committed row's;
  *   - [[CellMerge.Differs]]: the merged `ts` and tuple differ from the
  *     committed row (true when there is none);
  *   - [[CellMerge.HeldBy]]: the store that sent every incoming row of the
  *     key, when those rows are one tuple equal to the merged one; else
  *     null.
  *
  * State per key is constant: the merged row, the committed row, the first
  * incoming tuple and its store, and two flags. */
private[graft] case class CellMerge(children: Seq[Expression], cells: Seq[String],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CellMerge.State] {
  import CellMerge.State

  private def n = cells.size
  private def cellTypes: Seq[DataType] = cells.indices.map(i => children(1 + 2 * i).dataType)

  override def prettyName: String = "cell_merge"
  override def nullable: Boolean = false
  override def dataType: StructType = StructType(
    (StructField("ts", LongType) +: cells.zip(cellTypes).flatMap { case (c, t) =>
      Seq(StructField(c, t), StructField(s"${c}_wt", LongType)) }) ++
      Seq(StructField(CellMerge.Relay, BooleanType, nullable = false),
        StructField(CellMerge.Differs, BooleanType, nullable = false),
        StructField(CellMerge.HeldBy, IntegerType)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = (LongType +: cellTypes.flatMap(t => Seq(t, LongType))) :+ IntegerType
    children.zip(expected).collectFirst {
      case (e, t) if e.dataType != t => s"cell_merge: ${e.sql} must be ${t.simpleString}"
    }.orElse(cellTypes.flatMap(t => Try(CqlProtocol.cqlTypeOf(t)).failed.toOption).headOption
      .map(_.getMessage))
      .fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure)
  }

  // children by role, and the equality of each cell type
  @transient private lazy val tsIn = children.head
  @transient private lazy val valueIn = Array.tabulate(n)(i => children(1 + 2 * i))
  @transient private lazy val stampIn = Array.tabulate(n)(i => children(2 + 2 * i))
  @transient private lazy val storeIn = children(1 + 2 * n)
  @transient private lazy val types = cellTypes.toArray
  @transient private lazy val orderings = types.map(TypeUtils.getInterpretedOrdering)

  override def createAggregationBuffer(): State = new State(n)

  override def update(s: State, in: InternalRow): State = {
    val ts = tsIn.eval(in)
    if (ts != null && greater(ts, s.ts)) s.ts = ts
    // the tuple this row fills, when it is the committed row or the first
    // incoming one; a later incoming row is compared with the first
    val store = storeIn.eval(in)
    var tuple: Array[Any] = null
    if (store == null) {
      s.committedTs = ts
      s.committed = new Array[Any](2 * n)
      tuple = s.committed
    } else if (s.first == null) {
      s.first = new Array[Any](2 * n)
      s.store = store
      tuple = s.first
    } else if (store != s.store) s.oneStore = false
    var i = 0
    while (i < n) {
      // a value kept in a tuple is copied once and shared with `merged`
      val v = if (tuple == null) valueIn(i).eval(in) else InternalRow.copyValue(valueIn(i).eval(in))
      val wt = stampIn(i).eval(in)
      if (wt != null) offer(s, i, v, wt, copy = tuple == null)
      if (tuple != null) {
        tuple(2 * i) = v
        tuple(2 * i + 1) = wt
      } else if (s.same && !(equiv(i, v, s.first(2 * i)) && wt == s.first(2 * i + 1)))
        s.same = false
      i += 1
    }
    s
  }

  override def merge(s: State, o: State): State = {
    if (o.ts != null && greater(o.ts, s.ts)) s.ts = o.ts
    var i = 0
    while (i < n) {
      val wt = o.merged(2 * i + 1)
      if (wt != null) offer(s, i, o.merged(2 * i), wt, copy = false)
      i += 1
    }
    if (s.committed == null) { s.committedTs = o.committedTs; s.committed = o.committed }
    if (s.first == null) {
      s.first = o.first; s.same = o.same; s.store = o.store; s.oneStore = o.oneStore
    } else if (o.first != null) {
      s.same = s.same && o.same && equiv(s.first, o.first)
      s.oneStore = s.oneStore && o.oneStore && s.store == o.store
    }
    s
  }

  override def eval(s: State): Any = {
    val out = new Array[Any](4 + 2 * n)
    out(0) = s.ts
    System.arraycopy(s.merged, 0, out, 1, 2 * n)
    val incoming = s.first != null
    out(1 + 2 * n) = incoming && !(s.same && s.committed != null && equiv(s.first, s.committed))
    out(2 + 2 * n) = s.committed == null || s.ts != s.committedTs || !equiv(s.merged, s.committed)
    out(3 + 2 * n) =
      if (incoming && s.same && s.oneStore && equiv(s.first, s.merged)) s.store else null
    new GenericInternalRow(out)
  }

  /** Makes `(v, wt)` cell `i`'s winner if it beats the current one. */
  private def offer(s: State, i: Int, v: Any, wt: Any, copy: Boolean): Unit = {
    val cur = s.merged(2 * i + 1)
    if (cur == null || greater(wt, cur) || (wt == cur && keyGreater(i, v, s.merged(2 * i)))) {
      s.merged(2 * i) = if (copy) InternalRow.copyValue(v) else v
      s.merged(2 * i + 1) = wt
    }
  }

  private def greater(a: Any, b: Any): Boolean =
    b == null || a.asInstanceOf[Long] > b.asInstanceOf[Long]

  /** C*'s tie-break: `v`'s CQL bytes compare greater unsigned than `w`'s;
    * a null is below every live value. */
  private def keyGreater(i: Int, v: Any, w: Any): Boolean =
    v != null && (w == null || ByteArray.compareBinary(
      CqlProtocol.orderKeyOf(v, types(i)), CqlProtocol.orderKeyOf(w, types(i))) > 0)

  /** Spark's `<=>` on cell `i`'s values. */
  private def equiv(i: Int, a: Any, b: Any): Boolean =
    if (a == null) b == null else b != null && orderings(i).equiv(a, b)

  /** `<=>` on two cell tuples. */
  private def equiv(a: Array[Any], b: Array[Any]): Boolean = {
    var i = 0
    while (i < n && equiv(i, a(2 * i), b(2 * i)) && a(2 * i + 1) == b(2 * i + 1)) i += 1
    i == n
  }

  // ---- the buffer's bytes: one UnsafeRow of `bufferSchema` ----

  /** ts, the merged cells, committed ts, committed and first tuples (as
    * structs), same, store, oneStore. */
  @transient private lazy val bufferSchema: IndexedSeq[DataType] = {
    val tuple = StructType(types.toSeq.zipWithIndex.flatMap { case (t, i) =>
      Seq(StructField(s"v$i", t), StructField(s"wt$i", LongType)) })
    ((LongType +: tuple.map(_.dataType)) ++
      Seq(LongType, tuple, tuple, BooleanType, IntegerType, BooleanType)).toIndexedSeq
  }
  @transient private lazy val toBytes = InterpretedUnsafeProjection.createProjection(
    bufferSchema.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })

  override def serialize(s: State): Array[Byte] = {
    def struct(t: Array[Any]) = if (t == null) null else new GenericInternalRow(t)
    val row = new GenericInternalRow(((s.ts +: s.merged.toSeq) ++
      Seq(s.committedTs, struct(s.committed), struct(s.first), s.same, s.store, s.oneStore)).toArray)
    toBytes(row).copy().getBytes
  }

  override def deserialize(bytes: Array[Byte]): State = {
    val r = new UnsafeRow(bufferSchema.size)
    r.pointTo(bytes, bytes.length)
    def tuple(ord: Int): Array[Any] =
      if (r.isNullAt(ord)) null
      else {
        val t = r.getStruct(ord, 2 * n)
        Array.tabulate(2 * n)(j => t.get(j, if (j % 2 == 0) types(j / 2) else LongType))
      }
    val s = new State(n)
    s.ts = r.get(0, LongType)
    var j = 0
    while (j < 2 * n) { s.merged(j) = r.get(1 + j, bufferSchema(1 + j)); j += 1 }
    val k = 1 + 2 * n
    s.committedTs = r.get(k, LongType)
    s.committed = tuple(k + 1)
    s.first = tuple(k + 2)
    s.same = r.getBoolean(k + 3)
    s.store = r.get(k + 4, IntegerType)
    s.oneStore = r.getBoolean(k + 5)
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): CellMerge = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CellMerge = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): CellMerge =
    copy(children = cs)
}

private[graft] object CellMerge {
  val Relay = "_graft_relay"
  val Differs = "_graft_differs"
  val HeldBy = "_graft_held_by"

  /** One key's merge state. A cell tuple is an array of each cell's value
    * and stamp, in cell order; a null stamp or ts is "none". */
  final class State(n: Int) {
    var ts: Any = null
    /** The winning value and stamp of each cell. */
    val merged = new Array[Any](2 * n)
    /** The committed snapshot row, if one was seen. */
    var committedTs: Any = null
    var committed: Array[Any] = _
    /** The first incoming tuple; `same`: every incoming tuple equals it. */
    var first: Array[Any] = _
    var same = true
    /** The store of the first incoming row; `oneStore`: every incoming
      * row came from it. */
    var store: Any = null
    var oneStore = true
  }
}
