package graft

import graft.streaming.Sync
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The reference's core invariant, property-tested over randomized change
  * feeds (seeded, deterministic): after any sequence of LWW merges the
  * store converges to newest-per-key, regardless of how the feed is
  * batched, ordered, or replayed (SURVEY.md §5).
  */
class SyncPropertiesSpec extends AnyFunSuite {

  private def genChanges(rnd: Random, n: Int): List[Change] =
    List.fill(rnd.nextInt(n + 1)) {
      Change(
        rnd.nextInt(6).toLong,
        new Timestamp(1704100000000L + rnd.nextInt(120) * 60000L),
        rnd.nextInt(1000).toLong,
        rnd.alphanumeric.take(6).mkString)
    }

  private def df(rows: List[Change]): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF()
  }

  private def collectSet(d: DataFrame): Set[(Long, Long, Long, String)] = {
    import d.sparkSession.implicits._
    d.select($"key", $"ts".cast("long"), $"uid", $"payload")
      .as[(Long, Long, Long, String)].collect().toSet
  }

  /** Model winner per key under the (ts, uid) total order. */
  private def lwwModel(rows: List[Change]): Map[Long, (Long, Long)] =
    rows.groupBy(_.key).map { case (k, rs) =>
      k -> rs.map(r => (r.ts.getTime / 1000, r.uid)).max
    }

  test("mergeLww is idempotent: re-applying a delta changes nothing") {
    val rnd = new Random(42)
    (1 to 6).foreach { _ =>
      val (base, delta) = (genChanges(rnd, 20), genChanges(rnd, 20))
      val once = Sync.mergeLww(df(base), df(delta))
      val twice = Sync.mergeLww(once, df(delta))
      assert(collectSet(once) === collectSet(twice))
    }
  }

  test("mergeLww is batch-split invariant: one big batch == two small ones") {
    val rnd = new Random(43)
    (1 to 6).foreach { _ =>
      val (base, d1, d2) = (genChanges(rnd, 15), genChanges(rnd, 15), genChanges(rnd, 15))
      val together = Sync.mergeLww(df(base), df(d1 ++ d2))
      val split = Sync.mergeLww(Sync.mergeLww(df(base), df(d1)), df(d2))
      assert(collectSet(together) === collectSet(split))
    }
  }

  test("mergeLww output has unique keys and each winner is max by (ts, uid)") {
    val rnd = new Random(44)
    (1 to 6).foreach { _ =>
      val (base, delta) = (genChanges(rnd, 20), genChanges(rnd, 20))
      val all = base ++ delta
      if (all.nonEmpty) {
        val out = collectSet(Sync.mergeLww(df(base), df(delta))).toList
        assert(out.map(_._1).distinct.size === out.size, "duplicate keys in merge output")
        val model = lwwModel(all)
        out.foreach { case (k, tsSec, uid, _) =>
          assert(model(k) === ((tsSec, uid)), s"key $k kept a non-newest row")
        }
        assert(out.map(_._1).toSet === model.keySet)
      }
    }
  }

  // ---- per-cell LWW (merge: cell) against a plain-Scala reconcile ----

  /** Wide rows: key, cursor ts, and a bigint `n`, a double `x` and a text
    * `s` cell, each with its `<cell>_wt` stamp. */
  private val cells = Seq("n" -> LongType, "x" -> DoubleType, "s" -> StringType)
  private val wideSchema = StructType(
    StructField("key", LongType) +: StructField("ts", LongType) +:
      cells.flatMap { case (c, t) => Seq(StructField(c, t), StructField(s"${c}_wt", LongType)) })

  /** Random wide rows over `keys` keys (offset by `base`). Stamps come
    * from {null, 1, 2, 3}, so equal stamps are common; a stamped cell is a
    * live value or a null tombstone, an unstamped one carries nothing. */
  private def genWide(rnd: Random, base: Long, keys: Int, n: Int,
      xs: Seq[Double] = Seq(-1.5, -0.0, 0.0, 1.5, -2.25, 1e300)): Seq[Row] = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val values: Map[String, Seq[Any]] = Map(
      "n" -> Seq(-2L, -1L, 0L, 1L, 2L, Long.MinValue, Long.MaxValue),
      "x" -> xs,
      "s" -> Seq("", "a", "b", "Z", "é", "日本", "ab"))
    Seq.fill(n) {
      val cellVals = cells.flatMap { case (c, _) =>
        pick(Seq[Option[Long]](None, Some(1L), Some(2L), Some(3L))) match {
          case None => Seq(null, null)
          case Some(w) => Seq(if (rnd.nextInt(4) == 0) null else pick(values(c)), w)
        }
      }
      Row.fromSeq(Seq(base + rnd.nextInt(keys), rnd.nextInt(5).toLong) ++ cellVals)
    }
  }

  private def wideDf(rows: Seq[Row]): DataFrame =
    TestSpark.spark.createDataFrame(rows.asJava, wideSchema)

  /** A cell's CQL bytes: bigint and double big-endian, text UTF-8. */
  private def cqlBytes(v: Any): Array[Byte] = v match {
    case null => null
    case l: Long => ByteBuffer.allocate(8).putLong(l).array
    case d: Double => ByteBuffer.allocate(8).putDouble(d).array
    case s: String => s.getBytes(UTF_8)
  }

  /** C*'s tie-break: unsigned byte compare, longer prefix greater, a null
    * (tombstone) below any live value. */
  private def bytesGt(a: Array[Byte], b: Array[Byte]): Boolean =
    if (a == null) false
    else if (b == null) true
    else a.zip(b).find { case (p, q) => p != q } match {
      case Some((p, q)) => (p & 0xff) > (q & 0xff)
      case None => a.length > b.length
    }

  /** The reference reconcile per key: each cell takes the value under its
    * greatest stamp, a stamp tie goes to the greater CQL bytes, and `ts`
    * is the maximum. Doubles compare by their bits (−0.0 ≠ 0.0). */
  private def reconcile(rows: Seq[Row]): Set[Seq[Any]] =
    rows.groupBy(_.getLong(0)).map { case (k, rs) =>
      val merged = cells.indices.flatMap { i =>
        val stamped = rs.filterNot(_.isNullAt(3 + 2 * i))
          .map(r => (r.get(2 + 2 * i), r.getLong(3 + 2 * i)))
        if (stamped.isEmpty) Seq(null, null)
        else {
          val w = stamped.map(_._2).max
          val v = stamped.filter(_._2 == w).map(_._1)
            .reduce((a, b) => if (bytesGt(cqlBytes(b), cqlBytes(a))) b else a)
          Seq(v, w)
        }
      }
      (Seq(k, rs.map(_.getLong(1)).max) ++ merged).map(comparable)
    }.toSet

  private def comparable(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case o => o
  }

  private def mergeCells(d: DataFrame): Set[Seq[Any]] =
    Sync.mergeCellLww(d, "key", cells.map(_._1)).collect()
      .map(_.toSeq.map(comparable)).toSet

  test("mergeCellLww equals a plain-Scala per-cell reconcile under forced stamp ties") {
    val rnd = new Random(45)
    // 40 independent samples on disjoint key ranges, merged in one job
    val rows = (0 until 40).flatMap(i => genWide(rnd, i * 10L, 3, 1 + rnd.nextInt(12)))
    val got = mergeCells(wideDf(rows))
    val want = reconcile(rows)
    assert(got.size === want.size)
    (want -- got).toSeq.sortBy(_.head.asInstanceOf[Long]).headOption.foreach { w =>
      val k = w.head
      fail(s"key $k: merge gave ${got.find(_.head == k)}, reconcile gave $w; " +
        s"rows ${rows.filter(_.getLong(0) == k).mkString("; ")}")
    }
  }

  test("mergeCellLww composes: merging a, then the result with b, equals merging a ∪ b") {
    val rnd = new Random(46)
    val (a, b) = (0 until 40).map { i =>
      (genWide(rnd, i * 10L, 3, rnd.nextInt(8)), genWide(rnd, i * 10L, 3, rnd.nextInt(8)))
    }.unzip
    val (as, bs) = (a.flatten, b.flatten)
    val once = Sync.mergeCellLww(wideDf(as), "key", cells.map(_._1))
    val composed = mergeCells(once.unionByName(wideDf(bs)))
    assert(composed === mergeCells(wideDf(as ++ bs)))
    assert(composed === reconcile(as ++ bs))
  }

  // ---- the cell sync's merge and flags against the struct-aggregate form

  /** The sink's merge as SortAggregate plans it: `max_by` per cell over a
    * (stamp, orderKey) struct, and the flags from the least, greatest and
    * committed cell tuples — kept here as the reference for [[CellMerge]]. */
  private def structMerge(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.streaming.CellMerge.{Differs, HeldBy, Relay}
    val store = col("_graft_store")
    val isNew = store.isNotNull
    val cellCols = cells.flatMap { case (c, _) => Seq(col(c), col(s"${c}_wt")) }
    val tuple = struct(cellCols: _*)
    val old = max(when(!isNew, tuple))
    val (lo, hi) = (min(when(isNew, tuple)), max(when(isNew, tuple)))
    val aggs = cells.flatMap { case (c, _) =>
      val ord = when(col(s"${c}_wt").isNotNull,
        struct(col(s"${c}_wt"), graft.sources.CqlProtocol.orderKey(col(c))))
      Seq(max_by(col(c), ord).as(c), max(col(s"${c}_wt")).as(s"${c}_wt"))
    } ++ Seq(max(col("ts")).as("ts"),
      (lo.isNotNull && !(lo <=> old && hi <=> old)).as(Relay),
      max(when(!isNew, struct(col("ts") +: cellCols: _*))).as("committed"),
      when(min(store) === max(store) && lo <=> hi, min(store)).as(HeldBy),
      lo.as("lo"))
    rows.groupBy(col("key")).agg(aggs.head, aggs.tail: _*)
      .withColumn(Differs, !(struct(col("ts") +: cellCols: _*) <=> col("committed")))
      .withColumn(HeldBy, when(col("lo") <=> tuple, col(HeldBy)))
      .select((Sync.cellColumns("key", cells.map(_._1)) ++ Seq(Relay, Differs, HeldBy)).map(col): _*)
  }

  test("the cell sync's merge and its three flags equal the struct-aggregate form") {
    val rnd = new Random(47)
    val xs = Seq(-1.5, -0.0, 0.0, 1.5, Double.NaN, -Double.NaN)
    // per key: at most one committed snapshot row, then incoming rows from
    // two stores, each a copy of the committed row (an echo), a copy of
    // the key's previous incoming row, or a fresh row; stamps from
    // {null, 1, 2, 3} force ties
    def fresh(k: Long) = genWide(rnd, k, 1, 1, xs).head
    def tag(r: Row, store: Any) = Row.fromSeq(r.toSeq :+ store)
    def withTs(r: Row) = Row.fromSeq(r.getLong(0) +: rnd.nextInt(5).toLong +: r.toSeq.drop(2))
    val rows = (0L until 600L).flatMap { k =>
      val committed = if (rnd.nextInt(4) > 0) Some(fresh(k)) else None
      val oneStore = if (rnd.nextBoolean()) Some(rnd.nextInt(2)) else None
      val incoming = (1 to rnd.nextInt(5)).scanLeft(Option.empty[Row]) { (prev, _) =>
        Some(rnd.nextInt(3) match {
          case 0 if committed.nonEmpty => withTs(committed.get)
          case 1 if prev.nonEmpty => withTs(prev.get)
          case _ => fresh(k)
        })
      }.flatten
      committed.map(tag(_, null)).toSeq ++
        incoming.map(r => tag(r, oneStore.getOrElse(rnd.nextInt(2))))
    }
    val schema = wideSchema.add("_graft_store", IntegerType)
    // spread each key over partitions, so partial aggregates merge, and
    // past 128 keys a task, so the aggregate also falls back to sorting
    val input = TestSpark.spark.createDataFrame(rnd.shuffle(rows).asJava, schema).repartition(3)
    def collect(d: DataFrame) = d.collect().map(_.toSeq.map(comparable)).toSet
    val got = collect(Sync.mergeCells(input, "key", cells.map(_._1)))
    val want = collect(structMerge(input))
    assert(got.size === want.size && want.size === rows.map(_.getLong(0)).distinct.size)
    (want -- got).toSeq.sortBy(_.head.asInstanceOf[Long]).headOption.foreach { w =>
      val k = w.head
      fail(s"key $k: merge gave ${got.find(_.head == k)}, the struct form gave $w; " +
        s"rows ${rows.filter(_.getLong(0) == k).mkString("; ")}")
    }
    // the cases the flags distinguish all occur
    val flags = got.toSeq.map(r => (r(8), r(9), r(10) != null))
    Seq((true, true, false), (false, false, false), (true, true, true), (false, true, false))
      .foreach(f => assert(flags.contains(f), s"no key with (relay, differs, held) = $f"))
  }

  test("cosine scores are within [-1, 1] and self-similarity rounds to 1") {
    val spark = TestSpark.spark
    import spark.implicits._
    val scores = SparkEntry.queries("j3_cosine_score")(spark, TestSpark.sf0001)
      .select($"cos_q").as[Double].collect()
    assert(scores.nonEmpty && scores.forall(c => c >= -1.0 && c <= 1.0))
    val self = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .selectExpr(
        """round(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |CAST(0 AS DOUBLE), (a, v) -> a + v) /
          |(sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
          | sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)""".stripMargin
          + " AS c")
      .as[Double].collect()
    assert(self.nonEmpty && self.forall(_ === 1.0))
  }

  test("j12 LSH near-dup results are a subset of j2's exact inverted-index results") {
    val spark = TestSpark.spark
    import spark.implicits._
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, TestSpark.sf0001)
        .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val exact = pairs("j2_dedup_near_jaccard")
    val lsh = pairs("j12_minhash_lsh")
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(exact),
      s"LSH produced pairs the exact method rejects: ${lsh -- exact}")
    // on this corpus all near-dups share long prefixes → recall is high
    assert(lsh.size >= exact.size / 2, s"LSH recall collapsed: ${lsh.size}/${exact.size}")
  }

  test("j20 IVF top-k agrees with brute-force j4 on vectors inside the probed cells") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ivf = SparkEntry.queries("j20_ivf_topk")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val brute = SparkEntry.queries("j4_topk_nn")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    // IVF searches 2 of 10 cells: its winners that sit in probed cells must
    // also be global brute-force winners' neighbors; sanity: overlap exists
    assert(ivf.nonEmpty && brute.nonEmpty)
    assert((ivf & brute).nonEmpty, s"IVF top-k shares nothing with brute force: $ivf vs $brute")
  }

  test("j13 simhash is a working fingerprint: near-dup pairs are Hamming-close") {
    val spark = TestSpark.spark
    import spark.implicits._
    val sim = SparkEntry.queries("j13_simhash")(spark, TestSpark.sf0001)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val pairs = SparkEntry.queries("j2_dedup_near_jaccard")(spark, TestSpark.sf0001)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dists = pairs.map { case (a, b) => ham(sim(a), sim(b)) }
    assert(dists.nonEmpty)
    assert(dists.forall(_ <= 4), s"a near-dup pair has distant simhashes: ${dists.max}")
    // random pairs average ~5.5 bits apart on this corpus; near-dups ≈ 0-1
    assert(dists.sum.toDouble / dists.length < 1.5)
  }

  test("j1 exact dedup is a fixed point: no duplicate content hash survives") {
    val spark = TestSpark.spark
    val once = SparkEntry.queries("j1_dedup_exact")(spark, TestSpark.sf0001)
    val hashes = once.select("content_hash").collect().map(_.getString(0))
    assert(hashes.toSet.size === hashes.length, "duplicate content hash survived")
  }
}
