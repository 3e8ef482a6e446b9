package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.SyncConfig
import graft.streaming.Sync
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** The row-LWW `SyncJob` with both change feeds as `graft-sync` stores on
  * local disk. Each side is preloaded with `keys` rows of ~200-byte
  * payloads; each change set writes, per side, `updates` rows to uniformly
  * chosen existing keys and `fresh` rows with new keys, in one Spark write
  * per side. Side A's feed merges into snapshot B and side B's into
  * snapshot A. */
final class RowStore(dir: Path, seed: Long, keys: Int, updates: Int, fresh: Int)
    extends SyncStores {
  import RowStore._

  private def spark = SparkSession.active
  private val rng = new scala.util.Random(seed)
  private var stamp = 0L
  private var changeId = 0

  /** One direction: its feed, the snapshot it merges into, its model. */
  private final class Side(val name: String, val base: Long) {
    val feed = s"$dir/feed$name"
    var size = keys.toLong
    val model = new RowModel
    val written = mutable.ArrayBuffer.empty[(Long, Row)]
    /** The preloaded rows, as the generator wrote them. */
    def preloaded: DataFrame = spark.range(keys).select(
      (col("id") + base).as("key"), lit(T0).as("ts"), col("id").as("uid"),
      expr(s"substr(repeat(sha2(concat('$name', '$seed', ':', cast(id as string)), 256), 4), 1, $PayloadBytes)")
        .as("payload"))
  }
  private val a = new Side("A", 0L)
  private val b = new Side("B", 1000000000000L)

  val config: SyncConfig = SyncConfig(
    sideA = a.feed, sideB = b.feed,
    snapshotA = s"$dir/snapA", snapshotB = s"$dir/snapB",
    checkpointDir = s"$dir/ckpt", formatA = "graft-sync", formatB = "graft-sync")

  /** Snapshot that holds `side`'s data merged. */
  private def snapshotOf(side: Side) = if (side eq a) config.snapshotB else config.snapshotA

  def preload(): Unit = Seq(a, b).foreach(s =>
    s.preloaded.write.format("graft-sync").mode("append").save(s.feed))

  private def frame(rows: Seq[(Long, Row)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (k, r) => (k, r.ts, r.uid, r.payload) }.toDF("key", "ts", "uid", "payload")
  }

  private def payload(): String = rng.alphanumeric.take(PayloadBytes).mkString

  def writeChangeSet(iter: Int): Seq[Change] = Seq(a, b).flatMap { side =>
    val existing = Iterator.continually(side.base + (rng.nextDouble() * side.size).toLong)
      .distinct.take(updates).toSeq
    val added = (0 until fresh).map(i => side.base + side.size + i)
    side.size += fresh
    val rows = (existing ++ added).map { k =>
      stamp += 1
      k -> Row(T0 + stamp, rng.nextLong() & Long.MaxValue, payload())
    }
    rows.foreach { case (k, r) =>
      side.model.write(k, r, if (k < side.base + keys) Some(Row(T0, k - side.base, "")) else None)
    }
    side.written ++= rows
    frame(rows).coalesce(1).write.format("graft-sync").mode("append").save(side.feed)
    val ack = System.nanoTime()
    rows.map { case (k, _) => changeId += 1; Change(changeId, k, "row", side eq a, ack) }
  }

  def changeBytes(changes: Seq[Change]): Long = changes.size.toLong * (24 + PayloadBytes)

  def visible(pending: Seq[Change]): Set[Int] = pending.groupBy(_.fromA).flatMap { case (fromA, cs) =>
    val side = if (fromA) a else b
    val got = spark.read.schema(Sync.changeSchema).parquet(snapshotOf(side))
      .where(col("key").isin(cs.map(_.key).distinct: _*))
      .select(col("key"), expr("unix_micros(ts)"), col("uid"), col("payload"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    cs.filter { c =>
      val m = side.model.rows(c.key)
      got.get(c.key).contains((m.ts, m.uid, m.payload))
    }.map(_.id)
  }.toSet

  /** Each snapshot against its side's model, each feed against every row
    * the generator wrote to it, compared as (row count, two independent
    * order-free sums of row hashes). */
  def finalCheck(): Seq[String] = Seq(a, b).flatMap { side =>
    val changed = frame(side.model.rows.toSeq)
    val expected = side.preloaded.join(changed.select("key"), Seq("key"), "left_anti")
      .unionByName(changed)
    val snap = spark.read.schema(Sync.changeSchema).parquet(snapshotOf(side))
      .select(col("key"), expr("unix_micros(ts)").as("ts"), col("uid"), col("payload"))
    val feed = spark.read.format("graft-sync").load(side.feed).select("key", "ts", "uid", "payload")
    val writes = side.preloaded.unionByName(frame(side.written.toSeq))
    def digest(df: DataFrame) = df.selectExpr("count(*)",
      "sum(cast(xxhash64(key, ts, uid, payload) as decimal(38, 0)))",
      "sum(cast(hash(key, ts, uid, payload) as bigint))").head()
    def diff(what: String, got: DataFrame, want: DataFrame): Seq[String] = {
      val (g, w) = (digest(got), digest(want))
      if (g == w) Nil else Seq(s"$what: (rows, hash sums) $g, model $w")
    }
    diff(s"snapshot of side ${side.name}", snap, expected) ++
      diff(s"feed ${side.name}", feed, writes)
  }

  def liveKeys: Long = a.size + b.size

  /** Snapshots plus checkpoints; the feeds are the stores, not sync state. */
  def stateBytes: Long =
    Seq("snapA", "snapB", "ckpt").map(d => Harness.diskBytes(dir.resolve(d))).sum

  // graft-sync feeds poll by manifest ordinal, not by update ts
  def storeMaxTs: Option[(Long, Long)] = None

  // a query keeps its id in its checkpoint; the A-to-B query reads feed A
  private lazy val aToBId = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"${config.checkpointDir}/a2b/metadata")).path("id").asText()
  override def readsA(queryId: String): Boolean = queryId == aToBId

  override def close(): Unit = ()
}

object RowStore {
  val T0 = 1700000000000000L // epoch-µs of the preloaded rows
  val PayloadBytes = 200
  val FullKeys = 200000
  val WarmKeys = 5000
}
