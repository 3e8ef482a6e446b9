package graft.perfbench

import scala.collection.mutable

import graft.{SyncConfig, SyncJob}
import org.apache.spark.sql.SparkSession

/** One changed row the generator wrote: which side it went to and when
  * the store acknowledged it. */
final case class Change(id: Int, key: Long, cell: String, fromA: Boolean, ackNs: Long)

/** The stores a sync workload runs over: how to preload them and generate
  * a change set, how to see whether a change reached the opposite store,
  * the final comparison against the workload's model, and what a traced
  * run reads off them. */
trait SyncStores extends AutoCloseable {
  def config: SyncConfig
  def preload(): Unit
  /** Write one change set (untimed) and return its rows. */
  def writeChangeSet(iter: Int): Seq[Change]
  /** Bytes of the change set's rows as the generator serialised them. */
  def changeBytes(changes: Seq[Change]): Long
  /** Of `pending`, the changes whose merged value the opposite store holds. */
  def visible(pending: Seq[Change]): Set[Int]
  /** Every store and snapshot against the model; one line per mismatch. */
  def finalCheck(): Seq[String]
  def liveKeys: Long
  def stateBytes: Long
  /** Greatest update ts each side's store holds, (a, b), where the feeds'
    * poll cursors are update timestamps; None where they are not. */
  def storeMaxTs: Option[(Long, Long)]
  /** Route the engine's connectors through the counting relays, if any. */
  def relay(on: Boolean): Unit = ()
  /** Cumulative wire counters of the relays (empty without relays). */
  def wire(): Map[String, Double] = Map.empty
  /** Whether the streaming query with this id reads side A's feed. */
  def readsA(queryId: String): Boolean = true
}

/** One `SyncJob.runOnce` and what the listeners saw during it: its
  * triggers, the (query id, start ms) of the queries it started, and the
  * Spark jobs it ran. */
final case class Round(kind: String, wallS: Double, startMs: Long, endMs: Long,
    triggers: Seq[Trigger], started: Seq[(String, Long)], jobs: Seq[Job],
    failed: Boolean, storeMaxTs: Option[(Long, Long)]) {
  def rows: Long = triggers.map(_.rows).sum

  /** Rows read per side. A union stream (the cell loop) reads side A as
    * its first source and side B as its second; the row loop runs one
    * query per direction, `readsA` tells which. */
  def rowsOf(sideA: Boolean, readsA: String => Boolean): Long = triggers.map { t =>
    if (t.sourceRows.size == 2) t.sourceRows(if (sideA) 0 else 1)
    else if (readsA(t.queryId) == sideA) t.rows
    else 0L
  }.sum
}

object SyncLoop {
  val MaxRounds = 8
  /** Idle rounds sampled per iteration once the loop is quiescent. */
  val IdleRounds = 3
}

/** The closed sync loop: write a change set, run rounds until the loop is
  * quiescent, repeat until the run's time is up. A round starts only after
  * the previous one returned; the generator writes only between rounds. */
final class SyncLoop(spark: SparkSession, obs: Observer, stores: SyncStores) {
  val rounds = mutable.ArrayBuffer.empty[Round]
  val visibleS = mutable.ArrayBuffer.empty[Double]
  /** Per round that made changes visible, the slowest of them: rows relayed
    * in one round are one sample for tail percentiles. */
  val visibleTails = mutable.ArrayBuffer.empty[Double]
  val quiesce = mutable.ArrayBuffer.empty[Int]
  var changedBytes = 0L
  var unconverged = 0
  private val pending = mutable.LinkedHashMap.empty[Int, Change]

  def round(kind: String): Round = {
    obs.collect() // drop whatever the generator's own work produced
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val failed =
      try { SyncJob.runOnce(spark, stores.config); false }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $kind round failed: $e"); true }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    val (trig, started, jobs, _) = obs.collect()
    val r = Round(kind, (t1 - t0) / 1e9, ms0, ms1, trig, started, jobs, failed,
      stores.storeMaxTs)
    rounds += r
    if (pending.nonEmpty) {
      val seen = stores.visible(pending.values.toSeq).toSeq
      val times = seen.map(id => (t1 - pending(id).ackNs) / 1e9)
      visibleS ++= times
      if (times.nonEmpty) visibleTails += times.max
      seen.foreach(pending.remove)
    }
    r
  }

  /** Rounds until one reads nothing (the initial sync). */
  def untilQuiet(kind: String): Seq[Round] = {
    val out = mutable.ArrayBuffer(round(kind))
    while ((out.last.rows > 0 || out.last.failed) && out.size < SyncLoop.MaxRounds)
      out += round(kind)
    out.toSeq
  }

  /** One iteration: a change set, its busy round, the echo round right
    * after it, then rounds until one after the echo reads nothing. That
    * round and the next `IdleRounds - 1` are the idle samples. */
  def iteration(iter: Int): Unit = {
    val cs = stores.writeChangeSet(iter)
    changedBytes += stores.changeBytes(cs)
    cs.foreach(c => pending(c.id) = c)
    round("busy")
    round("echo")
    var n = 2
    var last = round("settle")
    while (last.rows > 0 || last.failed) {
      if (n >= SyncLoop.MaxRounds) { unconverged += 1; return }
      last = round("settle")
      n += 1
    }
    rounds(rounds.size - 1) = last.copy(kind = "idle")
    quiesce += rounds.takeRight(n + 1).count(_.rows > 0)
    (1 until SyncLoop.IdleRounds).foreach(_ => round("idle"))
  }

  def pendingCount: Int = pending.size
}
