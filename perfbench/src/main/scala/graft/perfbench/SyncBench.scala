package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Harness._
import Stats.{median, Metric}

/** One iteration of the timed phase as the traced run keeps it. */
final case class IterationTrace(traced: Boolean, rounds: Seq[Round],
    wireBefore: Map[String, Double], wireAfter: Map[String, Double], changedBytes: Long) {
  def wire(k: String): Double = wireAfter.getOrElse(k, 0.0) - wireBefore.getOrElse(k, 0.0)
}

/** Runs a sync workload: session, warm-up, set-up passes, the initial sync,
  * the timed closed loop and the final check; turns its rounds into
  * metrics. */
object SyncBench {
  val SetupPasses = 3

  def run(a: Args, t0: Long, make: (Path, String, Boolean, Boolean) => SyncStores): Outcome = {
    val spark = session(a.work, a.cores)
    val sessionS = secondsSince(t0)
    val obs = new Observer(spark)

    // warm-up: a throwaway initial sync at small scale on its own stores
    val (_, warmS) = time {
      val w = make(freshDir(a.work, "warm"), "w", false, false)
      try {
        w.preload()
        new SyncLoop(spark, obs, w).untilQuiet("initial")
      } finally w.close()
    }

    // set-up passes: build the full-scale stores several times, keep the last
    val passes = (1 to SetupPasses).map { i =>
      val (w, dt) = time {
        val w = make(freshDir(a.work, s"stores$i"), "t", true, a.trace)
        w.preload()
        w
      }
      if (i < SetupPasses) { w.close(); deleteTree(a.work.resolve(s"stores$i")) }
      (w, dt)
    }
    val stores = passes.last._1
    // set-up time is the median pass: the session start and the warm-up
    // run once and are printed in the summary
    val setupS = median(passes.map(_._2))

    try {
      val loop = new SyncLoop(spark, obs, stores)
      val initial = loop.untilQuiet("initial")
      val initialS = initial.filter(_.rows > 0).map(_.wallS).sum
      val timedFrom = loop.rounds.size

      // the timed phase; a traced run alternates untraced and traced
      // iterations (at least one of each), so the two medians give the
      // tracing overhead
      val iters = mutable.ArrayBuffer.empty[IterationTrace]
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      var iter = 1
      while (iter <= (if (a.trace) 2 else 1) || System.nanoTime() < deadline) {
        val on = a.trace && iter % 2 == 0
        obs.trace(on)
        stores.relay(on)
        val before = stores.wire()
        val n0 = loop.rounds.size
        val bytes0 = loop.changedBytes
        loop.iteration(iter)
        iters += IterationTrace(on, loop.rounds.drop(n0).toSeq, before, stores.wire(),
          loop.changedBytes - bytes0)
        iter += 1
      }
      obs.trace(false)
      stores.relay(false)
      val timed = loop.rounds.drop(timedFrom).toSeq

      val (failures, checkS) = time(stores.finalCheck())
      failures.take(20).foreach(f => System.err.println(s"[perfbench] mismatch: $f"))
      val pendingLeft = loop.pendingCount
      if (pendingLeft > 0) System.err.println(s"[perfbench] $pendingLeft changes never became visible")
      val failed = loop.rounds.count(_.failed) + loop.unconverged +
        (if (failures.nonEmpty || pendingLeft > 0) 1 else 0)
      val attempted = loop.rounds.size.toLong

      // end-to-end numbers come from the untraced iterations only
      val plain = iters.filterNot(_.traced).flatMap(_.rounds).toSeq
      def p50(kind: String) = median(plain.filter(_.kind == kind).map(_.wallS))
      val visible = loop.visibleS.toSeq
      val rowsPerS = visible.size / timed.map(_.wallS).sum
      val bytesPerRow = stores.stateBytes.toDouble / stores.liveKeys
      val summary = Seq(
        "setup_s" -> Metric(setupS, "s"),
        "session_s" -> Metric(sessionS, "s"),
        "warmup_s" -> Metric(warmS, "s"),
        "initial_sync_s" -> Metric(initialS, "s"),
        "round_s.p50" -> Metric(p50("busy"), "s"),
        "echo_round_s.p50" -> Metric(p50("echo"), "s"),
        "idle_round_s.p50" -> Metric(p50("idle"), "s"),
        "visible_s.p50" -> Metric(median(visible), "s")) ++
        Stats.tail(loop.visibleTails.toSeq, 0.9).map(v => "visible_s.p90" -> Metric(v, "s")) ++ Seq(
        "sync_rows_per_s" -> Metric(rowsPerS, "1/s"),
        "state_bytes_per_row" -> Metric(bytesPerRow, "B"),
        "peak_rss_mb" -> Metric(peakRssMb(), "MB"),
        "fail_ratio" -> Metric(failed.toDouble / attempted, "ratio"))
      val metrics =
        if (a.trace) Report.perLayer(layerReport(iters.toSeq, loop, stores) +
          ("Sync.state_bytes_per_row" -> bytesPerRow))
        else Report.endToEnd(Map("setup_s" -> setupS, "initial_s" -> initialS,
          "work_s.p50" -> p50("busy"), "throughput_per_s" -> rowsPerS))
      if (a.trace) writeTrace(a, iters.filter(_.traced).flatMap(_.rounds).toSeq)
      Outcome(attempted, failed, failures.isEmpty && pendingLeft == 0 && failed == 0,
        summary, metrics, Seq(s"iterations=${iter - 1}", s"rounds=${timed.size}",
          s"visible_samples=${visible.size}", f"check_s=$checkS%.1f"))
    } finally {
      obs.close()
      stores.close()
      spark.stop()
    }
  }

  /** Per-layer metrics of the traced iterations: medians over their busy
    * rounds, or over the iterations for counts that span a whole iteration
    * (wire traffic and write jobs of its busy, echo and idle rounds). */
  private def layerReport(iters: Seq[IterationTrace], loop: SyncLoop,
      stores: SyncStores): Map[String, Double] = {
    val traced = iters.filter(_.traced)
    val busy = traced.flatMap(_.rounds.filter(_.kind == "busy"))
    val plainBusy = iters.filterNot(_.traced).flatMap(_.rounds.filter(_.kind == "busy"))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def perBusy(f: Round => Double) = med(busy.map(f))
    def perIter(f: IterationTrace => Double) = med(traced.map(f))
    def jobs(layers: String*)(r: Round) = r.jobs.filter(j => layers.contains(j.layer))
    def phase(k: String)(r: Round) = r.triggers.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def jobsMs(layer: String)(r: Round) = jobs(layer)(r).map(_.ms).sum.toDouble
    // how far each source's cursor (sources in side order) trails its
    // store after the busy round
    val lag = perBusy(r => r.storeMaxTs.fold(0.0) { case (maxA, maxB) =>
      r.triggers.lastOption.toSeq.flatMap(_.sourceEnd.zip(Seq(maxA, maxB))).map {
        case (end, max) => math.max(0L, max - end.trim.toLong).toDouble
      }.sum
    })
    val stateWrite = perIter(_.rounds.flatMap(jobs(Layers.StateWrite)).map(_.bytesWritten).sum.toDouble)
    val changed = perIter(_.changedBytes.toDouble)
    val sent = perIter(_.wire("es.docs_sent"))
    val selfMs = {
      val t = new Tracer
      busy.foreach(r => traceRound(t, r))
      t.selfTimesMs.map { case (k, v) => s"self_ms.$k" -> v / math.max(1, busy.size) }
        .filter { case (k, _) => Report.PerLayer.contains(k) }
    }
    val spark = sparkTotals(busy.map(_.jobs))
    Map(
      "SyncJob.overhead_ms" -> perBusy(outsideTriggersMs),
      "SyncJob.rounds_to_quiesce" -> med(loop.quiesce.map(_.toDouble).toSeq),
      "SyncJob.echo_round_ms" -> med(traced.flatMap(_.rounds.filter(_.kind == "echo")).map(_.wallS * 1000)),
      "stream.start_ms" -> perBusy(r => r.started.headOption.fold(0.0)(s => (s._2 - r.startMs).toDouble)),
      "stream.latest_offset_ms" -> perBusy(phase("latestOffset")),
      "stream.get_batch_ms" -> perBusy(phase("getBatch")),
      "stream.query_planning_ms" -> perBusy(phase("queryPlanning")),
      "stream.wal_commit_ms" -> perBusy(phase("walCommit")),
      "stream.add_batch_ms" -> perBusy(phase("addBatch")),
      "stream.commit_offsets_ms" -> perBusy(phase("commitOffsets")),
      "stream.input_rows.a" -> perBusy(_.rowsOf(sideA = true, stores.readsA).toDouble),
      "stream.input_rows.b" -> perBusy(_.rowsOf(sideA = false, stores.readsA).toDouble),
      "stream.cursor_lag_us" -> lag,
      "Sync.merge_ms" -> perBusy(jobsMs(Layers.Merge)),
      "Sync.state_read_bytes" -> perBusy(r =>
        jobs(Layers.Merge, Layers.StateRead)(r).map(_.bytesRead).sum.toDouble),
      "Sync.state_write_ms" -> perBusy(jobsMs(Layers.StateWrite)),
      "Sync.state_write_bytes" -> perBusy(r => jobs(Layers.StateWrite)(r).map(_.bytesWritten).sum.toDouble),
      "Sync.write_amplification" -> (if (changed == 0) 0.0 else stateWrite / changed),
      "cql.write_ms" -> perBusy(jobsMs(Layers.Cql)),
      "cql.write_jobs" -> perIter(_.rounds.flatMap(jobs(Layers.Cql)).size.toDouble),
      "cql.frames" -> perIter(_.wire("cql.frames")),
      "cql.wire_bytes" -> perIter(_.wire("cql.wire_bytes")),
      "cql.prepares" -> perIter(_.wire("cql.prepares")),
      "es.bulk_ms" -> perBusy(jobsMs(Layers.Es)),
      "es.requests" -> perIter(_.wire("es.requests")),
      "es.wire_bytes" -> perIter(_.wire("es.wire_bytes")),
      "es.docs_sent" -> sent,
      "es.useful_write_ratio" -> (if (sent == 0) 0.0 else perIter(_.wire("es.docs_useful")) / sent),
      "trace.layer_coverage" -> perBusy(coverage),
      "trace.overhead_ms" -> (if (busy.isEmpty || plainBusy.isEmpty) 0.0
        else (median(busy.map(_.wallS)) - median(plainBusy.map(_.wallS))) * 1000)
    ) ++ spark ++ selfMs
  }

  /** The share of a round's wall time its measured layers explain: one
    * union, clipped to the round, of the time outside every trigger (stream
    * start and stop, the final counts), each trigger's phases before and
    * after addBatch (which run in that order), and the Spark jobs. A job
    * outside every trigger lies in a gap already, so it counts once. */
  def coverage(r: Round): Double = {
    val (from, to) = (r.startMs.toDouble, r.endMs.toDouble)
    val gaps = Intervals.gaps(from, to, r.triggers.map(t =>
      (t.startMs.toDouble, (t.startMs + t.totalMs).toDouble)))
    val phases = r.triggers.flatMap { t =>
      val pre = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")
        .map(t.durations.getOrElse(_, 0L)).sum
      val end = (t.startMs + t.totalMs).toDouble
      Seq((t.startMs.toDouble, t.startMs.toDouble + pre),
        (end - t.durations.getOrElse("commitOffsets", 0L), end))
    }
    val jobs = r.jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val covered = Intervals.union((gaps ++ phases ++ jobs).map { case (a, b) =>
      (math.max(a, from), math.min(b, to)) })
    covered / math.max(1.0, to - from)
  }

  /** A round's wall time outside all of its (possibly concurrent) triggers. */
  def outsideTriggersMs(r: Round): Double =
    r.wallS * 1000 - Intervals.union(r.triggers.map(t =>
      (t.startMs.toDouble, (t.startMs + t.totalMs).toDouble)))

  /** Spark totals per operation (round or query), medians over operations. */
  def sparkTotals(ops: Seq[Seq[Job]]): Map[String, Double] = {
    def med(f: Seq[Job] => Double) = if (ops.isEmpty) 0.0 else median(ops.map(f))
    Map(
      "spark.jobs" -> med(_.size.toDouble),
      "spark.stages" -> med(_.map(_.stages).sum.toDouble),
      "spark.tasks" -> med(_.map(_.tasks).sum.toDouble),
      "spark.executor_cpu_ms" -> med(_.map(_.cpuMs).sum),
      "spark.gc_ms" -> med(_.map(_.gcMs).sum.toDouble),
      "spark.shuffle_write_bytes" -> med(_.map(_.shuffleWrite).sum.toDouble),
      "spark.spill_bytes" -> med(_.map(_.spill).sum.toDouble))
  }

  /** Spans of one round: the round, its triggers, and the jobs inside each
    * trigger (or directly under the round, outside any trigger). */
  def traceRound(t: Tracer, r: Round): Unit = {
    val root = t.add(0, "SyncJob", r.startMs.toDouble, r.endMs.toDouble)
    val trig = r.triggers.map { tr =>
      (tr, t.add(root, "stream", tr.startMs.toDouble, (tr.startMs + tr.totalMs).toDouble))
    }
    r.jobs.foreach { j =>
      val parent = trig.find { case (tr, _) =>
        j.startMs >= tr.startMs && j.startMs <= tr.startMs + tr.totalMs
      }.fold(root)(_._2)
      t.add(parent, j.layer, j.startMs.toDouble, j.endMs.toDouble)
    }
  }

  private def writeTrace(a: Args, rounds: Seq[Round]): Unit = {
    val t = new Tracer
    rounds.foreach(r => traceRound(t, r))
    t.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"))
  }
}
