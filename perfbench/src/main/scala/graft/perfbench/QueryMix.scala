package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import Harness._
import Stats.{median, Metric}

/** Passes over a fixed list of declared queries, one query at a time, each
  * as `fn(spark, sf).count()` the way `graft.Bench` runs them. The seed
  * permutes the order of every pass. Families:
  *   - span: the interpreted position scan;
  *   - dedup: explode plus shuffle;
  *   - control: the per-query planning and session floor. */
object QueryMix {
  val Families: Seq[(String, Seq[String])] = Seq(
    "span" -> Seq("j36", "j40", "j50", "j84", "j99", "j125", "j145", "j159", "j169", "j173"),
    "dedup" -> Seq("j12", "j111", "j148", "j158", "j193"),
    "control" -> Seq("b1", "h1", "h8"))

  val Sf = "sf0.01"
  val MinPasses = 2

  val Tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** Declared query name for a short id (`j36` -> `j36_phrase_search`). */
  def resolve(id: String): String = {
    val hits = SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq
    require(hits.size == 1, s"query id $id matches ${hits.mkString(", ")}")
    hits.head
  }

  def run(a: Args, t0: Long): Outcome = {
    val spark = session(a.work, a.cores)
    val sessionS = secondsSince(t0)
    val obs = new Observer(spark)
    val sf = a.data.resolve(Sf).toString
    val queries = Families.flatMap { case (f, ids) => ids.map(id => (f, resolve(id))) }
    val family = queries.map(_.swap).toMap
    val oracle = SparkEntry.oracleSql
    var failed = 0L
    var attempted = 0L

    def runQuery(name: String): (Double, Boolean) = {
      val t = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sf).count(); true }
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e"); false }
      val dt = secondsSince(t)
      System.err.println(f"[perfbench] query $name%-28s $dt%.3f s")
      // queries persist intermediates; drop them so the next is not timed
      // under a cache, and collect the garbage this query left, so a
      // query's time does not depend on which query ran before it
      spark.catalog.clearCache()
      System.gc()
      (dt, ok)
    }

    try {
      // warm-up, which is also the oracle check outside the timed passes:
      // every query once, its rows written for the DuckDB comparison the
      // launcher runs after this process
      val checkDir = freshDir(a.work, "check")
      val (_, warmS) = time(queries.foreach { case (_, q) =>
        attempted += 1
        try SparkEntry.queries(q)(spark, sf).write.parquet(checkDir.resolve(q).toString)
        catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed in the oracle pass: $e") }
        spark.catalog.clearCache()
      })
      val unchecked = queries.map(_._2).filterNot(oracle.contains)
      unchecked.foreach(q => System.err.println(s"[perfbench] $q has no oracle SQL"))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      queries.map(_._2).filter(oracle.contains).foreach(q => node.put(q, oracle(q)))
      Files.write(checkDir.resolve("oracle_sql.json"), mapper.writeValueAsBytes(node))

      // set-up passes: register the inputs (schema and row count) several
      // times, keep the median
      val passesS = (1 to SyncBench.SetupPasses).map { _ =>
        time(Tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").count()))._2
      }
      val setupS = median(passesS)

      // timed passes, at least `MinPasses`, each in its own seeded order; a
      // pass is the sum of its queries' times. A traced run alternates
      // untraced and traced passes, so the two medians give the tracing
      // overhead.
      val rng = new scala.util.Random(a.seed)
      final case class Pass(traced: Boolean, wallS: Double, queries: Seq[QueryRun])
      val passes = mutable.ArrayBuffer.empty[Pass]
      def timed(q: String): QueryRun = {
        val (qs, ok) = runQuery(q)
        attempted += 1
        if (!ok) failed += 1
        val (_, _, jobs, execs) = obs.collect()
        QueryRun(q, family(q), qs, jobs, execs)
      }
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      while (passes.size < MinPasses || System.nanoTime() < deadline) {
        val traced = a.trace && passes.size % 2 == 1
        obs.trace(traced)
        obs.collect()
        val runs = rng.shuffle(queries.map(_._2)).map(timed)
        passes += Pass(traced, runs.map(_.wallS).sum, runs)
      }
      obs.trace(false)

      val plain = passes.filterNot(_.traced).toSeq
      val queryS = plain.flatMap(_.queries.map(_.wallS))
      val passS = plain.map(_.wallS)
      val qps = queryS.size / passS.sum
      val summary = Seq(
        "setup_s" -> Metric(setupS, "s"),
        "session_s" -> Metric(sessionS, "s"),
        "warmup_s" -> Metric(warmS, "s"),
        "mix_pass_s.p50" -> Metric(median(passS), "s"),
        "query_s.p50" -> Metric(median(queryS), "s")) ++
        Stats.tail(queryS, 0.9).map(v => "query_s.p90" -> Metric(v, "s")) ++ Seq(
        "queries_per_s" -> Metric(qps, "1/s"),
        "peak_rss_mb" -> Metric(peakRssMb(), "MB"),
        "fail_ratio" -> Metric(failed.toDouble / attempted, "ratio"))
      val metrics =
        if (a.trace) {
          val traced = passes.filter(_.traced).toSeq
          Report.perLayer(opsLayers(traced.flatMap(_.queries)) ++
            SyncBench.sparkTotals(traced.flatMap(_.queries.map(_.jobs))) +
            ("trace.overhead_ms" -> (median(traced.map(_.wallS)) - median(passS)) * 1000))
        } else Report.endToEnd(Map("setup_s" -> setupS, "initial_s" -> passes.head.wallS,
          "work_s.p50" -> median(passS), "throughput_per_s" -> qps))
      Outcome(attempted, failed, failed == 0 && unchecked.isEmpty, summary, metrics,
        Seq(s"passes=${passes.size}"))
    } finally {
      obs.close()
      spark.stop()
    }
  }

  /** One timed query and what the listeners saw while it ran. */
  final case class QueryRun(name: String, family: String, wallS: Double,
      jobs: Seq[Job], execs: Seq[Exec])

  /** Per family: medians over its queries of planning time (the
    * QueryPlanningTracker phases), execution time, jobs and shuffle bytes,
    * and of the executed plan's codegen share and lambda count; and the
    * share of a query's wall time its planning and jobs explain. */
  def opsLayers(runs: Seq[QueryRun]): Map[String, Double] =
    Map("trace.layer_coverage" -> median(runs.map(r =>
      (r.execs.map(_.planMs).sum + Intervals.union(r.jobs.map(j =>
        (j.startMs.toDouble, j.endMs.toDouble)))) / (r.wallS * 1000)))) ++
    runs.groupBy(_.family).flatMap { case (f, qs) =>
      def med(g: QueryRun => Double) = median(qs.map(g))
      Map(
        s"ops.$f.plan_ms" -> med(_.execs.map(_.planMs).sum),
        s"ops.$f.exec_ms" -> med(_.execs.map(_.execMs).sum),
        s"ops.$f.jobs" -> med(_.jobs.size.toDouble),
        s"ops.$f.shuffle_bytes" -> med(_.jobs.map(_.shuffleWrite).sum.toDouble),
        s"ops.$f.codegen_fraction" -> med(_.execs.lastOption.fold(0.0)(_.codegenFraction)),
        s"ops.$f.lambda_exprs" -> med(_.execs.lastOption.fold(0.0)(_.lambdas.toDouble)))
    }
}
