package graft.perfbench

import Stats.Metric

/** The metric names the result line carries. Every workload reports every
  * name, so the end-to-end names are defined per workload (README.md):
  *
  *   name              sync workloads        query-mix
  *   setup_s           median set-up pass (stores, or input tables)
  *   initial_s         initial full sync     first timed pass
  *   work_s.p50        busy round            one pass over the list
  *   throughput_per_s  changed rows / s      queries / s
  *
  * The idle round, change-to-visible time and per-query times are in each
  * workload's summary only. Per-layer metrics a workload does not exercise
  * read 0. */
object Report {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "initial_s" -> "s", "work_s.p50" -> "s", "throughput_per_s" -> "1/s")

  val Families = Seq("span", "dedup", "control")

  val PerLayer: Seq[String] = Seq(
    "SyncJob.overhead_ms", "SyncJob.rounds_to_quiesce", "SyncJob.echo_round_ms",
    "stream.start_ms", "stream.latest_offset_ms", "stream.get_batch_ms",
    "stream.query_planning_ms", "stream.wal_commit_ms", "stream.add_batch_ms",
    "stream.commit_offsets_ms", "stream.input_rows.a", "stream.input_rows.b",
    "stream.cursor_lag_us",
    "Sync.merge_ms", "Sync.state_read_bytes", "Sync.state_write_ms",
    "Sync.state_write_bytes", "Sync.write_amplification", "Sync.state_bytes_per_row",
    "cql.write_ms", "cql.write_jobs", "cql.frames", "cql.wire_bytes", "cql.prepares",
    "es.bulk_ms", "es.requests", "es.wire_bytes", "es.docs_sent", "es.useful_write_ratio",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.spill_bytes") ++
    Families.flatMap(f => Seq("plan_ms", "exec_ms", "jobs", "shuffle_bytes",
      "codegen_fraction", "lambda_exprs").map(m => s"ops.$f.$m")) ++
    Seq("SyncJob", "stream", Layers.Merge, Layers.StateRead, Layers.StateWrite,
      Layers.Cql, Layers.Es, Layers.Other).map(l => s"self_ms.$l") ++
    Seq("trace.layer_coverage", "trace.overhead_ms")

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_us")) "us"
    else if (name.endsWith("_bytes") || name.endsWith("_per_row")) "B"
    else if (name.endsWith("_ratio") || name.endsWith("_fraction") ||
      name.endsWith("amplification") || name.endsWith("coverage")) "ratio"
    else if (name.startsWith("self_ms.")) "ms"
    else "count"

  /** Every per-layer name in order, with the measured values and 0 elsewhere. */
  def perLayer(measured: Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = measured.keySet -- PerLayer
    require(unknown.isEmpty, s"per-layer metrics missing from the list: ${unknown.mkString(", ")}")
    PerLayer.map(n => n -> Metric(measured.getOrElse(n, 0.0), unitOf(n)))
  }

  def endToEnd(measured: Map[String, Double]): Seq[(String, Metric)] =
    EndToEnd.map { case (n, u) =>
      n -> Metric(measured.getOrElse(n, throw new IllegalStateException(s"no value for $n")), u)
    }
}
