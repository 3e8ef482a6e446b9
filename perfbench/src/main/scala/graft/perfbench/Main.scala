package graft.perfbench

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir> [--cores <n>]`. Prints a human-readable
  * summary (the workload's own metric names, then the result line's), then
  * the result line, one JSON object, last on stdout. */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime() // set-up time runs from here
    val a = Args.parse(argv)
    val out = a.workload match {
      case "cell-wire" => SyncBench.run(a, t0, (dir, name, full, traced) =>
        if (full) new CellWire(dir, a.seed, name, cqlKeys = 2000, esKeys = 300,
          newKeys = 200, esUpdates = 200, bothKeys = 50, traced)
        else new CellWire(dir, a.seed + 1, name, cqlKeys = 200, esKeys = 30,
          newKeys = 20, esUpdates = 20, bothKeys = 5, traced))
      case "row-store" => SyncBench.run(a, t0, (dir, name, full, traced) =>
        if (full) new RowStore(dir, a.seed, RowStore.FullKeys, updates = 250, fresh = 250)
        else new RowStore(dir, a.seed + 1, RowStore.WarmKeys, updates = 25, fresh = 25))
      case "query-mix" => QueryMix.run(a, t0)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (cell-wire | row-store | query-mix)")
    }
    (out.summary ++ out.metrics).foreach { case (n, m) =>
      println(f"[perfbench] $n%-34s ${Stats.num(m.value)}%s ${m.unit}")
    }
    println(s"[perfbench] correct=${out.correct} attempted=${out.attempted} " +
      s"failed=${out.failed} ${out.notes.mkString(" ")}")
    println(Stats.resultLine(out.correct, out.attempted, out.failed, out.metrics))
    System.out.flush()
    sys.exit(0)
  }
}
