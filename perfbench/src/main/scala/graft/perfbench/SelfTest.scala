package graft.perfbench

import scala.collection.mutable

/** Self-tests of the benchmark's own code: the result line, the tail
  * rule, both reference models, and job-to-layer attribution. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Throwable => println(s"  $name threw $e"); false }) passed += 1
    else failures += name

  def main(argv: Array[String]): Unit = {
    // result line: one JSON object, exact keys, full-precision values
    val line = Stats.resultLine(correct = true, attempted = 12, failed = 0,
      Seq("round_s.p50" -> Stats.Metric(1.2345678901, "s"), "jobs" -> Stats.Metric(7, "count")))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    check("result line parses with exactly the four keys") {
      import scala.jdk.CollectionConverters._
      json.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics")
    }
    check("result line keeps every digit") {
      json.path("metrics").path("round_s.p50").path("value").asDouble() == 1.2345678901 &&
        json.path("metrics").path("round_s.p50").path("unit").asText() == "s"
    }
    check("result line refuses a run with no operation") {
      scala.util.Try(Stats.resultLine(true, 0, 0, Nil)).isFailure
    }

    // tail rule: a percentile above p50 needs ten samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples has ten beyond it") { Stats.tail(xs, 0.9).contains(90.0) }
    check("p99 of 100 samples is refused") { Stats.tail(xs, 0.99).isEmpty }
    check("p90 of 50 samples is refused") { Stats.tail(xs.take(50), 0.9).isEmpty }
    check("median of an even count averages the middle pair") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }

    // cell model: greatest stamp wins, ties go to the greater value as C* compares bytes
    val m = new CellModel(Seq("status", "val"))
    m.write(fromCql = true, 1L, Map("status" -> "b", "val" -> 5L), 10)
    m.write(fromCql = false, 1L, Map("status" -> "a"), 10) // tie, smaller value: loses
    m.write(fromCql = false, 1L, Map("val" -> 3L), 11) // newer stamp: wins
    m.write(fromCql = true, 1L, Map("status" -> "ba"), 10) // tie, longer prefix: wins
    m.write(fromCql = false, 1L, Map("val" -> 9L), 9) // older: loses
    check("cell model resolves by stamp, then value") {
      m.cell(1L, "status").contains(CellRule.Cell("ba", 10)) &&
        m.cell(1L, "val").contains(CellRule.Cell(3L, 11))
    }
    check("cell model tracks the C* ts cell and the greatest stamp") {
      m.cqlTs(1L) == 10 && m.maxStamp(1L) == 11
    }
    check("cell values compare as unsigned bytes") {
      CellRule.valueGt("é", "z") && CellRule.valueGt(-1L, 1L) && !CellRule.valueGt(null, "a")
    }

    // row model: ts, then uid
    val r = new RowModel
    r.write(7L, Row(5, 1, "x"), Some(Row(1, 7, "p")))
    r.write(7L, Row(5, 0, "y"), None) // same ts, smaller uid: loses
    r.write(7L, Row(5, 2, "z"), None) // same ts, greater uid: wins
    r.write(8L, Row(0, 9, "old"), Some(Row(1, 8, "p"))) // older than the preload: loses
    check("row model resolves by ts, then uid") {
      r.rows(7L) == Row(5, 2, "z") && !r.rows.contains(8L)
    }

    // attribution by the write or file sink the plan names
    def node(name: String, detail: String, kids: PlanNode*) = PlanNode(name, detail, kids)
    val cached = node("InMemoryTableScan", "InMemoryTableScan [key#1L]")
    check("ES write job") {
      Layers.of(node("AppendData", "AppendData graft.sources.EsRestWriteBuilder$$anon$1@5d36",
        node("Project", "Project", cached))) == Layers.Es
    }
    check("CQL write job") {
      Layers.of(node("AppendData", "AppendData graft.sources.CqlWriteBuilder$$anon$1@1c7c",
        cached)) == Layers.Cql
    }
    check("snapshot rewrite job") {
      Layers.of(node("AdaptiveSparkPlan", "AdaptiveSparkPlan isFinalPlan=false",
        node("Execute InsertIntoHadoopFsRelationCommand",
          "Execute InsertIntoHadoopFsRelationCommand file:/x/snapA.tmp", cached))) == Layers.StateWrite
    }
    check("merge job over the micro-batch") {
      Layers.of(node("SortAggregate", "SortAggregate(key=[key#1L], functions=[max(ts#2L)])",
        node("MicroBatchScan", "MicroBatchScan[key#1L] EsRestScan http://h:1/t"))) == Layers.Merge
    }
    check("snapshot count job") {
      Layers.of(node("HashAggregate", "HashAggregate(keys=[], functions=[count(1)])",
        node("Scan parquet ", "FileScan parquet [] Location: InMemoryFileIndex"))) == Layers.StateRead
    }
    check("plain snapshot scan") {
      Layers.of(node("Project", "Project",
        node("Scan parquet ", "FileScan parquet [key#1L]"))) == Layers.StateRead
    }

    check("interval union merges overlaps") {
      Intervals.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0
    }

    check("interval gaps are the uncovered parts of a window") {
      Intervals.gaps(0.0, 10.0, Seq((2.0, 4.0), (3.0, 5.0), (8.0, 12.0))) ==
        Seq((0.0, 2.0), (5.0, 8.0))
    }

    // layer coverage: a job outside every trigger lies in a gap, so it
    // counts once; round 0-300 ms, one trigger 100-200 ms with 10 ms of
    // phases before addBatch and 10 ms after, one job inside the trigger
    // (120-150) and one after it (250-280)
    def job(from: Long, to: Long) = Job(0, from, to, Layers.Other, 1, 1, 0, 0, 0, 0, 0, 0)
    val trig = Trigger("q", 100, Map("triggerExecution" -> 100L, "latestOffset" -> 4L,
      "queryPlanning" -> 6L, "addBatch" -> 80L, "commitOffsets" -> 10L), Seq(1L), Seq("0"))
    val round = Round("busy", 0.3, 0, 300, Seq(trig), Nil, Seq(job(120, 150), job(250, 280)),
      failed = false, None)
    check("layer coverage counts a job outside every trigger once") {
      math.abs(SyncBench.coverage(round) - 250.0 / 300) < 1e-9
    }
    check("layer coverage never exceeds the round") {
      SyncBench.coverage(round.copy(jobs = Seq(job(-50, 400)))) <= 1.0
    }

    println(s"[selftest] $passed passed, ${failures.size} failed")
    failures.foreach(f => println(s"[selftest] FAILED: $f"))
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
