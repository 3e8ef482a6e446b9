package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Stats.Metric

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, data: Path, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath,
      Paths.get(req("data")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** What every workload hands back: operations attempted and failed, the
  * correctness verdict, its metrics under the names the workload's own
  * summary uses, the metrics of the result line, and free-form notes. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    summary: Seq[(String, Metric)], metrics: Seq[(String, Metric)], notes: Seq[String])

object Harness {
  /** Spark as `graft.Bench` runs it: local[N], N shuffle partitions, with
    * every scratch path inside the run's work directory. */
  def session(work: Path, cores: Int): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** Bytes of regular files under `dir` (0 if it does not exist). */
  def diskBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** A fresh, empty directory under the work directory. */
  def freshDir(work: Path, name: String): Path = {
    val d = work.resolve(name)
    deleteTree(d)
    Files.createDirectories(d)
    d
  }

  /** One span: a layer's interval, and the span that caused it (0: none). */
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

  /** Spans kept in memory and written out once, at the end of a traced run. */
  final class Tracer {
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, startMs: Double, endMs: Double): Int = {
      val id = spans.size + 1
      spans += Span(id, parent, name, startMs, endMs)
      id
    }
    /** Per span name: total duration minus the part its children cover. */
    def selfTimesMs: Map[String, Double] = {
      val kids = spans.groupBy(_.parent)
      spans.groupBy(_.name).map { case (name, ss) =>
        name -> ss.map { s =>
          val covered = Intervals.union(kids.getOrElse(s.id, Seq.empty[Span]).toSeq.map(c =>
            (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
          (s.endMs - s.startMs) - covered
        }.sum
      }
    }
    def write(path: Path): Unit = {
      val lines = spans.map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
          s""""start_ms": ${Stats.num(s.startMs)}, "end_ms": ${Stats.num(s.endMs)}}""")
      Files.createDirectories(path.getParent)
      Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    }
  }
}

object Intervals {
  /** Total length covered by a set of possibly overlapping intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    val sorted = xs.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    sorted.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** The parts of [from, to] that no interval of `xs` covers. */
  def gaps(from: Double, to: Double, xs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    var at = from
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > at) out += ((at, math.min(a, to)))
      at = math.max(at, b)
    }
    if (to > at) out += ((at, to))
    out.filter { case (a, b) => b > a }.toSeq
  }
}
