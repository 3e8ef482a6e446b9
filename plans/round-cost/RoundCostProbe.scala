package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.sources.{CqlProtocol, EsHttp}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one `SyncJob.runOnce` of a `merge: cell` loop costs, round by
  * round: wall time, Spark jobs and stages, generated classes compiled
  * (`CodegenMetrics.METRIC_COMPILATION_TIME`'s count) and the time spent
  * compiling them (the sum of CodeGenerator's "Code generated in <t> ms"
  * lines), rows read, the graft-cql and graft-es writes it planned, and
  * the requests the CQL and ES stubs served. The executed plan of the
  * first busy round's merge (the frame the round caches) is written to
  * `<out.json>.merge-plan.txt`.
  *
  * The load is perfbench's `cell-wire` shape: 2000 C* rows and 300 ES docs
  * preloaded; each iteration writes 200 new C* keys, 200 ES-side
  * single-cell updates and 50 keys changed on both sides in different
  * cells (ES first, then C*), then runs three rounds: busy, echo, idle.
  *
  * Not part of the build. Copy it into `src/test/scala/graft/` of a
  * checkout and run, from that checkout:
  * {{{
  * sbt "Test/runMain graft.RoundCostProbe <out.json> [iterations]"
  * }}}
  */
object RoundCostProbe {
  private val cells = Seq("status", "val")

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val iterations = if (args.length > 1) args(1).toInt else 4
    val spark = SparkSession.builder().master("local[4]").appName("round-cost")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val compileMicros = new AtomicLong
    countCompileTime(compileMicros)
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    val base = java.nio.file.Files.createTempDirectory("round-cost").toString
    val client = new CqlProtocol.Client("127.0.0.1", cql.port)
    try {
      cql.createTable("ks", "t", Seq(("key", "bigint"), ("ts", "bigint"),
        ("status", "text"), ("val", "bigint")), pk = "key")
      val (code, _) = EsHttp.request("PUT", s"${es.url}/t", Some(
        """{"mappings":{"properties":{"key":{"type":"long"},"ts":{"type":"long"},
          |"status":{"type":"keyword"},"status_wt":{"type":"long"},
          |"val":{"type":"long"},"val_wt":{"type":"long"}}}}""".stripMargin))
      require(code == 200, s"index create answered $code")
      val cfg = SyncConfig.fromYaml(
        s"""cassandra:
           |  feed: cql://${cql.host}/ks/t?pk=key
           |  snapshot: $base/snapA
           |  format: graft-cql
           |elasticsearch:
           |  feed: es://127.0.0.1:${es.url.split(":").last}/t
           |  snapshot: $base/snapB
           |  format: graft-es
           |checkpoint_dir: $base/ckpt
           |merge: cell
           |cells: status,val
           |""".stripMargin)

      // key -> cell -> (value, stamp): every write's stamp is fresh and
      // greater than all before it, so this is the converged state
      val model = mutable.Map.empty[Long, mutable.Map[String, (Any, Long)]]
      var stamp = 1000000000L
      var nextKey = 1L
      val rng = new scala.util.Random(7)
      def write(key: Long, values: Map[String, Any]): Long = {
        stamp += 1
        values.foreach { case (c, v) => model.getOrElseUpdate(key, mutable.Map.empty)(c) = (v, stamp) }
        stamp
      }
      def writeCql(rows: Seq[(Long, Map[String, Any])]): Unit =
        rows.map { case (k, vs) => (k, vs, write(k, vs)) }.grouped(1000).foreach { chunk =>
          client.batch(chunk.map { case (k, vs, s) =>
            val cs = cells.filter(vs.contains)
            val cols = Seq("key", "ts") ++ cs
            (s"INSERT INTO ks.t (${cols.mkString(", ")}) VALUES " +
              s"(${cols.map(_ => "?").mkString(", ")}) USING TIMESTAMP ?",
              Seq(CqlProtocol.encode(k, LongType), CqlProtocol.encode(s, LongType)) ++
                cs.map(c => CqlProtocol.encode(vs(c), if (c == "status") StringType else LongType)) :+
                CqlProtocol.encode(s, LongType))
          })
        }
      def json(v: Any): String = v match {
        case s: String => "\"" + s + "\""
        case other => other.toString
      }
      def writeEs(rows: Seq[(Long, Map[String, Any])]): Unit = {
        val body = new StringBuilder
        rows.foreach { case (k, vs) =>
          val s = write(k, vs)
          val fields = Seq("\"key\":" + k, "\"ts\":" + s) ++ cells.flatMap { c =>
            model(k).get(c).toSeq.flatMap { case (v, wt) =>
              Seq(s"\"$c\":${json(v)}", s"\"${c}_wt\":$wt") }
          }
          body ++= s"""{"index":{"_index":"t","_id":"$k","version":$s,"version_type":"external_gte"}}""" + "\n"
          body ++= fields.mkString("{", ",", "}") + "\n"
        }
        val (c, resp) = EsHttp.request("POST", s"${es.url}/_bulk", Some(body.toString),
          "application/x-ndjson")
        require(c == 200 && !resp.contains("\"errors\":true"), s"bulk write failed: $c $resp")
      }
      def status(i: Int) = s"s$i-${rng.alphanumeric.take(6).mkString}"
      def value() = rng.nextInt(1000000000).toLong
      def fresh(n: Int) = (1 to n).map { _ => val k = nextKey; nextKey += 1; k }

      // listeners: jobs, stages, rows read, writes planned per connector
      val jobs, stages, rowsIn, cqlWrites, esWrites = new AtomicLong
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
      })
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          rowsIn.addAndGet(e.progress.numInputRows)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          qe.logical.foreach {
            case a: AppendData if a.table.name.startsWith("graft-cql:") => cqlWrites.incrementAndGet()
            case a: AppendData if a.table.name.startsWith("graft-es:") => esWrites.incrementAndGet()
            case _ => ()
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      /** Waits until the listeners have seen every event posted so far. */
      def fence(): Unit = {
        val before = jobs.get
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 30000000000L
        while (jobs.get == before && System.nanoTime() < deadline) Thread.sleep(5)
        Thread.sleep(200)
      }
      val counters: Seq[(String, () => Long)] = Seq(
        "jobs" -> (() => jobs.get), "stages" -> (() => stages.get),
        "compiles" -> (() => CodegenMetrics.METRIC_COMPILATION_TIME.getCount),
        "compile_us" -> (() => compileMicros.get),
        "rows_in" -> (() => rowsIn.get),
        "cql_write_plans" -> (() => cqlWrites.get), "es_write_plans" -> (() => esWrites.get),
        "cql_batch_requests" -> (() => cql.batchRequests.get.toLong),
        "cql_execute_requests" -> (() => cql.executeRequests.get.toLong),
        "es_bulk_requests" -> (() => es.bulkRequests.get.toLong),
        "es_searches" -> (() => es.searches.get.toLong))
      // the executed plans of the frames a round caches: its merge
      val mergePlans = new java.util.concurrent.ConcurrentLinkedQueue[String]
      @volatile var capturePlans = false
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }).flatMap(nodes)
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (capturePlans) nodes(qe.executedPlan).foreach {
            case m: InMemoryTableScanExec =>
              val plan = m.relation.cachedPlan match {
                case a: AdaptiveSparkPlanExec => a.executedPlan
                case p => p
              }
              if (!mergePlans.contains(plan.treeString)) mergePlans.add(plan.treeString)
            case _ => ()
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      val rounds = mutable.ArrayBuffer.empty[String]
      def round(iteration: Int, kind: String): Unit = {
        fence()
        val before = counters.map(_._2())
        capturePlans = iteration == 1 && kind == "busy"
        val t0 = System.nanoTime()
        SyncJob.runOnce(spark, cfg)
        val ms = (System.nanoTime() - t0) / 1e6
        fence()
        capturePlans = false
        // the fence's own job is not the round's
        val deltas = counters.zip(before).map { case ((n, c), b) =>
          n -> (c() - b - (if (n == "jobs" || n == "stages") 1 else 0)) }
        val line = (Seq("\"iteration\":" + iteration, "\"kind\":\"" + kind + "\"",
          f"\"wall_ms\":$ms%.1f") ++ deltas.map {
            case ("compile_us", d) => f"\"compile_ms\":${d / 1000.0}%.1f"
            case (n, d) => s"\"$n\":$d"
          })
          .mkString("{", ",", "}")
        println(s"[round-cost] $line")
        rounds += line
      }

      writeCql(fresh(2000).map(k => k -> Map[String, Any]("status" -> status(0), "val" -> value())))
      writeEs((1 to 300).map(i => (10000000L + i) -> Map[String, Any]("status" -> status(0), "val" -> value())))
      round(0, "initial")
      round(0, "echo")
      round(0, "idle")
      (1 to iterations).foreach { i =>
        val picked = rng.shuffle(model.keys.toIndexedSeq.sorted).take(250)
        val (esOnly, both) = picked.splitAt(200)
        val cqlRows = fresh(200).map(k => k -> Map[String, Any]("status" -> status(i), "val" -> value())) ++
          both.map(k => k -> Map[String, Any]("status" -> status(i)))
        val esRows = esOnly.map { k =>
          val c = cells(rng.nextInt(cells.size))
          k -> Map[String, Any](c -> (if (c == "status") status(i) else value()))
        } ++ both.map(k => k -> Map[String, Any]("val" -> value()))
        writeEs(esRows)
        writeCql(cqlRows)
        round(i, "busy")
        round(i, "echo")
        round(i, "idle")
      }
      val doc = s"""{"iterations":$iterations,"rounds":[\n${rounds.mkString(",\n")}\n]}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out), doc.getBytes("UTF-8"))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.write(java.nio.file.Paths.get(out + ".merge-plan.txt"),
        mergePlans.asScala.mkString("\n").getBytes("UTF-8"))
    } finally {
      client.close(); cql.stop(); es.stop(); spark.stop()
    }
  }

  /** Adds the time of every "Code generated in <t> ms" line CodeGenerator
    * logs to `micros`, through an appender of its own: the logger's lines
    * reach no other appender. */
  private def countCompileTime(micros: AtomicLong): Unit = {
    val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
    val appender = new AbstractAppender("compile-time", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case pattern(ms) => micros.addAndGet(math.round(ms.toDouble * 1000))
        case _ => ()
      }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val logger = new LoggerConfig(name, Level.INFO, false)
    logger.addAppender(appender, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
  }
}
