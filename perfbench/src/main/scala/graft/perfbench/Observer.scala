package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch trigger as its progress event reports it. */
final case class Trigger(queryId: String, startMs: Long, durations: Map[String, Long],
    sourceRows: Seq[Long], sourceEnd: Seq[String]) {
  def rows: Long = sourceRows.sum
  def totalMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** One Spark job with the stage metrics of its tasks. */
final case class Job(id: Int, startMs: Long, endMs: Long, layer: String,
    stages: Int, tasks: Int, cpuMs: Double, gcMs: Long, shuffleWrite: Long,
    spill: Long, bytesRead: Long, bytesWritten: Long) {
  def ms: Long = endMs - startMs
}

/** One action's query execution as the QueryExecutionListener reports it. */
final case class Exec(planMs: Double, execMs: Double, codegenFraction: Double,
    lambdas: Int)

/** The listeners the benchmark registers on the session. The streaming
  * listener is always on, because a round's input row count decides when
  * the loop is quiescent; the job and query-execution listeners are on only
  * while [[trace]] is on. Events are read after a drain, between operations. */
final class Observer(spark: SparkSession) {
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val started = new ConcurrentLinkedQueue[(String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val execs = new ConcurrentLinkedQueue[Exec]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.add(e.id.toString -> java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(p.id.toString, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.sources.toSeq.map(_.numInputRows), p.sources.toSeq.map(_.endOffset)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val jobListener = new SparkListener {
    private val planOf = mutable.Map.empty[Long, String]
    private val stagesOf = mutable.Map.empty[Int, (Long, Seq[Int], String)]
    private val stageInfo = mutable.Map.empty[Int, StageInfo]
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        planOf(e.executionId) = Layers.of(PlanNode.of(e.sparkPlanInfo))
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val layer = exec.flatMap(planOf.get).getOrElse(Layers.Other)
      stagesOf(e.jobId) = (e.time, e.stageIds, layer)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageInfo(e.stageInfo.stageId) = e.stageInfo
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      stagesOf.remove(e.jobId).foreach { case (t0, stageIds, layer) =>
        val ss = stageIds.flatMap(stageInfo.remove)
        val ms = ss.flatMap(s => Option(s.taskMetrics))
        jobs.add(Job(e.jobId, t0, e.time, layer, ss.size, ss.map(_.numTasks).sum,
          ms.map(_.executorCpuTime).sum / 1e6, ms.map(_.jvmGCTime).sum,
          ms.map(_.shuffleWriteMetrics.bytesWritten).sum,
          ms.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum,
          ms.map(_.inputMetrics.bytesRead).sum,
          ms.map(_.outputMetrics.bytesWritten).sum))
      }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
      val (cg, lambdas) = Plans.codegenAndLambdas(qe.executedPlan)
      execs.add(Exec(planMs, durationNs / 1e6, cg, lambdas))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)
  private var traced = false

  /** Turn the job and query-execution listeners on or off. */
  def trace(on: Boolean): Unit = if (on != traced) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(execListener)
    } else {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(execListener)
    }
    traced = on
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  private def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = Seq.newBuilder[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.result()
  }

  /** Everything observed since the previous call, after a drain. */
  def collect(): (Seq[Trigger], Seq[(String, Long)], Seq[Job], Seq[Exec]) = {
    drain()
    (take(triggers), take(started), take(jobs), take(execs))
  }

  def close(): Unit = {
    trace(on = false)
    spark.streams.removeListener(streamListener)
  }
}

/** Physical-plan measures read from an executed plan. */
object Plans {
  import org.apache.spark.sql.catalyst.expressions.LambdaFunction
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  /** (share of operators inside whole-stage codegen, lambda expressions).
    * Codegen wrappers themselves (`WholeStageCodegen`, `InputAdapter`) are
    * not operators and are not counted. */
  def codegenAndLambdas(root: SparkPlan): (Double, Int) = {
    var total = 0
    var inCodegen = 0
    var lambdas = 0
    def walk(p0: SparkPlan, underCodegen: Boolean): Unit = {
      val p = unwrap(p0)
      p match {
        case w: WholeStageCodegenExec => walk(w.child, underCodegen = true)
        case i: InputAdapter => walk(i.child, underCodegen = false)
        case _ =>
          total += 1
          if (underCodegen) inCodegen += 1
          p.expressions.foreach(_.foreach {
            case _: LambdaFunction => lambdas += 1
            case _ => ()
          })
          p.children.foreach(walk(_, underCodegen))
      }
    }
    walk(root, underCodegen = false)
    (if (total == 0) 0.0 else inCodegen.toDouble / total, lambdas)
  }
}
