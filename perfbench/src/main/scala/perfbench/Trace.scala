package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code. Jobs it starts carry the Spark job
  * group `pb-<id>`; codegen counters are sampled at both ends.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, startMs: Long, cgNs0: Long, cgN0: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var cgNs1: Long = cgNs0
  var cgN1: Long = cgN0
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, peakExec: Long, inBytes: Long, inRecs: Long, outBytes: Long, outRecs: Long,
    shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long, ok: Boolean)

final case class JobRec(id: Int, group: Option[Int], time: Long, stages: Seq[Int])

final case class QeRec(endMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
    nodes: Int, exchanges: Int)

/** Spans around every call into a layer, plus the listeners that attribute
  * Spark's jobs, stages, tasks and query executions to them. Only public
  * listener interfaces are registered; nothing in graft is instrumented.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var on = false
  private var run = ""

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("pb-")).map(_.drop(3).toInt)
      jobs += JobRec(e.jobId, group, e.time, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled, i.successful)
      else tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, i.successful)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val end = ph.values.map(_.endTimeMs).foldLeft(0L)(_ max _)
      val plan = Tracer.nodes(qe.executedPlan)
      Tracer.this.synchronized {
        qes += QeRec(end, ms("analysis"), ms("optimization"), ms("planning"), plan.size,
          plan.count {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
            case _ => false
          })
      }
    }
  }

  /** Start recording: listeners on, spans of run `runId` kept. */
  def start(runId: String): Unit = {
    run = runId
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop recording once every queued listener event has been delivered. */
  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Time `body` as a span named `name`; a no-op wrapper while off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), run, System.nanoTime(),
        System.currentTimeMillis(), CodeGenerator.compileTime,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      spans += s
      stack.push(s)
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.cgNs1 = CodeGenerator.compileTime
        s.cgN1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Wall time of `s` not covered by its child spans. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** The innermost span open at wall-clock millisecond `t`. */
  def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => s.endNs - s.startNs).headOption

  /** Each job's span: its job group, else the innermost span open at submission. */
  lazy val jobSpan: Map[Int, Int] = jobs.flatMap { j =>
    j.group.filter(_ < spans.size).orElse(spanAt(j.time).map(_.id)).map(j.id -> _)
  }.toMap

  def jobsIn(ids: Set[Int]): Seq[JobRec] = jobs.filter(j => jobSpan.get(j.id).exists(ids)).toSeq

  def tasksIn(ids: Set[Int]): Seq[TaskRec] = {
    val js = jobsIn(ids).map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stage).exists(js)).toSeq
  }

  def qesIn(ids: Set[Int]): Seq[QeRec] = qes.filter(q => spanAt(q.endMs).exists(s => ids(s.id))).toSeq

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},""" +
      s""""self_s":${selfSeconds(s)}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  /** Physical plan nodes, looking through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
