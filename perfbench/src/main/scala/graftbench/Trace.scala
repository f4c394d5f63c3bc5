package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is (name, start, end, parent, iteration). While a span is open the
  * benchmark's own SparkListener and QueryExecutionListener append every
  * job, completed stage and finished query execution to event logs; the
  * span keeps the log positions at its start and end. Both ends drain the
  * listener bus first, so every event a span's calls posted falls inside
  * its window and nothing from before it does.
  */
final class Tracer(spark: SparkSession) {

  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      startMs: Long, startNs: Long, jobs0: Int, stages0: Int, qes0: Int,
      var durNs: Long = 0L, var jobs1: Int = 0, var stages1: Int = 0,
      var qes1: Int = 0) {
    def ms: Double = durNs / 1e6
    def endMs: Long = startMs + durNs / 1000000L
  }

  final case class JobEv(id: Int, startMs: Long, var endMs: Long = -1L)
  final case class StageEv(tasks: Int, runMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, bytesWritten: Long)

  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val jobs = ArrayBuffer.empty[JobEv]
  private val jobIndex = mutable.Map.empty[Int, JobEv]
  private val stages = ArrayBuffer.empty[StageEv]
  private val qes = ArrayBuffer.empty[(String, QueryExecution)]
  var iter = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val j = JobEv(e.jobId, e.time)
        jobs += j; jobIndex(e.jobId) = j
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobIndex.get(e.jobId).foreach(_.endMs = e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val m = e.stageInfo.taskMetrics
        stages += (if (m == null) StageEv(e.stageInfo.numTasks, 0, 0, 0, 0, 0)
          else StageEv(e.stageInfo.numTasks, m.executorRunTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.outputMetrics.bytesWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { qes += funcName -> qe }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized { qes += funcName -> qe }
  }

  def attach(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = BenchAccess.drainListenerBus(spark.sparkContext)

  def span[T](name: String)(body: => T): T = {
    drain()
    val s = synchronized {
      Span(spans.size, name, stack.headOption.getOrElse(-1), iter,
        System.currentTimeMillis(), System.nanoTime(), jobs.size,
        stages.size, qes.size)
    }
    spans += s
    stack.push(s.id)
    try body
    finally {
      s.durNs = System.nanoTime() - s.startNs
      stack.pop()
      drain()
      synchronized {
        s.jobs1 = jobs.size; s.stages1 = stages.size; s.qes1 = qes.size
      }
    }
  }

  // -------------------------------------------------------------- readers

  def jobsOf(s: Span): Seq[JobEv] = synchronized(jobs.slice(s.jobs0, s.jobs1).toSeq)
  def stagesOf(s: Span): Seq[StageEv] =
    synchronized(stages.slice(s.stages0, s.stages1).toSeq)
  def qesOf(s: Span): Seq[(String, QueryExecution)] =
    synchronized(qes.slice(s.qes0, s.qes1).toSeq)

  def jobMs(s: Span): Double =
    jobsOf(s).map(j => math.max(0L, j.endMs - j.startMs)).sum.toDouble

  /** Wall time inside the span not covered by any running job. */
  def driverGapMs(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.ms - covered
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    val st = stagesOf(s)
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
    f""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.ms}%.3f,""" +
    f""""jobs":${s.jobs1 - s.jobs0},"stages":${st.size},""" +
    f""""task_ms":${st.map(_.runMs).sum},"shuffle_write_bytes":${st.map(_.shuffleWrite).sum},""" +
    f""""shuffle_read_bytes":${st.map(_.shuffleRead).sum},"spill_bytes":${st.map(_.spill).sum}}"""
  }
}

/** Plan shape counts, descending into adaptive query stages. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Int = collect(p) { case n => n }.size
  def exchanges(p: SparkPlan): Int = collect(p) { case e: Exchange => e }.size
  def windows(p: SparkPlan): Int = collect(p) { case w: WindowExec => w }.size
  def codegenStages(p: SparkPlan): Int =
    collect(p) { case w: WholeStageCodegenExec => w }.size
}
