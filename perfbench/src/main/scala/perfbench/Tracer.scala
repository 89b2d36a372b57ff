package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `trace`; `parent` is
  * the id of the span that caused this one (None for an operation).
  */
final case class Span(trace: String, id: Int, parent: Option[Int], name: String,
    startMs: Long, endMs: Long)

/** Counters and spans for a traced pass, gathered from listeners the
  * benchmark registers itself: a SparkListener for jobs, stages and task
  * metrics and a QueryExecutionListener for Catalyst's phase timings.
  * Attach for a traced pass only; timed passes run with it detached.
  * Operations run one at a time on the driver thread, so every event
  * between `begin` and `end` belongs to the current operation.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val tasks = new ConcurrentLinkedQueue[TaskMetricsRow]()
  private val spanBuf = scala.collection.mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var current: Option[(String, Int, Long)] = None // (trace, span id, start)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  private def drain(): Unit =
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext, 30000)

  def spans: Seq[Span] = spanBuf.toSeq

  /** Record a child span of the current operation around `body`. */
  def call[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally current.foreach { case (trace, opId, _) =>
      spanBuf += Span(trace, newId(), Some(opId), name, t0, System.currentTimeMillis())
    }
  }

  private def newId(): Int = { nextId += 1; nextId }

  /** Start an operation window: drop stale events, open its span. */
  def begin(trace: String): Unit = {
    drain()
    jobs.clear(); stages.clear(); execs.clear(); tasks.clear()
    current = Some((trace, newId(), System.currentTimeMillis()))
  }

  /** Close the operation window and return its counters. */
  def end(name: String): Map[String, Double] = {
    val (trace, opId, t0) = current.get
    val t1 = System.currentTimeMillis()
    drain()
    current = None
    spanBuf += Span(trace, opId, None, name, t0, t1)
    val js = jobs.asScala.toSeq
    val stageOf = js.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val jobSpan = js.map { j =>
      val id = newId()
      spanBuf += Span(trace, id, Some(opId), s"job ${j.id}", j.startMs,
        if (j.endMs >= 0) j.endMs else t1)
      j.id -> id
    }.toMap
    val st = stages.asScala.toSeq
    st.foreach { s =>
      spanBuf += Span(trace, newId(),
        stageOf.get(s.id).flatMap(jobSpan.get).orElse(Some(opId)),
        s"stage ${s.id}: ${s.name}", s.startMs, s.endMs)
    }
    val ex = execs.asScala.toSeq
    ex.foreach(e => e.phases.foreach { case (p, a, b) =>
      spanBuf += Span(trace, newId(), Some(opId), s"planning.$p", a, b)
    })
    val ts = tasks.asScala.toSeq
    Map(
      "planning.executions" -> ex.size.toDouble,
      "planning.analysis_ms" -> ex.map(_.analysisMs).sum.toDouble,
      "planning.optimization_ms" -> ex.map(_.optimizationMs).sum.toDouble,
      "planning.physical_ms" -> ex.map(_.physicalMs).sum.toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.driver_gap_ms" -> gapMs(t0, t1, js.map(j => (j.startMs, if (j.endMs >= 0) j.endMs else t1))),
      "exec.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.scan_bytes" -> ts.map(_.scan).sum.toDouble,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "exec.peak_exec_mem_bytes" -> ts.map(_.peakMem).foldLeft(0L)(math.max).toDouble)
  }

  /** Wall time in [t0, t1] that no job covers. */
  private def gapMs(t0: Long, t1: Long, spans: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = t0
    spans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0 - covered).toDouble
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for { s <- i.submissionTime; c <- i.completionTime }
      stages.add(Stage(i.stageId, i.name.linesIterator.nextOption().getOrElse(""), s, c, i.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(TaskMetricsRow(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.peakExecutionMemory))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    execs.add(Exec(ms("analysis"), ms("optimization"), ms("planning"),
      ph.toSeq.map { case (k, v) => (k, v.startTimeMs, v.endTimeMs) }))
  }
}

private object Tracer {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int], var endMs: Long = -1)
  final case class Stage(id: Int, name: String, startMs: Long, endMs: Long, tasks: Int)
  final case class Exec(analysisMs: Long, optimizationMs: Long, physicalMs: Long,
      phases: Seq[(String, Long, Long)])

  final case class TaskMetricsRow(runMs: Long, cpuNs: Long, gcMs: Long, scan: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long)
}
