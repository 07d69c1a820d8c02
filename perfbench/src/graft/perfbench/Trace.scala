package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler counts attributed to one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskTimeMs, schedWaitMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, inputBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskTimeMs += o.taskTimeMs; schedWaitMs += o.schedWaitMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_time_ms" -> taskTimeMs, "sched_wait_ms" -> schedWaitMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes)
}

/** Attributes every job, and the stages and tasks it runs, to the span that
  * was innermost on the submitting thread when the job started. */
final class SchedulerListener extends SparkListener {
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobSubmitMs = mutable.Map[Int, Long]()
  private val jobsWithTask = mutable.Set[Int]()
  private val running = mutable.Set[Int]()
  private val bySpan = mutable.Map[Int, Counts]()

  private def counts(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)
  private def spanOfStage(stage: Int): Int =
    stageJob.get(stage).flatMap(jobSpan.get).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobSubmitMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    running += e.jobId
    counts(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(spanOfStage(e.stageInfo.stageId)).stages += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      if (jobsWithTask.add(job))
        counts(spanOfStage(e.stageId)).schedWaitMs +=
          math.max(0L, e.taskInfo.launchTime - jobSubmitMs.getOrElse(job, e.taskInfo.launchTime))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(spanOfStage(e.stageId))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskTimeMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Jobs started under `span` whose end event has not been seen yet. */
  def runningJobs(span: Int): Int = synchronized {
    running.count(j => jobSpan.get(j).contains(span))
  }

  def countsOf(span: Int): Counts = synchronized {
    val c = new Counts
    bySpan.get(span).foreach(c += _)
    c
  }
}

/** One query execution as the listener delivered it: the plan that ran. */
final case class QeRecord(func: String, durationNs: Long, analyzeMs: Long,
                          optimizeMs: Long, planMs: Long, exchanges: Int)

object QeRecord {
  /** Exchanges in the plan that actually executed: for adaptive plans the
    * final plan, descending into query stages and subqueries. A reused
    * exchange runs no new shuffle and is not counted. */
  def exchanges(p: SparkPlan): Int = {
    val self = p match { case _: Exchange => 1; case _ => 0 }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(exchanges).sum
  }

  def of(func: String, qe: QueryExecution, durationNs: Long): QeRecord = {
    val phases = qe.tracker.phases
    def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
    QeRecord(func, durationNs, ms("analysis"), ms("optimization"), ms("planning"),
      exchanges(qe.executedPlan))
  }
}

final class QueryListener extends QueryExecutionListener {
  private val records = ArrayBuffer[QeRecord]()
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val r = QeRecord.of(func, qe, durationNs)
    synchronized { records += r }
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  def all: Seq[QeRecord] = synchronized(records.toSeq)
}

/** Spans at each layer boundary, recorded from the benchmark's side of the
  * calls, from [[start]] on. A disabled tracer runs every body untouched
  * and registers no listener, so untraced runs pay nothing for it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        request: Long, start: Long, var end: Long = 0L)

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext
  val scheduler = new SchedulerListener
  val queries = new QueryListener
  private val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Request id stamped on every span opened until it changes. */
  var request: Long = -1L
  /** Spans whose counters could not be confirmed complete. */
  var incompleteSpans = 0

  private var started = false

  /** Registers the listeners: work before this (set-up) is not counted. */
  def start(): Unit = if (enabled && !started) {
    org.apache.spark.PerfbenchBus.drain(sc, SettleTimeoutNs / 1000000L)
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    started = true
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!started) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), layer, name,
        request, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
        settle(s.id)
      }
    }

  /** Blocks until the listener has seen the end of every job `span`
    * started, so counters read afterwards are complete. */
  def settle(span: Int): Unit = {
    val deadline = System.nanoTime() + SettleTimeoutNs
    org.apache.spark.PerfbenchBus.drain(sc, SettleTimeoutNs / 1000000L)
    while (scheduler.runningJobs(span) > 0 && System.nanoTime() < deadline) {
      Thread.sleep(1)
      org.apache.spark.PerfbenchBus.drain(sc, SettleTimeoutNs / 1000000L)
    }
    if (scheduler.runningJobs(span) > 0) incompleteSpans += 1
  }

  def record(metric: String, v: Double): Unit =
    if (started) samples.getOrElseUpdate(metric, ArrayBuffer()) += v

  def sampled(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def selfNs(s: Span): Long =
    Stats.selfTime(s.start, s.end, children(s).map(c => (c.start, c.end)))

  /** Total self time per layer, in seconds. */
  def layerSelfS: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfNs).sum / 1e9 }

  /** Scheduler counts summed over every span (and jobs outside any span). */
  def totalCounts: Counts = {
    val c = new Counts
    (-1 +: spans.map(_.id).toSeq).foreach(id => c += scheduler.countsOf(id))
    c
  }

  /** Scheduler counts of `s` and every span below it. */
  def inclusiveCounts(s: Span): Counts = {
    val c = scheduler.countsOf(s.id)
    children(s).foreach(ch => c += inclusiveCounts(ch))
    c
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def durMs(s: Span): Double = (s.end - s.start) / 1e6

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "request" -> s.request, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> selfNs(s), "counts" -> scheduler.countsOf(s.id).toMap)
    }.toSeq,
    "layer_self_s" -> layerSelfS,
    "incomplete_spans" -> incompleteSpans)

  def close(): Unit = if (started) {
    org.apache.spark.PerfbenchBus.drain(sc, SettleTimeoutNs / 1000000L)
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val SettleTimeoutNs: Long = 30L * 1000 * 1000 * 1000
}
