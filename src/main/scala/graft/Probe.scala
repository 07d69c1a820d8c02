package graft

import java.io.PrintWriter

import scala.util.control.NonFatal

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query diagnostics over Bench's timed region, `fn(spark, dir).count()`
  * plus `clearCache`. Every rep is timed; the last one is also split and
  * counted:
  *   - build: the query function's wall time, which includes the eager
  *     analysis of its DataFrame and any job it runs while building;
  *   - analysis / optimization / planning: the phases of the count
  *     action's own QueryExecution, read from its tracker;
  *   - exec: the rest of the count action;
  *   - jobs, stages, tasks and task-seconds of the whole rep;
  *   - exchanges in the executed plan (see [[Probe.exchanges]]).
  * The executed count plan (`isFinalPlan=true` under AQE) of each query is
  * written to the plan file in `explain("formatted")` form.
  *
  * Usage: runMain graft.Probe <sfDir> [reps] [query...]
  * (3 reps and every registered query by default; plans go to
  * probe_plans.txt in the working directory)
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private val sc = spark.sparkContext
  private val counts = new Counts
  private val actions = new Actions
  sc.addSparkListener(counts)
  spark.listenerManager.register(actions)

  /** Runs the registered query `name` over `sfDir` `reps` times. */
  def measure(sfDir: String, name: String, reps: Int): Measure = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val fn = SparkEntry.queries(name)
    var buildNs, countNs = 0L
    val walls = (1 to reps).map { r =>
      if (r == reps) {
        GraftListenerBus.drain(sc)
        counts.reset()
        actions.lastCount = None
      }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      buildNs = t1 - t0
      countNs = t2 - t1
      (System.nanoTime() - t0) / 1e9
    }
    GraftListenerBus.drain(sc)
    val qe = actions.lastCount.getOrElse(
      throw new IllegalStateException(s"$name: no count action was recorded"))
    def ms(phase: String): Long = qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)
    val (analysis, optimization, planning) = (ms("analysis"), ms("optimization"), ms("planning"))
    val (jobs, stages, tasks, taskMs) = counts.snapshot
    Measure(name, walls.head, walls.min, walls.last, buildNs / 1000000L,
      analysis, optimization, planning,
      math.max(0L, countNs / 1000000L - analysis - optimization - planning),
      jobs, stages, tasks, taskMs / 1e3, exchanges(qe.executedPlan),
      qe.explainString(FormattedMode))
  }

  /** Measures each of `names`, printing one row per query to stdout and
    * each executed plan to `planFile`. A failing query is reported on
    * stderr and left out. */
  def run(sfDir: String, reps: Int, names: Seq[String], planFile: String): Seq[Measure] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    println(Header)
    val plans = new PrintWriter(planFile, "UTF-8")
    try names.flatMap { name =>
      try {
        val m = measure(sfDir, name, reps)
        println(m.row)
        plans.println(s"========== $name ==========")
        plans.println(m.plan)
        Some(m)
      } catch { case NonFatal(e) =>
        System.err.println(s"probe: $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        None
      }
    } finally plans.close()
  }

  /** Removes this probe's listeners from the session. */
  def close(): Unit = {
    sc.removeSparkListener(counts)
    spark.listenerManager.unregister(actions)
  }
}

object Probe {

  final case class Measure(query: String, firstS: Double, minS: Double, wallS: Double,
                           buildMs: Long, analysisMs: Long, optimizationMs: Long,
                           planningMs: Long, execMs: Long, jobs: Long, stages: Long,
                           tasks: Long, taskS: Double, exchanges: Int, plan: String) {
    def row: String =
      f"$query%-30s $firstS%8.3f $minS%8.3f $buildMs%8d $analysisMs%8d " +
        f"$optimizationMs%8d $planningMs%8d $execMs%8d $jobs%5d $stages%6d " +
        f"$tasks%6d $taskS%8.3f $exchanges%5d"
  }

  private val Header: String =
    f"${"query"}%-30s ${"first_s"}%8s ${"min_s"}%8s ${"build_ms"}%8s " +
      f"${"anlys_ms"}%8s ${"optim_ms"}%8s ${"plan_ms"}%8s ${"exec_ms"}%8s " +
      f"${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s ${"exch"}%5s"

  /** Exchanges in the plan that ran: for an adaptive plan its final plan,
    * descending into query stages and subqueries. A reused exchange runs
    * no new shuffle and is not counted. */
  def exchanges(p: SparkPlan): Int = {
    val self = p match { case _: Exchange => 1; case _ => 0 }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(exchanges).sum
  }

  /** Jobs, stages, tasks and task time since the last reset. */
  private final class Counts extends SparkListener {
    private var jobs, stages, tasks, taskMs = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo != null) taskMs += e.taskInfo.duration
    }
    def reset(): Unit = synchronized { jobs = 0; stages = 0; tasks = 0; taskMs = 0 }
    def snapshot: (Long, Long, Long, Long) = synchronized((jobs, stages, tasks, taskMs))
  }

  /** The QueryExecution of the most recent `count` action. Events arrive
    * in order, so after a drain this is the outermost count of a rep. */
  private final class Actions extends QueryExecutionListener {
    @volatile var lastCount: Option[QueryExecution] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "count") lastCount = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <sfDir> [reps] [query...]")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SessionConf.localSession()
    new Probe(spark).run(args(0), reps, names, "probe_plans.txt")
    spark.stop()
  }
}
