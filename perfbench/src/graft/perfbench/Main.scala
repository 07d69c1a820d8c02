package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long, seconds: Double,
                     smoke: Boolean, scratch: Path, dataDir: Path, benchDir: Path) {
  private var deadlineNs = Long.MaxValue
  /** Starts tracing and the measured window of `seconds`; called when
    * set-up is done. */
  def startClock(): Unit = {
    tr.start()
    deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
  }
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
  /** Seconds since `t0`, a `System.nanoTime` reading. */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Counts, checks and metrics of one run; renders the final result line. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  private val checks = mutable.ArrayBuffer[(String, Boolean)]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val context = mutable.LinkedHashMap[String, Any]()

  /** An output check, printed by name; a failed one counts as a failure. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    checks += name -> ok
    if (ok) println(s"check ok   $name")
    else {
      failed += 1
      println(s"check FAIL $name ${detail.take(400)}")
    }
  }

  /** Run one timed operation; a throw counts as a failure, never a 0. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        println(s"op FAIL $name ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = value -> unit

  /** A workload's own headline figure, printed by name in the context line
    * with the number of samples behind it. */
  def named(name: String, value: Double, unit: String, samples: Int): Unit =
    context(name) = Map("value" -> value, "unit" -> unit, "samples" -> samples)

  def correct: Boolean = failed == 0 && checks.nonEmpty

  /** The result line over `wanted` (name, unit) metrics; a metric that was
    * not measured, or was measured in another unit, is an error. */
  def resultLine(wanted: Seq[(String, String)]): String = {
    val bad = wanted.filterNot { case (n, u) => metrics.get(n).exists(_._2 == u) }
    require(bad.isEmpty, s"metrics not measured as declared: ${bad.mkString(", ")}")
    Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(wanted.map { case (n, u) =>
        n -> Map("value" -> metrics(n)._1, "unit" -> u)
      }: _*)))
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def session(cores: Int, scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak old-generation occupancy of this JVM's heap, in MiB. */
  def oldGenPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .map(_.getPeakUsage.getUsed.toDouble / (1 << 20)).sum

  /** Runs the named workloads in one session, one after another; smoke
    * mode passes several so the JVM warms up once. For each it prints a
    * context line and then its result line; the run's last line is the
    * last workload's result. */
  def main(args: Array[String]): Unit = {
    val workloads = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
      .split(',').toSeq
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(0L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val smoke = arg(args, "--smoke").contains("1")
    // half the cores, so a core taken by other load on the host does not
    // stall a stage behind one task
    val cores = math.max(1, math.min(Runtime.getRuntime.availableProcessors, 4) / 2)
    val scratch = Paths.get(arg(args, "--scratch").getOrElse(sys.error("--scratch is required")))
    val benchDir = Paths.get("perfbench")
    val wanted = arg(args, "--metrics").map(_.split(',').toSeq.map { nu =>
      val Array(n, u) = nu.split("=", 2); n -> u
    }).getOrElse(Nil)

    val spark = session(cores, scratch)
    val lines = workloads.map { w =>
      val tr = new Tracer(spark, traced)
      val ctx = Ctx(spark, tr, seed, seconds, smoke, scratch.resolve(w), benchDir.resolve("data"),
        benchDir)
      val out = runWorkload(ctx, w, cores, wanted)
      val doc = mutable.LinkedHashMap[String, Any]("context" -> out.context,
        "metrics" -> out.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      if (traced) doc ++= tr.toJson
      val traceFile = Paths.get(".bench_traces", s"$w-seed$seed-trace${if (traced) 1 else 0}.json")
      Files.createDirectories(traceFile.getParent)
      Files.writeString(traceFile, Json.render(doc))
      val line = out.resultLine(if (wanted.nonEmpty) wanted else out.metrics.toSeq.map {
        case (n, (_, u)) => n -> u
      })
      println(Json.render(Map("context" -> out.context)))
      if (w != workloads.last) println(line)
      line
    }
    spark.stop()
    println(lines.last)
  }

  private def runWorkload(ctx: Ctx, workload: String, cores: Int,
                          wanted: Seq[(String, String)]): Outcome = {
    val (spark, tr, traced) = (ctx.spark, ctx.tr, ctx.tr.enabled)
    val out = new Outcome
    out.context ++= Seq("workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "traced" -> traced, "smoke" -> ctx.smoke, "cores_used" -> cores,
      "spark_confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
      })
    workload match {
      case "ingest_refresh" => IngestRefresh.run(ctx, out)
      case "rag_serve" => RagServe.run(ctx, out)
      case "analytics_mix" => AnalyticsMix.run(ctx, out)
      case other => sys.error(s"unknown workload $other")
    }
    tr.close()
    out.metric("heap_peak_mb", oldGenPeakMb, "MiB")
    out.named("error_rate", out.failed.toDouble / math.max(out.attempted, 1), "ratio",
      out.attempted.toInt)
    if (traced) {
      val c = tr.totalCounts
      out.metric("spark.jobs", c.jobs.toDouble, "count")
      out.metric("spark.stages", c.stages.toDouble, "count")
      out.metric("spark.tasks", c.tasks.toDouble, "count")
      out.metric("spark.task_time_s", c.taskTimeMs / 1e3, "s")
      out.metric("spark.sched_wait_s", c.schedWaitMs / 1e3, "s")
      out.metric("spark.shuffle_read_bytes", c.shuffleReadBytes.toDouble, "bytes")
      out.metric("spark.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes")
      out.metric("spark.spill_bytes", c.spillBytes.toDouble, "bytes")
      out.metric("spark.gc_s", c.gcMs / 1e3, "s")
      out.metric("spark.input_bytes", c.inputBytes.toDouble, "bytes")
      out.metric("trace.spans", tr.spans.size.toDouble, "count")
      // the end-to-end figures as the traced run saw them: against the
      // untraced run's they give the tracing overhead
      out.metric("trace.latency_ms", out.metrics("latency_ms")._1, "ms")
      out.metric("trace.throughput_per_s", out.metrics("throughput_per_s")._1, "1/s")
      out.check("trace.counters_complete", tr.incompleteSpans == 0,
        s"${tr.incompleteSpans} span(s) ended with jobs the listener had not seen finish")
      tr.layerSelfS.toSeq.sortBy(_._1).foreach { case (l, s) =>
        out.context(s"self_s.$l") = s
      }
    }
    // layers a workload does not reach report 0: they did no work there
    if (traced) wanted.filterNot(w => out.metrics.contains(w._1))
      .foreach { case (n, u) => out.metric(n, 0.0, u) }
    out
  }
}
