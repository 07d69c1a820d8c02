package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.QueryTags

/** The registry surface: a fixed 180th of the registered queries plus
  * the four hot paths named in ROADMAP item 2, over the tables in `data/`.
  * The seed sets the order the queries run in. */
object AnalyticsMix {
  private val Reps = 2
  val Named: Seq[String] = Seq("q186_sparse_cosine", "q213_frequent_itemsets", "q383_hits",
    "q418_diameter_sweep")
  private val Offset = 3

  private val Every = 180

  /** Every 180th non-instrument key in sorted order, plus [[Named]]. */
  def querySet(smoke: Boolean): Seq[String] = {
    val picked = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(QueryTags.instruments).zipWithIndex
      .collect { case (k, i) if i % Every == Offset => k }
    val all = (picked ++ Named).distinct
    if (smoke) all.filterNot(Named.contains).take(3) else all
  }

  def digestFile(ctx: Ctx): Path = ctx.benchDir.resolve("digests/analytics.tsv")

  def readDigests(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, h) = l.split('\t')
      n -> (rows.toLong -> h)
    }.toMap

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** (row count, order-insensitive hash) of a query's result. */
  def digest(df: DataFrame): (Long, String) = {
    var n = 0L
    var h = 0L
    df.collect().foreach { r =>
      val md = MessageDigest.getInstance("MD5").digest(render(r).getBytes(StandardCharsets.UTF_8))
      h += java.nio.ByteBuffer.wrap(md, 0, 8).getLong
      n += 1
    }
    n -> f"$h%016x"
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = ctx.dataDir.toAbsolutePath.toString
    val names = new Random(ctx.seed).shuffle(querySet(ctx.smoke))
    val expected = readDigests(digestFile(ctx))
    val recording = sys.props.get("perfbench.record").contains("1")

    // set-up: passes that check every result against its recorded digest;
    // the first also builds the engine's standing stores
    val seen = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    val setupQ = scala.collection.mutable.LinkedHashMap[String, Double]()
    val setupS = (1 to (if (ctx.smoke) 1 else Reps)).map { rep =>
      val t0 = System.nanoTime()
      names.foreach { n =>
        val q0 = System.nanoTime()
        out.op(s"warm $n") {
          val d = digest(SparkEntry.queries(n)(spark, dir))
          spark.catalog.clearCache()
          if (rep == 1) seen(n) = d
        }
        setupQ += s"$rep.$n" -> ctx.since(q0)
      }
      ctx.since(t0)
    }
    out.metric("setup_s", Stats.median(setupS), "s")
    out.context("setup_reps_s") = setupS
    out.context("setup_query_s") = setupQ
    ctx.startClock()
    if (recording) {
      Files.createDirectories(digestFile(ctx).getParent)
      Files.writeString(digestFile(ctx), seen.toSeq.sortBy(_._1)
        .map { case (n, (r, h)) => s"$n\t$r\t$h" }.mkString("", "\n", "\n"))
    }
    names.foreach { n =>
      out.check(s"analytics.$n.digest", seen.get(n).exists(expected.get(n).contains),
        s"got ${seen.get(n)} recorded ${expected.get(n)}")
    }

    // timed: the queries in the seeded order, cycling until time is up
    // (every query runs at least once); a traced run makes exactly one pass
    val tr = ctx.tr
    val perQuery = names.map(_ -> ArrayBuffer[Double]()).toMap
    val runs = ArrayBuffer[(String, Double)]()
    var i = 0
    def more: Boolean = i < names.size || (!tr.enabled && ctx.timeLeft)
    while (more) {
      val n = names(i % names.size)
      val t0 = System.nanoTime()
      out.op(n)(timedQuery(spark, tr, n, dir)).foreach { _ =>
        val ms = ctx.since(t0) * 1e3
        perQuery(n) += ms
        runs += n -> ms
      }
      spark.catalog.clearCache()
      i += 1
    }
    val medians = names.filter(perQuery(_).nonEmpty).map(n => n -> Stats.median(perQuery(n).toSeq))
    val totalS = medians.map(_._2).sum / 1e3
    val geo = Stats.geomean(medians.map(_._2))
    out.metric("latency_ms", geo, "ms")
    out.metric("throughput_per_s", medians.size / totalS, "1/s")
    out.named("suite_total_s", totalS, "s", medians.size)
    out.named("suite_geomean_ms", geo, "ms", medians.size)
    out.context("query_runs") = i
    out.context("query_ms") = medians.toMap
    out.context("query_samples_ms") = runs.map { case (n, ms) => Seq(n, ms) }.toSeq

    if (tr.enabled) {
      val qes = tr.queries.all
      def sumMs(f: QeRecord => Long): Double = qes.map(f).sum.toDouble
      out.metric("queries.build_ms", tr.spansNamed("queries.build").map(tr.durMs).sum, "ms")
      out.metric("queries.analyze_ms", sumMs(_.analyzeMs), "ms")
      out.metric("queries.optimize_ms", sumMs(_.optimizeMs), "ms")
      out.metric("queries.plan_ms", sumMs(_.planMs), "ms")
      out.metric("queries.exec_ms", qes.map(_.durationNs).sum / 1e6, "ms")
      out.metric("queries.exchanges", qes.map(_.exchanges).sum.toDouble, "count")
      out.metric("queries.jobs", tr.spans.filter(_.name.startsWith("query."))
        .map(tr.inclusiveCounts(_).jobs).sum.toDouble, "count")
    }
  }

  /** Build the query's DataFrame and count it, as graft.Bench times it. */
  private def timedQuery(spark: SparkSession, tr: Tracer, n: String, dir: String): Long =
    tr.span("queries", s"query.$n") {
      val df = tr.span("queries", "queries.build")(SparkEntry.queries(n)(spark, dir))
      tr.span("queries", "queries.exec")(df.count())
    }
}
