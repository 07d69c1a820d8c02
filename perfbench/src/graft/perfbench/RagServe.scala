package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}
import graft.pipeline.{Embedder, RagPipeline}
import graft.store.{AnnStore, IndexStore, VectorStore}

/** Read side of the data plane: one client sends a seeded sequence of
  * requests, each after the previous one returned (closed loop), against
  * three stores built during set-up. */
object RagServe {
  private val Reps = 2
  private val K = 8
  private val NProbe = 2
  private val TracedRequests = 120
  private val CheckEvery = 10

  sealed trait Kind { def name: String }
  case object Vector extends Kind { val name = "vector" }
  case object Ann extends Kind { val name = "ann" }
  case object Hybrid extends Kind { val name = "hybrid" }

  final case class Request(no: Int, kind: Kind, question: String, stores: Seq[String])

  private val Names = Seq("DOCS_A", "DOCS_B", "DOCS_C")
  val Largest = "DOCS_C"

  /** Three stores of 1:3:6 size. */
  def specs(smoke: Boolean): Seq[(String, Corpus.Spec)] = {
    val base = if (smoke) 8 else 10
    Names.zip(Seq(1, 3, 6)).map { case (n, m) => n -> Corpus.Spec(base * m, 1200, 4200) }
  }

  /** Blocks of ten requests in seeded order: six vector searches over
    * one, one, two, two, three and three stores, two ANN probes and two
    * hybrid requests. Every block has the same mix, so seeds change the
    * questions and their order, not the load. */
  def requests(seed: Long, n: Int, names: Seq[String]): Seq[Request] = {
    val r = new Random(seed)
    val block: Seq[(Kind, Int)] =
      Seq(1, 1, 2, 2, 3, 3).map(Vector -> _) ++ Seq.fill(2)(Ann -> 1) ++ Seq.fill(2)(Hybrid -> 1)
    Iterator.continually(r.shuffle(block)).flatten.take(n).zipWithIndex.map {
      case ((kind, nStores), i) =>
        val q = Corpus.question(r, r.nextInt(Corpus.Topics), 3 + r.nextInt(3))
        Request(i, kind, q, r.shuffle(names).take(nStores).sorted)
    }.toSeq
  }

  /** The stores a request is served from. */
  final class Stores(spark: SparkSession, root: Path) {
    val frames: Map[String, DataFrame] = Names.map(n =>
      n -> VectorStore.read(spark, root.resolve(n).toString, Ingest.StoreName)).toMap
    val largest: Path = root.resolve(Largest)
    val docLengths: DataFrame = frames(Largest)
      .select(col("id"), size(Retrieval.analyze(col("text"))).cast("long").as("dl"))
      .localCheckpoint()
  }

  def setup(ctx: Ctx, ingest: Ingest, root: Path): Stores = {
    specs(ctx.smoke).zipWithIndex.foreach { case ((name, sp), i) =>
      val dir = root.resolve(s"corpus/$name")
      Corpus.write(dir, ctx.seed * 31 + i, sp)
      ingest.build(dir, root.resolve(name), indexes = name == Largest)
    }
    new Stores(ctx.spark, root)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val quiet = new Ingest(spark, new Tracer(spark, enabled = false))
    val warm = requests(ctx.seed + 1, 10, Names)
    var stores: Stores = null
    val setupS = (1 to (if (ctx.smoke) 1 else Reps)).map { i =>
      val t0 = System.nanoTime()
      stores = setup(ctx, quiet, ctx.scratch.resolve(s"setup-$i"))
      warm.foreach(serve(spark, quiet, stores, _, new Tracer(spark, enabled = false)))
      ctx.since(t0)
    }
    out.metric("setup_s", Stats.median(setupS), "s")
    out.context("setup_reps_s") = setupS
    ctx.startClock()
    out.context("store_chunks") = stores.frames.map { case (n, df) => n -> df.count() }

    val tr = ctx.tr
    val seq = requests(ctx.seed, 100000, Names)
    val lat = ArrayBuffer[Double]()
    var i = 0
    def more: Boolean = if (tr.enabled) i < TracedRequests else i == 0 || ctx.timeLeft
    while (more) {
      val req = seq(i)
      tr.request = req.no
      val t0 = System.nanoTime()
      out.op(s"request ${req.no} ${req.kind.name}") {
        tr.span("pipeline", s"request.${req.kind.name}")(serve(spark, quiet, stores, req, tr))
      }.foreach(_ => lat += ctx.since(t0) * 1e3)
      i += 1
    }
    val p50 = Stats.median(lat.toSeq)
    out.metric("latency_ms", p50, "ms")
    out.metric("throughput_per_s", lat.size / (lat.sum / 1e3), "1/s")
    out.named("rag_p50_ms", p50, "ms", lat.size)
    Stats.tail(lat.toSeq) match {
      case Some((p, v)) => out.named(s"rag_p${p}_ms", v, "ms", lat.size)
      case None => out.context("rag_tail") = s"undefined: ${lat.size} requests"
    }

    // output checks on every CheckEvery-th request served
    val checked = seq.take(i).filter(_.no % CheckEvery == 0)
    checked.foreach(r => checkRequest(spark, quiet, stores, r, out))

    if (tr.enabled) layerMetrics(tr, out)
  }

  private def slots(req: Request, tr: Tracer): RagPipeline.Slots =
    RagPipeline.Slots(selectTables = (_, catalog) =>
      tr.span("pipeline", "rag.select")(req.stores.filter(catalog.contains)))

  private def embedFn(ingest: Ingest, tr: Tracer): Embedder.EmbedFn =
    texts => tr.span("pipeline", "rag.embed_query")(ingest.embedFn(texts))

  private def vectorSearch(spark: SparkSession, ingest: Ingest, stores: Stores, req: Request,
                           tr: Tracer, storeNames: Seq[String]): RagPipeline.Result = {
    val r = req.copy(stores = storeNames)
    tr.span("pipeline", "rag.execute") {
      RagPipeline.execute(spark, stores.frames, req.question, Nil, embedFn(ingest, tr),
        _ => "", RagPipeline.Config(topK = K), slots(r, tr))
    }
  }

  private def terms(q: String): Seq[String] = q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  private def ranked(spark: SparkSession, rows: Seq[(Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }.toDF("id", "score", "rank")
  }

  /** Serve one request and collect what the client receives. */
  def serve(spark: SparkSession, ingest: Ingest, stores: Stores, req: Request,
            tr: Tracer): Unit = req.kind match {
    case Vector =>
      vectorSearch(spark, ingest, stores, req, tr, req.stores)
    case Ann =>
      val q = tr.span("pipeline", "rag.embed_query")(ingest.embedFn(Seq(req.question)).head.toSeq)
      tr.span("store", "annstore.probe") {
        if (tr.enabled) tr.record("annstore.cells_read",
          Similarity.nearestCentroidIds(ingest.centroids, q, NProbe)
            .count(c => Files.exists(Path.of(Ingest.annPath(stores.largest), s"centroid_id=$c"))))
        AnnStore.probe(spark, Ingest.annPath(stores.largest), ingest.centroids, q,
          "embedding", "id", K, NProbe).select("id").collect()
      }
    case Hybrid =>
      val ts = terms(req.question)
      if (tr.enabled) tr.span("store", "indexstore.lookup") {
        tr.record("indexstore.buckets_read", IndexStore.lookup(spark,
          Ingest.indexPath(stores.largest), ts, Ingest.IndexBuckets)
          .select("bucket").distinct().count().toDouble)
      }
      val lexical = tr.span("operators", "retrieval.bm25") {
        Retrieval.bm25FromIndex(spark, Ingest.indexPath(stores.largest), Ingest.IndexBuckets,
          stores.docLengths, ts, K).select("id", "score").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      }
      val dense = vectorSearch(spark, ingest, stores, req, tr, Seq(Largest)).docs
        .select(col("id").cast("long"), col("score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      tr.span("operators", "retrieval.rrf") {
        Retrieval.rrfFuse(Seq(ranked(spark, dense), ranked(spark, lexical)), "id", K)
          .select("id").collect()
      }
  }

  /** Cosine distance computed in the client, with the engine's arithmetic. */
  private def cosineDistance(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 1.0 else 1.0 - dot / den
  }

  private def checkRequest(spark: SparkSession, ingest: Ingest, stores: Stores, req: Request,
                           out: Outcome): Unit = {
    val off = new Tracer(spark, enabled = false)
    val q = ingest.embedFn(Seq(req.question)).head.toSeq
    req.kind match {
      case Vector =>
        val got = vectorSearch(spark, ingest, stores, req, off, req.stores).docs
          .select(col("id").cast("long"), col("score")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        val cfg = RagPipeline.Config()
        // per-store exact top-k, threshold, keep-max per text, global top-k
        val cands = req.stores.flatMap { n =>
          stores.frames(n).select(col("id").cast("long"), col("text"), col("embedding"))
            .collect().map { r =>
              val d = cosineDistance(q, r.getSeq[Float](2))
              (r.getLong(0), r.getString(1), d)
            }.sortBy(x => (x._3, x._1)).take(K)
            .map { case (id, text, d) => (id, text, 1.0 - d / 2.0) }
        }.filter(_._3 >= cfg.scoreThreshold)
        val want = cands.groupBy(_._2).values
          .map(_.sortBy(x => (-x._3, x._1)).head).toSeq
          .sortBy(x => (-x._3, x._1)).take(K).map(x => x._1 -> x._3)
        out.check(s"rag.vector.req${req.no}.exact_topk", got == want, s"got $got want $want")
      case Ann =>
        val got = AnnStore.probe(spark, Ingest.annPath(stores.largest), ingest.centroids, q,
          "embedding", "id", K, NProbe).select("id", "distance").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        // the same assignment, made in memory from the vector store
        val assigned = Similarity.assignNearestCentroid(
          stores.frames(Largest).select("id", "embedding"), "embedding", "id",
          ingest.centroidFrame, "cid", "cv")
        val want = Similarity.ivfSearch(assigned, "embedding", "id", ingest.centroids, q, K,
          NProbe).select("id", "distance").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        out.check(s"rag.ann.req${req.no}.equals_ivf_search", got == want && got.nonEmpty,
          s"got $got want $want")
      case Hybrid =>
        val ts = terms(req.question)
        val got = Retrieval.bm25FromIndex(spark, Ingest.indexPath(stores.largest),
          Ingest.IndexBuckets, stores.docLengths, ts, K).select("id", "score").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        val want = Retrieval.bm25(stores.frames(Largest), "id", "text", ts, K)
          .select("id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        out.check(s"rag.bm25.req${req.no}.equals_scan", got == want && got.nonEmpty,
          s"got $got want $want")
    }
  }

  private def layerMetrics(tr: Tracer, out: Outcome): Unit = {
    def medMs(name: String): Double = {
      val xs = tr.spansNamed(name).map(tr.durMs)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def mean(metric: String): Double = {
      val xs = tr.sampled(metric)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    out.metric("retrieval.bm25_ms", medMs("retrieval.bm25"), "ms")
    out.metric("retrieval.rrf_ms", medMs("retrieval.rrf"), "ms")
    out.metric("rag.embed_query_ms", medMs("rag.embed_query"), "ms")
    out.metric("rag.select_ms", medMs("rag.select"), "ms")
    val exec = tr.spansNamed("rag.execute")
    out.metric("rag.retrieve_self_ms", Stats.median(exec.map(tr.selfNs(_) / 1e6)), "ms")
    val reqs = tr.spans.filter(s => s.parent == -1 && s.name.startsWith("request.")).toSeq
    out.metric("rag.jobs_per_request",
      reqs.map(tr.inclusiveCounts(_).jobs.toDouble).sum / reqs.size, "count")
    out.metric("annstore.probe_ms", medMs("annstore.probe"), "ms")
    out.metric("annstore.cells_read", mean("annstore.cells_read"), "count")
    out.metric("indexstore.lookup_ms", medMs("indexstore.lookup"), "ms")
    out.metric("indexstore.buckets_read", mean("indexstore.buckets_read"), "count")
  }
}
