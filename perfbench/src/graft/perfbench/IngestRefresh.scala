package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

/** Write side of the data plane: bulk ingest of a seeded corpus into the
  * vector, IVF and index stores, then refresh cycles that each edit ~1% of
  * the files, add one and delete one. */
object IngestRefresh {
  private val Reps = 2
  private val CyclesPerRound = 2
  private val TracedCycles = 4
  private val ChangedFraction = 0.01

  def spec(smoke: Boolean): Corpus.Spec =
    if (smoke) Corpus.Spec(60, 1200, 4200) else Corpus.Spec(150, 1200, 4200)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val sp = spec(ctx.smoke)
    val quiet = new Ingest(spark, new Tracer(spark, enabled = false))
    var cycle = 0
    def nextCycle(): Int = { cycle += 1; cycle }

    // set-up: write the corpus, ingest it and refresh it once, warming the
    // JVM and the code generator; repeated, and the median reported
    val setupS = (1 to (if (ctx.smoke) 1 else Reps)).map { i =>
      val t0 = System.nanoTime()
      val dir = ctx.scratch.resolve(s"setup-$i/corpus")
      Corpus.write(dir, ctx.seed, sp)
      val root = ctx.scratch.resolve(s"setup-$i/store")
      quiet.build(dir, root)
      Corpus.mutate(dir, ctx.seed, 0, ChangedFraction, sp)
      quiet.refresh(dir, root)
      ctx.since(t0)
    }
    out.metric("setup_s", Stats.median(setupS), "s")
    out.context("setup_reps_s") = setupS
    ctx.startClock()

    val corpus = ctx.scratch.resolve("corpus")
    Corpus.write(corpus, ctx.seed, sp)
    val ingest = new Ingest(spark, ctx.tr)
    val ingestS = ArrayBuffer[Double]()
    var ingestedChunks = 0L
    val cycleS = ArrayBuffer[Double]()
    var rewritten = 0L
    var changedBytes = 0L
    var lastRoot: Option[Path] = None
    var round = 0
    def more: Boolean = if (ctx.tr.enabled) round < 1 else round == 0 || ctx.timeLeft
    while (more) {
      round += 1
      val root = ctx.scratch.resolve(s"round-$round")
      val t0 = System.nanoTime()
      out.op("ingest")(ingest.build(corpus, root)).foreach { rows =>
        val dt = ctx.since(t0)
        ingestS += dt
        ingestedChunks += rows
        lastRoot = Some(root)
        if (round == 1) {
          val vec = Ingest.treeBytes(root.resolve(Ingest.StoreName))
          val all = vec + Ingest.treeBytes(root.resolve("ann")) +
            Ingest.treeBytes(root.resolve("index"))
          val input = Corpus.bytes(Corpus.listFiles(corpus))
          out.metric("vectorstore.bytes_written", vec.toDouble, "bytes")
          out.metric("store.bytes_per_input_byte", all.toDouble / input, "ratio")
          out.named("store_bytes_per_input_byte", all.toDouble / input, "ratio", 1)
          out.context("corpus_files") = Corpus.listFiles(corpus).size
          out.context("corpus_bytes") = input
          out.context("stored_chunks") = rows
        }
        var c = 0
        def moreCycles: Boolean =
          if (ctx.tr.enabled) c < TracedCycles else c < CyclesPerRound && (c == 0 || ctx.timeLeft)
        while (moreCycles) {
          c += 1
          val m = Corpus.mutate(corpus, ctx.seed, nextCycle(), ChangedFraction, sp)
          val before = if (ctx.tr.enabled) Ingest.snapshot(root.resolve(Ingest.StoreName)) else null
          val t1 = System.nanoTime()
          out.op("refresh")(ingest.refresh(corpus, root)).foreach { st =>
            cycleS += ctx.since(t1)
            out.check(s"refresh.cycle$cycle.classified",
              st == Map("new" -> 1, "modified" -> m.modified.size, "deleted" -> 1), st.toString)
          }
          if (ctx.tr.enabled) {
            rewritten += Ingest.bytesWritten(before, Ingest.snapshot(root.resolve(Ingest.StoreName)))
            changedBytes += Corpus.bytes(m.changedFiles)
          }
        }
      }
    }

    // output check: the refreshed store equals a fresh build of the final files
    lastRoot.foreach { root =>
      val fresh = ctx.scratch.resolve("check")
      quiet.build(corpus, fresh)
      val (n1, d1, sum1, ids1) = quiet.digest(root)
      val (n2, d2, sum2, ids2) = quiet.digest(fresh)
      out.check("refresh.no_duplicate_ids", n1 == d1, s"$n1 rows, $d1 distinct ids")
      out.check("refresh.same_ids_as_fresh_build", ids1 == ids2,
        s"refreshed ${ids1.size} ids, fresh ${ids2.size}; only refreshed: " +
          ids1.diff(ids2).take(5) + " only fresh: " + ids2.diff(ids1).take(5))
      out.check("refresh.same_checksum_as_fresh_build", n1 == n2 && sum1 == sum2,
        s"refreshed ($n1, $sum1) fresh ($n2, $sum2)")
    }

    // work per second over every ingest of the window
    val rate = ingestedChunks / ingestS.sum
    val cycle50 = Stats.median(cycleS.toSeq)
    out.metric("latency_ms", cycle50 * 1e3, "ms")
    out.metric("throughput_per_s", rate, "1/s")
    out.named("ingest_chunks_per_s", rate, "1/s", ingestS.size)
    out.named("refresh_p50_s", cycle50, "s", cycleS.size)
    out.context("ingest_s") = ingestS.toSeq
    out.context("refresh_s") = cycleS.toSeq

    if (ctx.tr.enabled) layerMetrics(ctx.tr, out, rewritten, changedBytes)
  }

  private def layerMetrics(tr: Tracer, out: Outcome, rewritten: Long, changed: Long): Unit = {
    def totalS(name: String): Double = tr.spansNamed(name).map(tr.durMs).sum / 1e3
    def total(metric: String): Double = tr.sampled(metric).sum
    out.metric("sources.load_s", totalS("sources.load"), "s")
    out.metric("sources.files_parsed", total("sources.files_parsed"), "count")
    out.metric("sources.list_s", totalS("sources.list"), "s")
    out.metric("chunker.s", totalS("chunker"), "s")
    out.metric("chunker.chunks", total("chunker.chunks"), "count")
    out.metric("dedup.s", totalS("dedup"), "s")
    out.metric("dedup.kept_ratio", total("dedup.kept") / total("chunker.chunks"), "ratio")
    out.metric("changedetect.s", totalS("changedetect"), "s")
    out.metric("changedetect.changed_ratio",
      Stats.median(tr.sampled("changedetect.changed_ratio")), "ratio")
    out.metric("embedder.s", totalS("embedder"), "s")
    out.metric("embedder.batches", total("embedder.batches"), "count")
    out.metric("embedder.rows_per_s", total("embedder.rows") / totalS("embedder"), "1/s")
    out.metric("vectorstore.write_s", totalS("vectorstore.write"), "s")
    out.metric("annstore.write_s", totalS("annstore.write"), "s")
    out.metric("indexstore.write_s", totalS("indexstore.write"), "s")
    out.metric("vectorstore.delete_s", totalS("vectorstore.delete"), "s")
    out.metric("vectorstore.merge_s", totalS("vectorstore.merge"), "s")
    out.metric("vectorstore.rewrite_bytes_per_changed_byte",
      if (changed > 0) rewritten.toDouble / changed else 0.0, "ratio")
  }
}
