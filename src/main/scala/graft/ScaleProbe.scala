package graft

import org.apache.spark.sql.functions._

/** Heavy-tail scale probe (the MergeProbe discipline applied to the
  * slowest steady bench queries): replicate the inputs ×{1,2,4,8} and
  * time each operator's core, proving the documented growth law —
  *
  *   - q428 sampled betweenness: Brandes BFS sweeps over a kNN graph
  *     whose EDGE LIST is replicated with disjoint node ids — cost must
  *     grow ~linearly in edges (each sweep is per-round frontier⋈edges;
  *     disjoint replicas never widen a frontier);
  *   - q142 exact PPJoin: the prefix-filtered similarity join runs on a
  *     BOUNDED doc_id < 600 slice by design — cost must stay ~FLAT as the
  *     surrounding corpus replicates (the slice filter lands in
  *     PushedFilters, so corpus size never reaches the join);
  *   - q387 table checksum: one order-invariant digest scan of lineitem —
  *     map-side partials, one exchange, cost ~linear in rows.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [maxRep]
  * Prints one line per (probe, replication): seconds + the work metric
  * (edges / candidate pairs / rows) so linearity is checkable in both
  * time and work. ScaleProbeSpec pins the STRUCTURAL halves (pushed
  * slice filter, single-exchange digest, linear edge growth), which hold
  * deterministically where wall-clock is noisy.
  */
object ScaleProbe {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxRep = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = SessionConf.localSession()
    val reps = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxRep).toSeq

    // ---- q428 core: Brandes sweeps on a replicated kNN edge list -------
    val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = e0.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    val baseEdges = operators.Similarity.knnGraph(
        operators.Similarity.assignNearestCentroid(e0, "embedding",
          "vec_id", centroids, "cid", "cv"), "embedding", "vec_id", 3)
      .select(col("id").as("src"), col("nbr_id").as("dst"))
      .localCheckpoint()
    for (r <- reps) {
      val edges = (0 until r).map(i => baseEdges.select(
          (col("src") + i * 10000000L).as("src"),
          (col("dst") + i * 10000000L).as("dst")))
        .reduce(_ union _).localCheckpoint()
      val nEdges = edges.count()
      val (_, t) = time {
        operators.GraphAnalytics.sampledBetweenness(edges, "src", "dst",
          sources = Seq(0L, 7L, 13L), maxDepth = 6, topK = 20).count()
      }
      println(f"betweenness rep=$r%2d edges=$nEdges%9d t=$t%7.2fs")
    }

    // ---- q142 core: bounded-slice PPJoin inside a replicated corpus ----
    val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
    for (r <- reps) {
      val corpus = (0 until r).map(i => d0.select(
          (col("doc_id") + i * 1000000L).as("doc_id"), col("text")))
        .reduce(_ union _)
      val (pairs, t) = time {
        val d = corpus.filter(col("doc_id") < 600)
        val toks = d.select(col("doc_id").as("id"),
          explode(operators.Dedup.shingleExpr("text", 5)).as("tok"))
        operators.Dedup.prefixFilterJoin(toks, "id", "tok", tau = 0.6).count()
      }
      println(f"ppjoin      rep=$r%2d pairs=$pairs%9d t=$t%7.2fs (flat expected)")
    }

    // ---- q522 core: grouped two-pass median/MAD on replicated events ---
    // growth law: ~linear in rows AND in groups — the control frames are
    // |g|-bounded, pass 1/2 stream the corpus, nothing buffers a group
    val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("value").isNotNull)
      .select(col("user_id"), expr("cast(round(value * 100) as long)")
        .as("cents"))
    for (r <- reps) {
      val ev = (0 until r).map(i => ev0.select(
          (col("user_id") + i * 10000000L).as("user_id"), col("cents")))
        .reduce(_ union _)
      val nRows = ev.count()
      val ((groups, _), t) = time {
        val out = operators.Stats.hampelGateScalable(ev, "user_id",
          "cents", k = 3)
        (out.count(), ())
      }
      println(f"hampel      rep=$r%2d rows=$nRows%9d groups=$groups%7d t=$t%7.2fs")
    }

    // ---- q537 core: Borůvka MST on a replicated kNN edge list ----------
    // growth law: per-round work ~linear in edges; the ROUND COUNT must
    // stay flat under disjoint replication (every replica's components
    // halve in parallel — rounds track the largest component, which
    // replication never grows)
    val wEdges = operators.Similarity.knnGraph(
        operators.Similarity.assignNearestCentroid(e0, "embedding",
          "vec_id", centroids, "cid", "cv"), "embedding", "vec_id", 3)
      .select(col("id").as("src"), col("nbr_id").as("dst"),
        col("distance").as("w"))
      .localCheckpoint()
    for (r <- reps) {
      val edges = (0 until r).map(i => wEdges.select(
          (col("src") + i * 10000000L).as("src"),
          (col("dst") + i * 10000000L).as("dst"), col("w")))
        .reduce(_ union _).localCheckpoint()
      val nEdges = edges.count()
      val ((tree, rounds), t) = time {
        val mst = operators.GraphAnalytics
          .boruvkaMst(edges, "src", "dst", "w").localCheckpoint()
        (mst.count(), mst.agg(max("round")).head().getInt(0))
      }
      println(f"boruvka     rep=$r%2d edges=$nEdges%9d tree=$tree%8d " +
        f"rounds=$rounds%2d t=$t%7.2fs (rounds flat expected)")
    }

    // ---- q540 core: k-truss peel on a replicated kNN edge list ----------
    // growth law: each round's oriented a<b<c three-way self-join is the
    // standard distributed triangle enumeration — work ~linear in edges
    // for bounded-degree kNN graphs (each edge meets ≤ deg(shared
    // endpoint) candidates, and deg ≤ 2k by construction); disjoint
    // replicas never create cross-replica triangles, and the fixed round
    // schedule is replication-invariant
    for (r <- reps) {
      val edges = (0 until r).map(i => baseEdges.select(
          (col("src") + i * 10000000L).as("src"),
          (col("dst") + i * 10000000L).as("dst")))
        .reduce(_ union _).localCheckpoint()
      val nEdges = edges.count()
      val ((surviving, _), t) = time {
        (operators.GraphAnalytics.kTruss(edges, "src", "dst", k = 4,
          rounds = 6).count(), ())
      }
      println(f"ktruss      rep=$r%2d edges=$nEdges%9d surv=$surviving%8d " +
        f"t=$t%7.2fs")
    }

    // ---- q546 core: FW-BW SCC on a replicated contracted flow graph ----
    // growth law: per-round work ~linear in edges (frontier⋈static-edges
    // BFS steps + node-level set algebra — never reachable PAIRS); the
    // ROUND COUNT must stay flat under disjoint replication because every
    // replica's partitions decompose in parallel within the same rounds
    val flow0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") <= 1)
      .select((col("l_partkey") % 512).as("src"),
        (col("l_suppkey") % 512).as("dst"))
      .localCheckpoint()
    for (r <- reps) {
      val edges = (0 until r).map(i => flow0.select(
          (col("src") + i * 1024L).as("src"),
          (col("dst") + i * 1024L).as("dst")))
        .reduce(_ union _).localCheckpoint()
      val nEdges = edges.count()
      val st = new operators.GraphAnalytics.FwBwStats
      val ((nScc, _), t) = time {
        (operators.GraphAnalytics.sccLabelsFwBw(edges, "src", "dst",
            stats = Some(st))
          .select("scc").distinct().count(), ())
      }
      val rounds = st.lastRounds.get()
      val steps = st.lastBfsSteps.get()
      println(f"sccfwbw     rep=$r%2d edges=$nEdges%9d sccs=$nScc%8d " +
        f"rounds=$rounds%2d bfs_steps=$steps%3d t=$t%7.2fs " +
        "(rounds flat expected)")
    }

    // ---- q387 core: order-invariant checksum of replicated lineitem ----
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_returnflag", "l_linestatus")
    for (r <- reps) {
      val li = (0 until r).map(i => li0.withColumn("l_orderkey",
          col("l_orderkey") + i * 100000000L))
        .reduce(_ union _)
      val nRows = li.count()
      val (_, t) = time {
        operators.Profiling.tableChecksum(li,
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_returnflag", "l_linestatus"), buckets = 16).count()
      }
      println(f"checksum    rep=$r%2d rows=$nRows%9d t=$t%7.2fs")
    }

    // ---- q378 core: kNN-graph build under the two codebook regimes ----
    // The r10 sf1.0 audit measured the q378 gate at ~17x for 10x data:
    // knnGraph's pair expansion is cell-local, so PAIR WORK is
    // Σ cell² ≈ n²/k. With the gate's FIXED 8-centroid codebook, cell
    // populations grow with the corpus and the quadratic term dominates
    // — the documented fixed-codebook artifact, not the operator's
    // growth law. The engine's scale discipline BOUNDS cell population
    // (the LSH-bucket-cap / maxCellSize rule; k-means k grows with the
    // corpus), making pair work ∝ n. This leg times the SAME corpus
    // replication under both regimes and prints the pair work so the
    // growth law is checkable in both time and work: fixed 8 cells
    // (pair work ∝ n², superlinear time expected) vs cells ∝ corpus
    // (pair work ∝ n, ~linear time expected).
    for (r <- reps) {
      val corpus = (0 until r).map(i => e0.select(
          (col("vec_id") + i * 100000000L).as("vec_id"), col("embedding")))
        .reduce(_ union _).localCheckpoint()
      val n = corpus.count()
      def build(nCents: Int): (Long, Long, Double) = {
        val cents = e0.filter(col("vec_id") < nCents)
          .select(col("vec_id").cast("int").as("cid"),
            col("embedding").as("cv"))
        val assigned = operators.Similarity.assignNearestCentroid(corpus,
          "embedding", "vec_id", cents, "cid", "cv")
        val pairWork = assigned.groupBy("centroid_id")
          .agg(count(lit(1)).as("m"))
          .agg(sum(col("m") * col("m"))).head().getLong(0)
        val (edges, t) = time {
          operators.Similarity.knnGraph(assigned, "embedding", "vec_id", 3)
            .count()
        }
        (edges, pairWork, t)
      }
      val (eFixed, wFixed, tFixed) = build(8)
      val (eScaled, wScaled, tScaled) = build(8 * r)
      println(f"knnbuild    rep=$r%2d rows=$n%9d fixed8=$tFixed%7.2fs " +
        f"pairs=$wFixed%10d boundedk=$tScaled%7.2fs pairs=$wScaled%10d " +
        f"edges=$eFixed%8d/$eScaled%8d (fixed: pair work ~n^2 BY " +
        "DESIGN; bounded cells: pair work ~n, ~linear time expected)")
    }
    spark.stop()
  }
}
