package graft

/** Benchmark main. Emits a compact schema-stable JSON summary line to
  * stdout after EVERY pass (cold, steady1, final) — the downstream
  * harness keeps only a bounded (~2 kB) stdout tail and parses the LAST
  * JSON line, so an external kill between passes still leaves the most
  * recent pass's complete numbers in the tail (r9 was killed after ~3 ks
  * having printed nothing: rc=124, parsed:null — the round's one hard
  * perf signal was lost). A wall-clock budget (env SPARK_GRAFT_BUDGET_S,
  * default 2400 s) is checked between passes: over budget → remaining
  * passes are skipped and the final line is emitted from what exists,
  * never nothing. The budget is ALSO checked inside every pass (each
  * ~50 queries): over budget mid-pass → the pass stops where it is, its
  * line is stamped "<pass>_partial", and the final line's pass name
  * records the truncation ("final_<pass>_partial") — r10 overshot its
  * own budget 23% because the check was only pass-granular.
  *
  * Pass structure (the r1-r8 4-pass design, dieted):
  *   - no sf0.001 warm pass anymore: its job (don't attribute Janino/
  *     HotSpot compile to the engine) is covered by cold_min =
  *     min(cold, steady1), which also defends against VM-neighbor
  *     contention (r8 measured a 1283 s cold pass whose fresh-JVM rerun
  *     took 10 s).
  *   - tagged gate instruments (QueryTags.instruments — exact ground
  *     truths and micro-batch replays whose steady cost is correctness-
  *     gate overhead, not engine cost) run twice for the whole run:
  *     once in the cold pass and once again AFTER steady pass 1 (a
  *     different contention window — r10's back-to-back pair could both
  *     sit inside one VM-neighbor spike); the min is their defended
  *     number, copied into the steady maps. Min-of-2 steady adds
  *     nothing for bounded deterministic replays.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wallT0) / 1e9
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "2400").toDouble
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionConf.cpus
    val spark = SessionConf.localSession()
    // parquet-reader warm-up; queries then run in sorted order for stable
    // per-round deltas
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // optional args: restrict to the named queries (local timing aid;
    // the driver always runs argless → full suite)
    val only = args.toSet
    val isInstrument: String => Boolean = graft.queries.QueryTags.instruments
    // instruments run twice across the WHOLE run — once in the cold pass
    // and once after steady pass 1 — and report the min: a single cold
    // sample has no contention defense (r10 run 2 caught q550 at 54 s in
    // a load-4 window vs its ~5 s quiet band), and r10's back-to-back
    // double-run sat both samples in the SAME contention window, so a
    // multi-minute VM-neighbor spike inflated both. Spacing the second
    // sample ~minutes later makes the min a genuine two-window estimate,
    // like every regular query's min(cold, steady).
    val instrMin = scala.collection.mutable.Map[String, Double]()
    // mode: "all" (cold), "engine" (steady — instruments excluded),
    // "instruments" (the spaced second instrument sample).
    // Budget is checked INSIDE the pass every `checkEvery` queries (the
    // r10 run overshot its budget 23% because the check was only
    // pass-granular); a truncated pass returns what it has plus
    // truncated=true so the caller can stamp "<pass>_partial".
    val checkEvery = 50
    def runAll(dir: String, mode: String): (Seq[(String, Double)], Boolean) = {
      val items = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only.contains(name) }
        .filter { case (name, _) => mode match {
          case "engine" => !isInstrument(name)
          case "instruments" => isInstrument(name)
          case _ => true
        } }
      val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      var truncated = false
      var i = 0
      val it = items.iterator
      while (it.hasNext && !truncated) {
        val (name, fn) = it.next()
        val t0 = System.nanoTime()
        try { fn(spark, dir).count() } catch {
          case t: Throwable =>
            System.err.println(s"bench: $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // release anything a query cached: over 3 passes × 500+
        // queries in one JVM, leaked cache entries pile into storage
        // memory and drift every later query's time (the r5→r6
        // +0.05-0.3 s smear)
        spark.catalog.clearCache()
        if (isInstrument(name))
          instrMin(name) = math.min(dt, instrMin.getOrElse(name, Double.MaxValue))
        out += name -> dt
        i += 1
        if (i % checkEvery == 0 && elapsedS > budgetS) {
          truncated = true
          System.err.println(f"bench: over budget mid-pass after $i queries " +
            f"(${elapsedS}%.0f s > ${budgetS}%.0f s) — truncating this pass")
        }
      }
      (out.toSeq, truncated)
    }
    // force the standing stores (kNN graph, lexical index, IVF AnnStore,
    // doc-lengths frame, flow-SCC labels) for the timed dir FIRST and
    // time them separately: these are build-once/serve-many costs a
    // standing corpus pays at ingest, and charging them to whichever
    // consumer query happens to run first made q129-q136's first pass
    // read as 9-20 s of "query cost" in r7
    val buildT0 = System.nanoTime()
    graft.queries.QueryHelpers.storedKnnGraphPath(spark, sfDir)
    graft.queries.QueryHelpers.storedIndexPath(spark, sfDir)
    graft.queries.QueryHelpers.storedAnnPath(spark, sfDir)
    graft.queries.QueryHelpers.docLengths(spark, sfDir).count()
    // SCC state is an on-disk store keyed by (dir, content stamp): the
    // first-ever build on a box pays the corpus SCC run; every later
    // JVM (e.g. this bench after a verify run) opens it read-only, so
    // steady-state store_build_s drops to the open cost
    graft.queries.QueryHelpers.flowSccStorePath(spark, sfDir)
    graft.queries.QueryHelpers.flowSccOldStorePath(spark, sfDir)
    val storeBuildS = (System.nanoTime() - buildT0) / 1e9
    // per-pass box-contention telemetry: sample the 1-min load before the
    // first pass and after EVERY pass so each pass's line carries its own
    // contention context (r8's single at-exit sample couldn't defend a
    // contention-inflated first pass)
    def loadNow: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loads = scala.collection.mutable.LinkedHashMap[String, Double]()
    loads("pre") = loadNow

    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def short(name: String): String = name.takeWhile(_ != '_')
    def top20(vals: Seq[(String, Double)]): String = vals.sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }.mkString("{", ",", "}")
    def jstr(ss: Seq[String]): String =
      ss.map("\"" + _.replace("\"", "'") + "\"").mkString("[", ",", "]")
    // "cpus" must report the HONORED core count (the $SPARK_GRAFT_CPUS
    // value baked into the master), not availableProcessors: the r11
    // 8-core driver run printed "cpus":32 and looked like an ignored env
    val hostCpus = Runtime.getRuntime.availableProcessors
    val ncpu = scala.util.Try(cpus.trim.toInt).getOrElse(hostCpus)
    // one compact schema-stable summary line per pass; every field is
    // present in every line (best estimate available at that point) so
    // the driver's parse works whichever line is last in the tail
    def emitSummary(pass: String, cold: Seq[(String, Double)],
                    coldMin: Seq[(String, Double)], steady: Seq[(String, Double)],
                    extra: String = ""): Unit = {
      val instrumentS = steady
        .filter { case (n, _) => isInstrument(n) }.map(_._2).sum
      val loadJson = loads.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"total","value":${fmt(cold.map(_._2).sum)},"unit":"sec","sf":"$sfDir",""" +
        s""""pass":"$pass","wall_s":${fmt(elapsedS)},"budget_s":${fmt(budgetS)},""" +
        s""""n_queries":${cold.size},"cold_min_total":${fmt(coldMin.map(_._2).sum)},""" +
        s""""steady_total":${fmt(steady.map(_._2).sum)},""" +
        s""""instrument_steady_s":${fmt(instrumentS)},""" +
        s""""store_build_s":${fmt(storeBuildS)},""" +
        s""""pass_loads":$loadJson,"cpus":$ncpu,"host_cpus":$hostCpus,$extra""" +
        s""""top":${top20(cold)},"cold_min_top":${top20(coldMin)},""" +
        s""""steady_top":${top20(steady)}}""")
    }

    // first pass (if any) that hit the intra-pass budget stop — stamped
    // into the FINAL line's pass name so a truncated run is
    // distinguishable from a complete one in the parsed tail
    var truncatedPass: Option[String] = None
    def noteTrunc(pass: String, t: Boolean): Unit =
      if (t && truncatedPass.isEmpty) truncatedPass = Some(pass)

    // ---- pass 1: cold (all queries; instruments take their first
    // sample here) ----
    val (cold, coldTrunc) = runAll(sfDir, "all")
    noteTrunc("cold", coldTrunc)
    loads("post_cold") = loadNow
    // instruments' defended (min over spaced samples) estimate replaces
    // their one-shot cold time everywhere except the raw cold map itself
    def instrDefended(m: Seq[(String, Double)]): Seq[(String, Double)] =
      m.map { case (n, t) => n -> instrMin.getOrElse(n, t) }
    emitSummary(if (coldTrunc) "cold_partial" else "cold",
      cold, instrDefended(cold), instrDefended(cold))
    val coldByName = instrDefended(cold).toMap

    // ---- pass 2: steady1 (instruments excluded; their defended cold
    // time is the steady estimate — bounded deterministic replays don't
    // JIT-improve)
    var steady1Full = instrDefended(cold)
    var coldMin = instrDefended(cold)
    if (elapsedS < budgetS) {
      val (steady1Seq, s1Trunc) = runAll(sfDir, "engine")
      noteTrunc("steady1", s1Trunc)
      val steady1 = steady1Seq.toMap
      loads("post_steady1") = loadNow
      steady1Full = cold.map { case (n, _) =>
        n -> steady1.getOrElse(n, coldByName(n)) }
      // cold min-of-2 WITHOUT an extra pass: steady pass 1 is literally a
      // second run of the cold pass (same code, data, JVM), so
      // min(cold, steady1) is the contention-defended cold estimate
      coldMin = coldMin.map { case (n, t) =>
        n -> math.min(t, steady1.getOrElse(n, t)) }
      emitSummary(if (s1Trunc) "steady1_partial" else "steady1",
        cold, coldMin, steady1Full)
    } else System.err.println(f"bench: over budget after cold pass " +
      f"(${elapsedS}%.0f s > ${budgetS}%.0f s) — skipping steady passes")

    // ---- instruments, second (SPACED) sample: minutes after the cold
    // window, so min(cold, here) spans two contention windows like every
    // regular query's min(cold, steady1) — the r10 back-to-back pair
    // could both sit inside one VM-neighbor spike
    if (elapsedS < budgetS) {
      val (_, iTrunc) = runAll(sfDir, "instruments")
      noteTrunc("instruments", iTrunc)
      steady1Full = instrDefended(steady1Full)
      coldMin = instrDefended(coldMin)
    } else System.err.println("bench: over budget — instruments keep " +
      "their single cold sample")

    // ---- pass 3: steady2; steady = per-query MIN of the two steady
    // passes (VM neighbors add multi-second spikes to random queries —
    // observed 39..78 s totals for identical code; min-of-2 reports what
    // the engine does when the CPU is actually available)
    var steady = steady1Full
    if (elapsedS < budgetS) {
      val (steady2Seq, s2Trunc) = runAll(sfDir, "engine")
      noteTrunc("steady2", s2Trunc)
      val steady2 = steady2Seq.toMap
      loads("post_steady2") = loadNow
      steady = steady1Full.map { case (n, t) =>
        n -> math.min(t, steady2.getOrElse(n, t)) }
    } else System.err.println(f"bench: over budget " +
      f"(${elapsedS}%.0f s > ${budgetS}%.0f s) — skipping steady pass 2")

    // leak audit BEFORE the final line so its verdict rides in it:
    // after clearCache + GC (ContextCleaner drains localCheckpoint
    // blocks), the only pinned RDDs left must be the REGISTERED standing
    // frames (QueryHelpers.standingFrames names each intentional
    // localCheckpoint at creation) — a residual the registry doesn't
    // know is a leak, reported by name and flagged loudly
    spark.catalog.clearCache()
    val registered = graft.queries.QueryHelpers.standingFrames
    def residuals(): Seq[String] = spark.sparkContext.getPersistentRDDs
      .values.toSeq
      .map(r => Option(r.name).getOrElse(s"UNNAMED(id=${r.id})")).sorted
    var tries = 0
    while (tries < 20 && residuals().exists(!registered.contains(_))) {
      System.gc(); Thread.sleep(300); tries += 1
    }
    val residualNames = residuals()
    val leaked = residualNames.filterNot(registered.contains)
    System.err.println(s"bench: residual persistent RDDs " +
      s"(${residualNames.size}): ${residualNames.mkString("[", ", ", "]")}")
    if (leaked.nonEmpty)
      System.err.println(s"bench: LEAK — ${leaked.size} UNREGISTERED " +
        s"residual RDDs: ${leaked.mkString("[", ", ", "]")}")
    else
      System.err.println("bench: leak audit clean — every residual is a " +
        "registered standing frame")
    // full per-query detail first — useful when the whole stdout is kept
    def qmap(vals: Seq[(String, Double)]): String = {
      val keys = vals.map { case (k, _) => short(k) }
      val qkeys = if (keys.distinct.size == keys.size) keys else vals.map(_._1)
      qkeys.zip(vals.map(_._2))
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    }
    println(s"""{"metric":"total","value":${fmt(cold.map(_._2).sum)},"unit":"sec","queries":${qmap(cold)},""" +
      s""""steady_total":${fmt(steady.map(_._2).sum)},"steady_queries":${qmap(steady)},""" +
      s""""cold_min_queries":${qmap(coldMin)},"sf":"$sfDir"}""")
    // FINAL line: the compact summary again (same schema as the per-pass
    // lines) so it is the last line of the bounded tail; a mid-pass
    // budget stop is recorded in the pass name itself
    val finalPass = truncatedPass
      .map(p => s"final_${p}_partial").getOrElse("final")
    // The downstream harness keeps only a ~2,000-char stdout tail, so the
    // full 562-entry per-query map can never ride in the final line
    // (~7 kB would clip the line and break the parse — r2 did exactly
    // that). Write it to a SIDECAR file instead and point at it from the
    // final line: per-query cold/cold_min/steady maps plus the run's
    // honored cpu count and pass stamp. Two names: the generic one the
    // r11 verdict asked for, and a cpu-suffixed one so the driver's
    // 32-core and 8-core runs don't clobber each other's detail.
    val qFile = s"bench_queries_c$ncpu.json"
    try {
      val sidecar = s"""{"metric":"bench_queries","sf":"$sfDir","cpus":$ncpu,""" +
        s""""pass":"$finalPass","n_queries":${cold.size},""" +
        s""""queries":${qmap(cold)},"cold_min_queries":${qmap(coldMin)},""" +
        s""""steady_queries":${qmap(steady)}}"""
      for (p <- Seq("bench_queries.json", qFile)) {
        val w = new java.io.PrintWriter(p, "UTF-8")
        try w.println(sidecar) finally w.close()
      }
    } catch { case t: Throwable =>
      System.err.println(s"bench: sidecar write failed: $t")
    }
    emitSummary(finalPass, cold, coldMin, steady,
      extra = s""""residual_rdds":${jstr(residualNames)},"leaked_rdds":${leaked.size},""" +
        s""""q_file":"$qFile",""")
    spark.stop()
  }
}
