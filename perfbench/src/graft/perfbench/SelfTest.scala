package graft.perfbench

import java.nio.file.Paths

/** Self-tests of the benchmark's statistics and tracer. Exits non-zero on
  * the first failure. Argument: a scratch directory for Spark. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name $detail") }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1, math.abs(b))

  def main(args: Array[String]): Unit = {
    // percentile rule: the highest ladder level with >= 10 samples beyond it
    val xs200 = (1 to 200).map(_.toDouble)
    expect("tail(200 samples) is p95", Stats.tail(xs200) == Some(95 -> 190.0), Stats.tail(xs200).toString)
    val xs1000 = (1 to 1000).map(_.toDouble)
    expect("tail(1000 samples) is p99", Stats.tail(xs1000) == Some(99 -> 990.0), Stats.tail(xs1000).toString)
    val xs199 = (1 to 199).map(_.toDouble)
    expect("tail(199 samples) falls to p90", Stats.tail(xs199).map(_._1) == Some(90),
      Stats.tail(xs199).toString)
    expect("tail(19 samples) is undefined", Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    expect("tail(20 samples) is the median", Stats.tail((1 to 20).map(_.toDouble)) == Some(50 -> 10.0))
    val tied = Seq.fill(100)(5.0) ++ (1 to 10).map(_.toDouble + 5)
    expect("ties at the percentile are not beyond it", Stats.beyond(tied, 90) == 10 &&
      Stats.tail(tied).map(_._1) == Some(90), s"${Stats.beyond(tied, 90)} ${Stats.tail(tied)}")
    expect("median odd/even", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)

    // geometric mean
    expect("geomean(1, 100) = 10", close(Stats.geomean(Seq(1.0, 100.0)), 10.0))
    expect("geomean(2, 8, 4) = 4", close(Stats.geomean(Seq(2.0, 8.0, 4.0)), 4.0))
    expect("geomean of a constant", close(Stats.geomean(Seq.fill(7)(3.5)), 3.5))

    // self time: span minus the union of its children's intervals
    expect("self time, disjoint children", Stats.selfTime(0, 100, Seq(10L -> 20L, 30L -> 50L)) == 70)
    expect("self time, overlapping children", Stats.selfTime(0, 100, Seq(10L -> 40L, 30L -> 60L)) == 50)
    expect("self time, nested children", Stats.selfTime(0, 100, Seq(10L -> 90L, 20L -> 30L)) == 20)
    expect("self time, children clipped to the span",
      Stats.selfTime(50, 100, Seq(0L -> 60L, 90L -> 200L)) == 30)
    expect("self time, no children", Stats.selfTime(5, 9, Nil) == 4)

    // counters are read only after the listener saw every job of the span end
    val scratch = Paths.get(args.headOption.getOrElse(sys.props("java.io.tmpdir")))
    val spark = Main.session(2, scratch)
    try {
      val tr = new Tracer(spark, enabled = true)
      tr.start()
      tr.span("test", "outer") {
        tr.span("test", "inner") {
          spark.range(0, 100000, 1, 8).selectExpr("id % 97 as k").groupBy("k").count().collect()
        }
        spark.range(0, 1000, 1, 4).count()
      }
      val outer = tr.spansNamed("outer").head
      val inner = tr.spansNamed("inner").head
      val ci = tr.scheduler.countsOf(inner.id)
      val co = tr.scheduler.countsOf(outer.id)
      expect("no job of a closed span is still running",
        tr.scheduler.runningJobs(inner.id) == 0 && tr.scheduler.runningJobs(outer.id) == 0)
      expect("inner span saw its jobs, stages and tasks", ci.jobs >= 1 && ci.tasks >= 8 &&
        ci.stages >= 2 && ci.shuffleWriteBytes > 0, ci.toMap.toString)
      expect("outer span's own job is attributed to it, not to inner",
        co.jobs >= 1 && co.tasks == 5, co.toMap.toString)
      expect("inclusive counts add the child", tr.inclusiveCounts(outer).tasks == ci.tasks + co.tasks)
      expect("outer self time excludes inner", tr.selfNs(outer) == outer.end - outer.start -
        (inner.end - inner.start))
      expect("no span left incomplete", tr.incompleteSpans == 0)
      tr.close()
      val off = new Tracer(spark, enabled = false)
      off.span("test", "untraced")(spark.range(10).count())
      expect("a disabled tracer records nothing", off.spans.isEmpty)
    } finally spark.stop()

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
