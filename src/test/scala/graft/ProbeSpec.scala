package graft

import java.nio.file.Files

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

class ProbeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"
  private val MultiJob = "q213_frequent_itemsets"
  // one single-job query and one that runs several jobs per rep
  private val queries = Seq("q06_revenue_filter", MultiJob)

  /** One Probe rep of `name`, beside an independent listener pair that
    * counts its jobs and keeps the last count action's QueryExecution. */
  private def probed(name: String): (Probe.Measure, Int, QueryExecution) = {
    @volatile var jobs = 0
    @volatile var countQe: QueryExecution = null
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "count") countQe = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    val probe = new Probe(spark)
    GraftListenerBus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      val m = probe.measure(sf, name, 1)
      GraftListenerBus.drain(sc)
      (m, jobs, countQe)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
      probe.close()
    }
  }

  private lazy val runs = queries.map(q => q -> probed(q)).toMap

  test("recorded jobs equal an independent listener's count") {
    queries.foreach { q =>
      val (m, jobs, _) = runs(q)
      assert(m.jobs == jobs, q)
    }
    assert(runs(MultiJob)._1.jobs > 1)
  }

  test("exchange count equals the Exchange nodes of the executed plan") {
    queries.foreach { q =>
      val (m, _, qe) = runs(q)
      assert(m.exchanges == collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size, q)
    }
    assert(runs("q06_revenue_filter")._1.exchanges > 0)
  }

  test("phase split sums to no more than the measured wall time") {
    queries.foreach { q =>
      val m = runs(q)._1
      val split = m.buildMs + m.analysisMs + m.optimizationMs + m.planningMs + m.execMs
      assert(split <= m.wallS * 1000, s"$q: $m")
      assert(m.firstS == m.wallS && m.minS == m.wallS)
    }
  }

  test("the plan file holds each query's executed plan") {
    val file = Files.createTempFile("probe_plans", ".txt")
    val probe = new Probe(spark)
    try {
      val ms = probe.run(sf, 1, Seq("q06_revenue_filter"), file.toString)
      assert(ms.map(_.query) == Seq("q06_revenue_filter"))
      val text = Files.readString(file)
      assert(text.contains("========== q06_revenue_filter =========="))
      assert(text.contains("isFinalPlan=true"))
      assert(!text.contains("isFinalPlan=false"))
      val e = intercept[IllegalArgumentException](
        probe.run(sf, 1, Seq("q_missing"), file.toString))
      assert(e.getMessage.contains("q_missing"))
    } finally {
      probe.close()
      Files.delete(file)
    }
  }

  test("extra-conf parser takes k=v pairs and names a segment without '='") {
    assert(SessionConf.parseConf("a=1;b=2;") == Seq("a" -> "1", "b" -> "2"))
    assert(SessionConf.parseConf(" a = 1 ; ;") == Seq("a" -> "1"))
    val e = intercept[IllegalArgumentException](SessionConf.parseConf("a=1;junk"))
    assert(e.getMessage.contains("junk"))
  }
}
