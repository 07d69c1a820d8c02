package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer must not read a span's counters before the listener has
  * processed every event posted while the span was open. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
