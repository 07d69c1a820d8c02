package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: listener
  * events are delivered asynchronously, so counts read right after an
  * action are complete only once every event posted before the read has
  * been delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
