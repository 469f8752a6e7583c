package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: once it returns, every event posted before the call
  * has been delivered to every listener. */
object TestListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
