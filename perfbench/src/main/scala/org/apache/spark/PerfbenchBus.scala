package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * once it returns, every event posted before the call has been
  * delivered to every listener. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
