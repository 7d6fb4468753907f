package org.apache.spark

/** Bridge to the listener bus's deterministic drain, which Spark keeps
  * package-private: block until every event posted so far has reached
  * every listener, so counters read after the call cover exactly the
  * actions that ran before it. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
