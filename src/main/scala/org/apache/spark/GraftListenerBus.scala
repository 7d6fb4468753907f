package org.apache.spark

/** Bridge to the listener bus's package-private deterministic drain:
  * returns once every event posted so far has reached every listener,
  * so a listener's counts read afterwards cover exactly the actions
  * that ran before the call. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
