package org.apache.spark

/** Bridge to `private[spark]` core utilities. */
object GraftSparkBridge {
  /** Deterministic listener-bus drain (replaces sleep-based waits in
    * metric collection); `listenerBus` is `private[spark]`.
    */
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
