package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark's listener bus delivers events asynchronously; draining it is
  * only reachable from inside the `org.apache.spark` package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
