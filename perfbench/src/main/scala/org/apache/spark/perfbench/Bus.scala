package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain for the benchmark's own listeners: job and stage
  * events post asynchronously, so totals are read only after the bus
  * has delivered everything posted so far. `listenerBus` is
  * `private[spark]`, hence this one-method shim in Spark's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
