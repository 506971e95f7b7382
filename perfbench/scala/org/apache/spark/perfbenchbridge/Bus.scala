package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads its
  * listener's totals only after the bus has delivered every event. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
