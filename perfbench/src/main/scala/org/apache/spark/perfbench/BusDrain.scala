package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this package sits inside
  * org.apache.spark so the benchmark can wait for every posted event to
  * reach its listener before reading the trace. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
