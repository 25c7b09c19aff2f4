package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * package. The traced run calls it around each timed call, outside the
  * timer, so the counters it then reads belong to that call alone. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
