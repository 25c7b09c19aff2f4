package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so a
  * spec's listener counts belong to the calls before it.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
