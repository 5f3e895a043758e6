package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: the status store
  * (`statusTracker`) learns of jobs from events delivered on a separate
  * thread, so a count read right after an action must first let the bus
  * deliver everything posted so far. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
