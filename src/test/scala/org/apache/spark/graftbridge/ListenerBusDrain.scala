package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus: listeners see events
  * asynchronously, so a count taken right after an action may miss
  * its last jobs until the bus drains.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
