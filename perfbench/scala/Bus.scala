package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the tracer needs to wait until
  * every posted event has been delivered before it reads its counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
