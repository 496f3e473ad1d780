package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is asynchronous and its drain is `private[spark]`; the
  * benchmark drains it before reading span counters.
  */
object ListenerBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
