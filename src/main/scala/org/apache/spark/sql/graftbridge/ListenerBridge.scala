package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`, but reading a listener's
  * counts after an action needs its drain: the bus is asynchronous, and
  * `waitUntilEmpty` returns once every event posted before the call has
  * been delivered. Same pattern as [[ColumnBridge]]. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
