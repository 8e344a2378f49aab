package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the traced phase waits until
  * every queued event has been delivered before it reads them. The bus is
  * `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
