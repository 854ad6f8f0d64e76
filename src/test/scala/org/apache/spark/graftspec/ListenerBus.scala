package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: a spec that counts
  * listener events drains the bus before it reads its totals. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
