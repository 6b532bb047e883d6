package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the traced run reads its
  * listeners' counters only after every event posted so far was delivered.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
