package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The benchmark reads its
  * listeners only after every event posted so far has been delivered;
  * `waitUntilEmpty` is `private[spark]`, hence this one-line bridge. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
