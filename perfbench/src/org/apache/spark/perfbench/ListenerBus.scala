package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a pass's task metrics are
  * complete only once the bus has drained. The drain call is
  * `private[spark]`, hence this accessor inside the spark package tree.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
