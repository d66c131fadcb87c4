package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a measurement window
  * closes only after every event of its jobs has reached the listeners.
  * `waitUntilEmpty` is `private[spark]`, hence this package-local shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
