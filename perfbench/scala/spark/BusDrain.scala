package org.apache.spark

/** Listener events arrive asynchronously; a per-operation counter read
  * must wait until the bus has delivered everything posted so far.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
