package org.apache.spark

/** Test access to the `private[spark]` listener bus: drained, every event
  * of the jobs run so far has reached the registered listeners. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
