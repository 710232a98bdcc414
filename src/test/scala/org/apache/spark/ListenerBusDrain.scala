package org.apache.spark

/** Wait until the listener bus has delivered every queued event
  * (`listenerBus` is `private[spark]`), so a spec's job counter has seen
  * every job its body started.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
