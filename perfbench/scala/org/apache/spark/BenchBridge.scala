package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until the listener
  * bus has delivered every queued event, so an op's job and task records are
  * complete before its spans are closed.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
