package org.apache.spark

/** The one `private[spark]` access the benchmark needs: wait until the
  * listener bus has delivered every queued event, so listener counters
  * can be attributed to the phase that produced them.
  */
object AqpBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
