package org.apache.spark

/** The `private[spark]` access [[graft.tools.Measure]] needs: block until
  * the listener bus has delivered every queued event, so a stage recorder
  * sees all of the work it wrapped instead of whatever arrived before a
  * fixed sleep ran out.
  */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
