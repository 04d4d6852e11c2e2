package org.apache.spark

/** Test-only bridge into `private[spark]` state: block until the
  * listener bus has delivered every event posted so far, so a spec reads
  * complete job records right after an action instead of sleeping.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
