package org.apache.spark

/** Bridge into `private[spark]` state: block until the listener bus has
  * delivered every event posted so far, so a caller reads complete job
  * records right after an action instead of sleeping
  * (graft.tools.Probe.measure).
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
