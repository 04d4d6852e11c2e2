package org.apache.spark

/** Bridge into `private[spark]` state: block until the listener bus has
  * delivered every event posted so far, so the benchmark reads complete
  * job, stage and block records right after an operation ends instead of
  * sleeping and hoping.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
