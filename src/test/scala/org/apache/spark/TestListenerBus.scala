package org.apache.spark

/** Test access to the listener bus: drain it so a listener has seen every
  * event of the jobs that already ran. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
