package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every event
  * posted so far has reached the listeners, so job and task records are
  * complete before the trace is aggregated. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
