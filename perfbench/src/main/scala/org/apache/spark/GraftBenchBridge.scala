package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until every queued
  * listener event has been delivered, so counters read after a call
  * include all of that call's jobs, stages and tasks. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
