package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the listener
  * bus has delivered every posted event, so counters read after an action
  * include all of its tasks. (`listenerBus` is `private[spark]`.) */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
