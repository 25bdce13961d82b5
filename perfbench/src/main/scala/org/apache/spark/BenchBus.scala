package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after an action include that action's tasks. The bus
  * drain is package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
