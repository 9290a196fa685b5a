package org.apache.spark

/** The listener bus is asynchronous: a counter read right after an action
  * can miss that action's last events. `waitUntilEmpty` is package-private
  * to Spark, so the benchmark reaches it from here. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
