package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers job, task and QueryExecution events on its
  * own threads. The traced run waits for it to empty after each query so
  * that every event of a query has been counted before the next starts;
  * `listenerBus` is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
