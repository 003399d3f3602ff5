package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Wait until every listener queue has delivered the events posted so
  * far. `LiveListenerBus` is Spark-private, hence this package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
