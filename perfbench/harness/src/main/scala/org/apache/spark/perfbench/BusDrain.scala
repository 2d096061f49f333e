package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * Task-end events arrive asynchronously; a span reads its task metrics
  * only after draining, so each span sees exactly the tasks it ran.
  * Lives in Spark's package because the listener bus is Spark-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
