package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted to the context's listener bus so far
  * has been delivered. Spark, SQL-execution and streaming listeners all
  * hang off this one bus, so after a drain each of them has seen every
  * event of the work that already finished.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
