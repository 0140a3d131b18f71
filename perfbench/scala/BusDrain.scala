package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * traced op's jobs, stages and tasks are attributed before the next op
  * starts. `listenerBus` is package-private to Spark.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
