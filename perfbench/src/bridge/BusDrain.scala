package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The traced run calls it between operations, so each operation's job,
  * stage, task and planning events are attributed before the next one
  * starts. `waitUntilEmpty` is package-private to Spark, hence the
  * package of this one-method file. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
