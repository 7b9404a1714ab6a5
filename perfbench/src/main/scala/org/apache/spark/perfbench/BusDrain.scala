package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a traced span must not close
  * before the jobs it started have been reported. The bus flush is
  * package-private to Spark, hence this one-line shim in its package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
