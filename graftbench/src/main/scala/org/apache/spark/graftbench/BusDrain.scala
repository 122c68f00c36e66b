package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event. The
  * bus is private to Spark, hence this object's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
