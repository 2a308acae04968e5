package org.apache.spark.dagbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so a collector's counts are complete before they are read. The bus is
  * private to Spark, hence this accessor in a Spark package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
