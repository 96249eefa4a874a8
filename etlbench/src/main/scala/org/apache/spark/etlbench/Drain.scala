package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is `private[spark]`, hence this shim's package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
