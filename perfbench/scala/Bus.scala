package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced op's events are all attributed before the next op starts. The
  * bus is `private[spark]`, hence this one object inside Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
