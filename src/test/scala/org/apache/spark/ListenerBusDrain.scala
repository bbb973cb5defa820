package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test's listener has seen all of an operation's jobs before it counts
  * them. The bus is `private[spark]`, hence this one object inside Spark's
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
