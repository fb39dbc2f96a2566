package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so job and task records are complete before they are read. The bus
  * is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
