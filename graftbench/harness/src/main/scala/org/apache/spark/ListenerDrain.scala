package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's counters are complete when an op's figures are read. The bus
  * is `private[spark]`, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
