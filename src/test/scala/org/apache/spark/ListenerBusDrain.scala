package org.apache.spark

/** The listener bus's drain is package-private; specs that assert on
  * listener events drain it first so every posted event has arrived. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
