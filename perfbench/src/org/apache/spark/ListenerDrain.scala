package org.apache.spark

/** The listener bus's drain is package-private; the tracer needs it so that
  * every event of an operation has been delivered before the operation's
  * counters are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
