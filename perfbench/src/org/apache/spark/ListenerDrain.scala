package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the benchmark's listener has seen every job and task it attributes.
  * The bus is package-private; this is the only reason for the package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
