package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's job-counting listener has seen every job started before the
  * call. The bus is package-private; this is the only reason for the
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
