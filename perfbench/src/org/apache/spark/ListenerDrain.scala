package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to empty before reading the per-span counters. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
