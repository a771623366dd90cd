package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener counts are complete before they are written out.
  * `listenerBus` is `private[spark]`, hence this one-object shim.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
