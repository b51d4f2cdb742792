package org.apache.spark

/** Access to the private[spark] listener bus: the traced run must see every
  * listener event of its last job before it writes its counts out.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
