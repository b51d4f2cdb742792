package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Bridge to the private[spark] listener bus: wait until every posted event
  * has reached its listeners, so graft.Profile reads complete counts.
  */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
