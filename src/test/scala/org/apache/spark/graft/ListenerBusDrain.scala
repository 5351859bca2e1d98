package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event, so counts a spec reads from its own listener are
  * complete. The bus is `private[spark]`; this accessor lives in Spark's
  * package for that reason only.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
