package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event, so counts read from listeners are complete. The bus is
  * `private[spark]`; placing this one accessor in Spark's package is the
  * usual way to reach it. The traced run calls it between queries, outside
  * the query's own spans.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
