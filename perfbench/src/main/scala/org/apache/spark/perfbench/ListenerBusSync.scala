package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package to reach the private[spark] listener bus:
  * listener callbacks arrive asynchronously, so the harness drains the
  * bus before it reads any listener-fed counter. */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
