package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered. Task
  * metrics reach listeners asynchronously, so a caller that reads them right
  * after an action must drain the bus first. The bus is `private[spark]`,
  * hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
