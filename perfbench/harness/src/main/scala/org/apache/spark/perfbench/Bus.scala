package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain: the listener sees events asynchronously, so totals
  * are read only after every posted event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
