package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's bus thread after the action that
  * caused them has returned. The traced run reads its listener's totals
  * only after the bus is empty, so every job of a pass is counted.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
