package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's namespace only to reach the `private[spark]` listener
  * bus: the traced run drains it before reading its counters, so every
  * event of an op has been delivered when the op is accounted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
