package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this one-method bridge lives in a
  * `org.apache.spark` sub-package so the benchmark can wait for every
  * posted event to be delivered instead of sleeping. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
