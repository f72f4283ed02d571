package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the SparkContext's listener bus, so a traced run reads its
  * listeners only after every event of the op just timed has landed.
  * Lives under `org.apache.spark` because the bus is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
