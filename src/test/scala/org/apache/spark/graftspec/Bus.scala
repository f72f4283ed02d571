package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Drains the SparkContext's listener bus, so a spec reads its listeners
  * only after every event of the operation it just ran has landed. Lives
  * under `org.apache.spark` because the bus is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
