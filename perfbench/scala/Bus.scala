package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus is Spark-internal; the traced run drains it at the
  * edges of the timed phase so every event of the phase is counted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
