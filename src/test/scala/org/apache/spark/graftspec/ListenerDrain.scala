package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counters are complete. The bus is private to Spark.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
