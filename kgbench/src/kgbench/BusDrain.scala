package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a traced reading waits for the
  * bus to deliver everything posted so far (the hook is package-private). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
