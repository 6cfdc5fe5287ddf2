package org.apache.spark.lanebench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
