package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so every job/task event is folded before spans are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
