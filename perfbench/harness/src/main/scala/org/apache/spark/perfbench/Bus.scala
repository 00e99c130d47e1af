package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's own drain, which Spark keeps package-private: it
  * returns once every event posted so far has reached every listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
