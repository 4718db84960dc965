package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters read before
  * it drains miss the last jobs' events. Lives under org.apache.spark
  * because the drain hook is package-private there. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
