package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private[spark]; the benchmark needs it to
  * read exact per-call counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
