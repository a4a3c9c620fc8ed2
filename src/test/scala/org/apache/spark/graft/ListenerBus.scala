package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain is private[spark]; specs that count or
  * inspect job events need every posted event delivered first. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started while `body` ran. */
  def jobsDuring(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val _ = jobs.incrementAndGet()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }
}
