package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `spark.driver.maxResultSize` is fixed in the SparkContext's own
  * conf (private[spark]); each new task set reads it from there, so a
  * spec can tighten it around one body. */
object DriverResultLimit {
  private val Key = "spark.driver.maxResultSize"

  def during[T](sc: SparkContext, limit: String)(body: => T): T = {
    val old = sc.conf.getOption(Key)
    sc.conf.set(Key, limit)
    try body
    finally old.fold[Unit](sc.conf.remove(Key))(v => { sc.conf.set(Key, v); () })
  }
}
