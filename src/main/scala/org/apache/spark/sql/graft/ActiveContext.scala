package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The active SparkContext, which Spark only exposes `private[spark]` —
  * for session installers that run inside `getOrCreate`, before the
  * session exists. */
object ActiveContext {
  def get: Option[SparkContext] = SparkContext.getActive
}
