package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.internal.StaticSQLConf

/** Sizes Spark's JVM-wide generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100) to
  * graft's working set, unless the key is already set. Lives here
  * because the SparkContext's own conf is `private[spark]`; why 4096
  * and when it takes effect are in `graft.plans.GraftExtensions`.
  */
object CodegenCache {

  private val MaxEntries = 4096

  def sizeFor(conf: SparkConf): Unit =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      MaxEntries.toString)

  /** Size the active SparkContext's own conf (not a clone), so the
    * session about to be built sees the value. */
  def sizeActiveContext(): Unit =
    SparkContext.getActive.foreach(sc => sizeFor(sc.conf))
}
