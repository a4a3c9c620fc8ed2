package graft.plans

import graft.SparkTestBase
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.CodegenCache

/** The session installer sizes Spark's generated-class cache above
  * graft's working set, so a warm pass reuses every class the previous
  * pass compiled. At Spark's default of 100 entries the LRU cache
  * evicts the first round's classes before the second round asks for
  * them, and every one of the 150 queries below recompiles. */
class CodegenCacheSpec extends SparkTestBase {

  private val key = "spark.sql.codegen.cache.maxEntries"

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second round over 150 distinct whole-stage queries compiles nothing") {
    // each inlined literal makes a distinct generated class
    val queries = (0 until 150).map(i =>
      spark.range(8).select(col("id") + lit(i)))
    queries.foreach(_.collect())
    val afterRound1 = compiles
    queries.foreach(_.collect())
    assert(compiles - afterRound1 === 0L,
      s"round 2 recompiled with $key = ${spark.conf.getOption(key)}")
  }

  test("the helper fills a missing cache size and leaves an explicit one") {
    val missing = new SparkConf(loadDefaults = false)
    CodegenCache.sizeFor(missing)
    assert(missing.get(key) === "4096")

    val explicit = new SparkConf(loadDefaults = false).set(key, "50")
    CodegenCache.sizeFor(explicit)
    assert(explicit.get(key) === "50")
  }
}
