package graft.operators

import graft.SparkTestBase
import org.apache.spark.SparkException
import org.apache.spark.graft.{DriverResultLimit, ListenerBus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[LocalGate.collectIfFits]]: the exact rows (in partition order)
  * when they fit, None when not, in the pinned number of jobs — and
  * over the gate, what reaches the driver stays near the gate however
  * many partitions the input has, so a tight
  * `spark.driver.maxResultSize` still lets the distributed fallback
  * run. */
class LocalGateSpec extends SparkTestBase {
  import spark.implicits._

  private def withGate[T](gate: Long)(body: => T): T = {
    spark.conf.set(LocalGate.MaxRowsConf, gate.toString)
    try body finally spark.conf.unset(LocalGate.MaxRowsConf)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  /** The probe's answer as ids, and the Spark jobs it ran. */
  private def probe(df: DataFrame, gate: Long): (Option[Seq[Long]], Int) = {
    var got: Option[Seq[Long]] = None
    val jobs = ListenerBus.jobsDuring(spark.sparkContext) {
      got = withGate(gate)(LocalGate.collectIfFits(df))
        .map(_.map(_.getLong(0)).toSeq)
    }
    (got, jobs)
  }

  test("an even spread that fits is read in one job; the gate is " +
      "inclusive in rows × width") {
    val df = spark.range(0, 400, 1, 8).toDF("id")
    assert(probe(df, 400) === (Some(ids(df)), 1))
    assert(probe(df, 399)._1 === None)
    // width: 400 rows × 3 elements
    val wide = withGate(1200)(LocalGate.collectIfFits(df, width = 3))
    assert(wide.map(_.length) === Some(400))
    assert(withGate(1199)(LocalGate.collectIfFits(df, width = 3)) === None)
  }

  test("a skewed input that fits is read in three jobs (shares, " +
      "counts, the full partitions), rows in partition order") {
    // 200 rows in the first 8 of 40 partitions: each holds 25 rows,
    // over its share of the gate (500 / 40 → 13)
    val df = spark.range(0, 1000, 1, 40).toDF("id").filter(col("id") < 200)
    assert(probe(df, 500) === (Some((0L until 200L).toSeq), 3))
    assert(probe(df, 200)._1 === Some((0L until 200L).toSeq))
    assert(probe(df, 199)._1 === None)
  }

  test("gate 0 runs no job; a local relation is answered with no job") {
    val df = spark.range(0, 10, 1, 2).toDF("id")
    assert(probe(df, 0) === (None, 0))
    val local = Seq(3L, 1L, 2L).toDF("id")
    assert(probe(local, 3) === (Some(Seq(3L, 1L, 2L)), 0))
    assert(probe(local, 2) === (None, 0))
  }

  test("over the gate across 40 partitions the probe answers None " +
      "under a 128k spark.driver.maxResultSize, where one job taking " +
      "gate + 1 rows from every partition aborts") {
    val big = spark.range(0, 40000, 1, 40).toDF("id")
      .select(col("id"), lit("x" * 100).as("pad"))
    DriverResultLimit.during(spark.sparkContext, "128k") {
      assert(probe(big, 500)._1 === None)
      // anti-vacuity: the unbounded read of the same input trips it
      val rdd = big.queryExecution.toRdd
      val e = intercept[SparkException](spark.sparkContext.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
          it.take(501).map(_.copy()).toArray))
      assert(e.getMessage.contains("spark.driver.maxResultSize"))
    }
  }

  test("a cluster fold whose pairs and contracted edges are over the " +
      "gate runs its distributed path under a 128k " +
      "spark.driver.maxResultSize, with the right delta") {
    // 40k disjoint pairs in 40 partitions: every pair its own cluster
    val pairs = spark.range(0, 40000, 1, 40)
      .select((col("id") * 2).as("ida"), (col("id") * 2 + 1).as("idb"))
    val map = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val delta = DriverResultLimit.during(spark.sparkContext, "128k") {
        withGate(500)(Dedup.clusterFoldDelta(map, pairs))
      }
      assert(!delta.broadcastable)
      assert(delta.relabel.count() === 0)
      val nodes = delta.newNodes.agg(count(lit(1)),
        sum(col("cluster_id")), countDistinct(col("cluster_id"))).head()
      assert(nodes.getLong(0) === 80000L)
      // pair i is nodes 2i and 2i + 1, both labeled 2i
      assert(nodes.getLong(1) === 4L * (0L until 40000L).sum)
      assert(nodes.getLong(2) === 40000L)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
