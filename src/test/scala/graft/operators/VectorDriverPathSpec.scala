package graft.operators

import graft.{ExtensionQueries, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Pins the vector serve kernels' driver paths ([[LocalGate]]) to their
  * distributed plans, row for row: the incremental LSH candidates, the
  * quantized cosine rerank and x42's whole serve → fold → serve, at
  * the default gate, at the inclusive gate boundary and forced
  * distributed (gate 0) — plus [[LocalGate.filterToIds]] against the
  * semi join it replaces, and x42's job count. */
class VectorDriverPathSpec extends SparkTestBase {
  import spark.implicits._

  private val Dim = 8

  private def withGate[T](gate: Long)(body: => T): T = {
    spark.conf.set(LocalGate.MaxRowsConf, gate.toString)
    try body finally spark.conf.unset(LocalGate.MaxRowsConf)
  }

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** A seeded corpus plus an increment of near copies (ids 1000+),
    * fresh vectors, and one re-submitted corpus id (present on both
    * sides: only `ida < idb` keeps it from self-pairing). */
  private def fixture(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def unit(): Seq[Float] = Seq.fill(Dim)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 30L).map(_ -> unit())
    val copies = corpus.take(10).map { case (id, v) =>
      (id + 1000L) -> v.map(_ + 0.001f) }
    val fresh = (1100L until 1105L).map(_ -> unit())
    (vecs(corpus), vecs(copies ++ fresh :+ corpus(3)))
  }

  private def candidates(corpus: DataFrame, inc: DataFrame): DataFrame =
    Similarity.incrementalLshCandidates(
      Similarity.probedBuckets(corpus, "vec_id", "embedding", Dim, 12),
      inc, "vec_id", "embedding", Dim, 12)

  test("LSH candidates: driver path == forced distributed over 8 seeded " +
      "vector sets, with a re-submitted id on both sides") {
    (1 to 8).foreach { seed =>
      val (corpus, inc) = fixture(seed)
      val local = candidates(corpus, inc)
      assert(onDriver(local), s"seed $seed: default gate left the driver")
      val dist = withGate(0)(candidates(corpus, inc))
      assert(!onDriver(dist))
      val got = pairSet(local)
      assert(got === pairSet(dist), s"seed $seed")
      // anti-vacuity: both candidate kinds, and no self pair
      assert(got.exists { case (a, b) => a < 1000L && b >= 1000L })
      assert(got.forall { case (a, b) => a < b })
    }
  }

  test("LSH candidates: the gate is inclusive in collected elements " +
      "(batch rows × 13 probes) — at the count the driver path, one " +
      "below it the distributed joins, same pairs") {
    // one corpus vector and ten random batch vectors: the batch probe
    // (10 × 13 = 130 elements) outweighs the corpus fetch (≤ 13 rows)
    // and the candidate count (≈ one self hit per batch row)
    val rnd = new scala.util.Random(77)
    def unit(): Seq[Float] = Seq.fill(Dim)(rnd.nextGaussian().toFloat)
    val corpus = vecs(Seq(0L -> unit()))
    val inc = vecs((100L until 110L).map(_ -> unit()))
    val elements = 10L * 13
    val at = withGate(elements)(candidates(corpus, inc))
    assert(onDriver(at))
    val below = withGate(elements - 1)(candidates(corpus, inc))
    assert(!onDriver(below))
    assert(pairSet(at) === pairSet(below))
    assert(pairSet(at) === pairSet(withGate(0)(candidates(corpus, inc))))
  }

  private def scored(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  test("quantized rerank: driver path == forced distributed, with the " +
      "inclusive (ids + 2 × pairs) × dim gate, a duplicate pair and a " +
      "pair whose vector is missing") {
    val rnd = new scala.util.Random(5)
    val vs = (0L until 12L).map(id =>
      (id, Seq.fill(Dim)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val pairRows = Seq((0L, 1L), (0L, 1L), (2L, 7L), (3L, 11L), (4L, 99L),
      (5L, 6L))
    val pairs = LocalGate.longPairFrame(spark, "ida", "idb", pairRows)
    def rerank = ExtensionQueries.scaledCosOnPairs(vs, pairs, "ida", "idb",
      dim = Dim)
    val ids = pairRows.flatMap { case (a, b) => Seq(a, b) }.distinct.size
    val elements = (ids + 2L * pairRows.size) * Dim
    val at = withGate(elements)(rerank)
    assert(onDriver(at))
    val below = withGate(elements - 1)(rerank)
    assert(!onDriver(below))
    val dist = withGate(0)(rerank)
    // the duplicate pair scores twice, the missing vector drops
    assert(scored(at).size === 5)
    assert(scored(at) === scored(below))
    assert(scored(at) === scored(dist))
    assert(scored(rerank) === scored(dist))
  }

  test("filterToIds == broadcast left-semi join, on both sides of " +
      "InSetMaxIds, with null keys") {
    val rows = (0L until 6000L).map(i =>
      Row(if (i % 97 == 0) null else java.lang.Long.valueOf(i), i * 3))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
    def semi(ids: Seq[Long]): Set[(Any, Long)] = {
      val keys = ids.toDF("_id")
      df.join(broadcast(keys), df("k") === keys("_id"), "left_semi")
        .collect().map(r => (r.get(0), r.getLong(1))).toSet
    }
    def hasJoin(d: DataFrame) = d.queryExecution.optimizedPlan
      .collectFirst { case j: Join => j }.isDefined
    Seq(LocalGate.InSetMaxIds, LocalGate.InSetMaxIds + 1).foreach { n =>
      // n distinct ids, the ones at or above 6000 matching no row
      val ids = (0L until n.toLong).map(_ * 7 % 6100L)
      val got = LocalGate.filterToIds(df, "k", ids)
      assert(hasJoin(got) === (ids.distinct.size > LocalGate.InSetMaxIds))
      val rowsGot = got.collect().map(r => (r.get(0), r.getLong(1))).toSet
      assert(rowsGot === semi(ids), s"$n ids")
      assert(rowsGot.nonEmpty && rowsGot.forall(_._1 != null))
    }
  }

  private val Sf = "/root/testdata/sf0.001"

  private def x42Rows(): Seq[(Int, Long, String)] =
    ExtensionQueries.x42EmbFoldServe(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq

  test("x42: the driver path's rows == the forced-distributed chain's, " +
      "both verdicts live on both days") {
    val local = x42Rows()
    val dist = withGate(0)(x42Rows())
    assert(local === dist)
    Seq(1, 2).foreach { day =>
      val verdicts = local.filter(_._1 == day).map(_._3).toSet
      assert(verdicts === Set("kept", "near_dup"), s"day $day")
    }
  }

  test("x42 builds and writes in 9 Spark jobs") {
    // the first call pays the memoized bucket artifact's build
    val _ = x42Rows()
    val out = java.nio.file.Files.createTempDirectory("graft_x42").toString
    val jobs = org.apache.spark.graft.ListenerBus.jobsDuring(
      spark.sparkContext) {
      ExtensionQueries.x42EmbFoldServe(spark, Sf)
        .write.mode("overwrite").parquet(out)
    }
    assert(jobs === X42Jobs, s"x42 ran $jobs jobs, the pin is $X42Jobs")
    assert(spark.read.parquet(out).count() > 0)
  }

  /** Measured 9 on this spec's session (a listener dump of the jobs'
    * stage names): the embeddings read's schema inference, one probe
    * of both batches, per day a bucket fetch and a vector fetch, then
    * three for the ordered write. The distributed chain ran 20. */
  private val X42Jobs = 9
}
