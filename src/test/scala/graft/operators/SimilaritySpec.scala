package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine basics: self=1, orthogonal=0, opposite=-1") {
    val out = vecs.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("self")).head()
    assert(math.abs(out.getDouble(0) - 1.0) < 1e-9)
    val pair = vecs.filter(col("vec_id") === 0).crossJoin(
        vecs.filter(col("vec_id") === 2).select(col("embedding").as("e2")))
      .select(Similarity.cosine(col("embedding"), col("e2"))).head()
    assert(math.abs(pair.getDouble(0)) < 1e-9)
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val top = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .orderBy(col("cos").desc).collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 4L))
  }

  test("lshTopK recall vs brute force on a clustered set") {
    // 2 tight clusters of 10 vectors each in 8 dims
    val clustered = (0 until 20).map { i =>
      val base = if (i < 10) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      base(i % 8) = base(i % 8) + 0.1f * (i % 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id").isin(0L, 10L))
    val brute = Similarity.bruteForceTopK(clustered, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopKMulti(clustered, queries, "vec_id", "embedding",
        dim = 8, k = 5, nPlanes = 6, nTables = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same-cluster neighbors share sign-buckets: recall should be high
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"lsh recall $recall too low; brute=$brute lsh=$lsh")
  }

  test("ivfTopK: probed k-means cells reach brute-force recall on clusters") {
    val clustered = (0 until 40).map { i =>
      val base = Array.fill(8)(if (i % 4 == 0) 1.0f else if (i % 4 == 1) -1.0f
        else if (i % 4 == 2) 0.5f else -0.5f)
      base(i % 8) = base(i % 8) + 0.05f * (i % 5)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id") < 4)
    val brute = Similarity.bruteForceTopK(clustered, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(clustered, queries, "vec_id", "embedding",
        k = 5, nLists = 4, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"ivf recall $recall; brute=$brute ivf=$ivf")
  }

  test("lshTopKMulti: multi-table candidates recover brute-force top-k " +
      "where one table cannot") {
    // 4 loose clusters in 8 dims — loose enough that a single 12-bit
    // table misses most neighbors (the x5b fixture regime)
    val clustered = (0 until 40).map { i =>
      val base = Array.tabulate(8)(j =>
        if (j % 4 == i % 4) 1.0f else 0.3f * ((i * 7 + j) % 5 - 2))
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id") < 4)
    val brute = Similarity.bruteForceTopK(clustered, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopKMulti(clustered, queries, "vec_id", "embedding",
        dim = 8, k = 5, nPlanes = 3, nTables = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect multi).size.toDouble / brute.size
    assert(recall >= 0.9, s"multi-table recall $recall; brute=$brute multi=$multi")
  }

  test("lshCandidatePairsMulti: candidate ids cover the top-k pair set") {
    val clustered = (0 until 20).map { i =>
      val base = if (i < 10) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      base(i % 8) = base(i % 8) + 0.1f * (i % 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id").isin(0L, 10L))
    val brute = Similarity.bruteForceTopK(clustered, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Similarity.lshCandidatePairsMulti(clustered, queries,
        "vec_id", "embedding", dim = 8, nPlanes = 3, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(cand), s"missing=${brute diff cand}")
    // sanity: no self pairs, no duplicates (collect returned a set of
    // the same size as the frame)
    assert(!cand.exists(p => p._1 == p._2))
  }

  test("lshNearDupPairs: bucketed path recovers the exact near-dup pairs") {
    // two tight clusters: near-dups share sign-buckets with certainty
    val clustered = (0 until 16).map { i =>
      val base = if (i < 8) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      base(i % 8) = base(i % 8) * 1.05f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(clustered, "vec_id", "embedding", 0.99)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(clustered, "vec_id", "embedding",
        dim = 8, threshold = 0.99, nPlanes = 6)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh === exact, s"lsh=$lsh exact=$exact")
  }

  test("cosineNearDupPairs finds only the close pair") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 3L))
  }
}
