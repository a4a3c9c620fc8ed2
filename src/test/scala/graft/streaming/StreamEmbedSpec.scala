package graft.streaming

import graft.{ExtensionQueries, SparkTestBase, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Pins the streaming vector-modality contract (ST12, the live twin
  * of x36): the union of per-trigger pair emissions equals the exact
  * quantized-decimal batch recompute over every vector ever streamed,
  * each qualifying pair emitted exactly once (when its later side
  * arrives) — plus the replayed-batch no-op, torn-write overwrite,
  * ebkt compaction transparency with deferred cleanup, the missing-
  * delta heal, and the params gate. The recompute comparison runs the
  * full O(n²) pair listing through the SAME quantized scoring, so it
  * also proves the radius-1 bucket candidates lose no qualifying pair
  * on this corpus (x6b's recall contract). */
class StreamEmbedSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  private val enc = Encoders.product[EmbDoc]

  private def vecs(sel: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    Tables.embeddings(spark, d).filter(sel(col("vec_id")))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))

  // id-ascending batches (the re-embed frontier contract): two corpus
  // waves, then the re-embed batch above the whole domain
  private def b1 = vecs(v => v < 60).as(enc)
  private def b2 = vecs(v => v >= 60 && v < 120).as(enc)
  private def b3 = Tables.embeddings(spark, d)
    .filter(col("vec_id") < 120 && col("vec_id") % 3 === 1)
    .select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    .as(enc)

  private def union3: DataFrame =
    b1.toDF().unionByName(b2.toDF()).unionByName(b3.toDF())

  /** The full exact recompute: EVERY a<b pair of `all`, scored with
    * the same quantized-decimal cosine, thresholded — the batch truth
    * the streamed union must equal. */
  private def fullPairs(all: DataFrame, thresholdPpm: Long):
      Set[(Long, Long, Double)] = {
    val ids = all.select(col("vec_id"))
    val cand = ids.toDF("ida")
      .join(ids.toDF("idb"), col("ida") < col("idb"))
    ExtensionQueries.scaledCosOnPairs(all, cand, "ida", "idb", dim = 64)
      .filter(col("cos") >= thresholdPpm / 1e6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  private def streamed(dir: String): Seq[(Long, Long, Double)] =
    StreamEmbed.allPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq

  test("union of per-trigger emissions == exact batch recompute, " +
      "exactly once, with cross-batch and within-batch pairs live — " +
      "through the foreachBatch stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val embEnc: org.apache.spark.sql.Encoder[EmbDoc] = enc
    val dir = Files.createTempDirectory("graft_se").toString
    val ckpt = Files.createTempDirectory("graft_se_ckpt").toString
    val mem = MemoryStream[EmbDoc](71)
    def drain(): Unit = {
      val q = StreamEmbed.pairsStream(mem.toDS(), dir, ckpt)
      try { val _ = q.awaitTermination(120000) } finally q.stop()
    }
    mem.addData(b1.collect().toIndexedSeq: _*); drain()
    mem.addData(b2.collect().toIndexedSeq: _*); drain()
    mem.addData(b3.collect().toIndexedSeq: _*); drain()

    val got = streamed(dir)
    val want = fullPairs(union3, 990000L)
    assert(got.toSet === want)
    assert(got.length === got.toSet.size, "every pair exactly once")
    // the re-embed trigger found its cross-batch sources…
    assert(want.exists { case (a, b, _) => a < 1000000L && b >= 1000000L },
      "fixture drift: no corpus × re-embed pair qualifies")
    // …and trigger 1 paired across the corpus waves (b1 × b2) or
    // within a wave — the corpus-side generators
    assert(StreamEmbed.corpusView(spark, dir).count()
      === union3.count())
  }

  test("trigger 1's emissions == the batch incremental serve (x36's " +
      "restricted listing) — the streamed and batch forms agree " +
      "pair-for-pair on the re-embed trigger") {
    val dir = Files.createTempDirectory("graft_se_x36").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    assert(StreamEmbed.pairBatch(b2, 1L, dir))
    assert(StreamEmbed.pairBatch(b3, 2L, dir))
    val trig = spark.read.parquet(s"$dir/pairs/b=2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val want = fullPairs(union3, 990000L)
      .filter { case (_, b, _) => b >= 1000000L }
    assert(trig === want,
      "the re-embed trigger must emit exactly the ≥1-new listing")
  }

  test("a replayed batch id is a committed no-op") {
    val dir = Files.createTempDirectory("graft_se_replay").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    assert(StreamEmbed.pairBatch(b2, 1L, dir))
    val before = streamed(dir).toSet
    assert(!StreamEmbed.pairBatch(b2, 1L, dir))
    assert(streamed(dir).toSet === before)
  }

  test("a torn pairs write without a corpus commit is recomputed, " +
      "not trusted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_se_torn").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    Seq((999999L, 999999L, 1.0)).toDF("ida", "idb", "cos")
      .write.parquet(s"$dir/pairs/b=1")
    assert(StreamEmbed.pairBatch(b3, 1L, dir))
    val pairs = streamed(dir).map(p => (p._1, p._2)).toSet
    assert(!pairs.contains((999999L, 999999L)))
    assert(pairs.exists(_._2 >= 1000000L))
  }

  test("concurrent-wave torn-write matrix: corpus DATA without the " +
      "driver's commit marker is an uncommitted batch the replay " +
      "recommits") {
    val dir = Files.createTempDirectory("graft_se_wave").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    assert(StreamEmbed.pairBatch(b3, 1L, dir))
    // crash at the wave's new failure point: all of batch 1's jobs
    // (pairs, ebkt, corpus data) landed, the driver's marker did not
    Files.delete(Paths.get(s"$dir/corpus/b=1/_SUCCESS"))
    assert(StreamEmbed.corpusView(spark, dir).count() === b1.toDF().count())
    assert(streamed(dir).forall(_._2 < 1000000L),
      "no batch-1 pair may be visible")
    // replay recommits; the union equals the exact batch recompute
    assert(StreamEmbed.pairBatch(b3, 1L, dir))
    val rows = streamed(dir)
    assert(rows.toSet === fullPairs(b1.toDF().unionByName(b3.toDF()),
      990000L))
    assert(rows.length === rows.toSet.size)
  }

  test("ebkt compaction is content-transparent, defers cleanup one " +
      "pass, and post-compaction triggers pair correctly") {
    val dir = Files.createTempDirectory("graft_se_comp").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    assert(StreamEmbed.pairBatch(b2, 1L, dir))
    val viewBefore = StreamEmbed.bucketsView(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(StreamEmbed.compactBuckets(spark, dir) === Some(1L))
    assert(Files.exists(Paths.get(s"$dir/ebkt/b=0")),
      "covered deltas survive the covering pass")
    assert(StreamEmbed.bucketsView(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === viewBefore, "compaction must be view-transparent")
    assert(StreamEmbed.compactBuckets(spark, dir) === None)
    assert(!Files.exists(Paths.get(s"$dir/ebkt/b=0")) &&
      !Files.exists(Paths.get(s"$dir/ebkt/b=1")),
      "the pass after the commit sweeps covered deltas")
    // a post-compaction trigger pairs against snapshot + its delta
    assert(StreamEmbed.pairBatch(b3, 2L, dir))
    assert(streamed(dir).toSet === fullPairs(union3, 990000L))
  }

  test("a committed batch missing its ebkt delta (pre-ST12 dir) is " +
      "self-healed from its corpus dir, not dropped from pairing") {
    val dir = Files.createTempDirectory("graft_se_heal").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    assert(StreamEmbed.pairBatch(b2, 1L, dir))
    StreamIndex.deleteTree(s"$dir/ebkt/b=0")
    StreamIndex.deleteTree(s"$dir/ebkt/b=1")
    assert(StreamEmbed.pairBatch(b3, 2L, dir))
    assert(streamed(dir).toSet === fullPairs(union3, 990000L),
      "healed buckets must restore the full candidate surface")
    assert(Files.exists(Paths.get(s"$dir/ebkt/b=0/_SUCCESS")))
  }

  test("ST12 bootstrap: a dir seeded from the emb-bucket artifact — " +
      "physically or BY-REF — gives the re-embed trigger exactly the " +
      "from-scratch emissions; a bucket table recorded under different " +
      "hyperplanes refuses to seed") {
    import graft.operators.Similarity
    // from scratch: two corpus triggers + the live re-embed trigger
    val scratch = Files.createTempDirectory("graft_se_seed_s").toString
    assert(StreamEmbed.pairBatch(b1, 0L, scratch))
    assert(StreamEmbed.pairBatch(b2, 1L, scratch))
    assert(StreamEmbed.pairBatch(b3, 2L, scratch))
    val wantLive = spark.read.parquet(s"$scratch/pairs/b=2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(wantLive.nonEmpty)

    // the durable artifacts: the probed-bucket table + vector corpus
    val corpus = b1.toDF().unionByName(b2.toDF())
    val buckets = Similarity.probedBuckets(
      corpus.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12)

    // physical seed
    val seeded = Files.createTempDirectory("graft_se_seed_p").toString
    StreamBootstrap.seedEmbed(seeded, corpus, buckets,
      StreamParams.embed(64, 12, 990000L))
    assert(StreamEmbed.pairBatch(b3, 0L, seeded))
    assert(spark.read.parquet(s"$seeded/pairs/b=0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet === wantLive)

    // by-ref seed: both layers as pointers to catalog tables
    val tc = "g_se_corpus_tbl"; val tb = "g_se_bucket_tbl"
    Seq(tc, tb).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    corpus.write.format("parquet").saveAsTable(tc)
    buckets.write.format("parquet").saveAsTable(tb)
    val byref = Files.createTempDirectory("graft_se_seed_r").toString
    ExtensionQueries.seedEmbedFromTablesByRef(spark, byref, tc, tb)
    assert(Files.exists(Paths.get(s"$byref/ebkt/c=-1/_POINTER")))
    assert(StreamEmbed.pairBatch(b3, 0L, byref))
    assert(spark.read.parquet(s"$byref/pairs/b=0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet === wantLive)
    // compaction materializes + retires the ebkt pointer
    assert(StreamEmbed.compactBuckets(spark, byref) === Some(0L))
    assert(StreamEmbed.compactBuckets(spark, byref) === None)
    assert(!Files.exists(Paths.get(s"$byref/ebkt/c=-1")))

    // a bucket table recorded under DIFFERENT hyperplanes refuses
    spark.sql(s"ALTER TABLE $tb SET TBLPROPERTIES " +
      s"('${graft.DurableArtifact.ParamsProp}' = " +
      "'dim=64;multiProbe=true;nPlanes=16')")
    val fresh = Files.createTempDirectory("graft_se_seed_x").toString
    val e = intercept[IllegalArgumentException] {
      ExtensionQueries.seedEmbedFromTablesByRef(spark, fresh, tc, tb)
    }
    assert(e.getMessage.contains("nPlanes"))
    // …and so does one built WITHOUT radius-1 probing: the candidate
    // join assumes a PROBED corpus side, so an unprobed artifact would
    // silently lose every one-bit-off pair — the stream's params name
    // multiProbe exactly so this refuses
    spark.sql(s"ALTER TABLE $tb SET TBLPROPERTIES " +
      s"('${graft.DurableArtifact.ParamsProp}' = " +
      "'dim=64;multiProbe=false;nPlanes=12')")
    val e2 = intercept[IllegalArgumentException] {
      ExtensionQueries.seedEmbedFromTablesByRef(spark, fresh, tc, tb)
    }
    assert(e2.getMessage.contains("multiProbe"))
    Seq(tc, tb).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a re-submitted vector id (contract violation: batch id equals " +
      "a corpus id) never self-pairs — the candidate join's ida<idb " +
      "guard") {
    val dir = Files.createTempDirectory("graft_se_resub").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    // batch 1 re-submits vector 7 verbatim (same id, same embedding)
    val resub = Tables.embeddings(spark, d).filter(col("vec_id") === 7)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .as(enc)
    assert(StreamEmbed.pairBatch(resub, 1L, dir))
    val pairs = streamed(dir).map(p => (p._1, p._2))
    assert(!pairs.contains((7L, 7L)),
      "a self-pair at cos 1.0 must never be emitted")
  }

  test("the params gate covers the vector stream: dim/nPlanes/threshold " +
      "drift throws at trigger and maintenance entry") {
    val dir = Files.createTempDirectory("graft_se_params").toString
    assert(StreamEmbed.pairBatch(b1, 0L, dir))
    val e1 = intercept[IllegalArgumentException] {
      StreamEmbed.pairBatch(b2, 1L, dir, nPlanes = 16)
    }
    assert(e1.getMessage.contains("params mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      StreamEmbed.pairBatch(b2, 1L, dir, cosThresholdPpm = 950000L)
    }
    assert(e2.getMessage.contains("params mismatch"))
    val e3 = intercept[IllegalArgumentException] {
      StreamEmbed.compactBuckets(spark, dir, dim = 32)
    }
    assert(e3.getMessage.contains("params mismatch"))
  }
}
