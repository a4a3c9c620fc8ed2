package graft.streaming

import graft.SparkTestBase
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Pins the streaming cluster-map contract (ST10, the live twin of
  * x39): the per-trigger folds compose to exactly the batch
  * cluster-map rebuild over every document ever streamed — across
  * triggers, across replays (no-op), across a crash between a
  * batch's corpus commit and its fold (self-heal), across a torn
  * delta (rewritten), and across compaction (content-transparent,
  * deferred cleanup). The fixture's batches are built so that a
  * LATER trigger merges clusters formed by EARLIER triggers — the
  * suffix-composition case that distinguishes ordered folding from
  * naive row unions. */
class StreamClustersSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val tail2 = "shared tail one two three four five six seven eight"
  private val b1 = Seq(
    NdDoc(1L, base + " lambda mu"),
    NdDoc(2L, base + " lambda nu"),          // cluster {1,2} forms in trigger 1
    NdDoc(3L, tail2 + " nine"),
    NdDoc(4L, tail2 + " ten"))               // cluster {3,4} forms in trigger 1
  private val b2 = Seq(
    NdDoc(11L, base + " lambda"),            // joins {1,2}
    NdDoc(12L, "totally different words about completely other topics here now"))
  private val b3 = Seq(
    // near-dup of BOTH families' members: merges {1,2,11} with {3,4}
    // via a within-trigger chain — the relabel that must compose over
    // trigger 1's and 2's folds
    NdDoc(21L, base + " lambda xi"),
    NdDoc(22L, tail2 + " eleven"),
    NdDoc(23L, base + " lambda mu " + tail2 + " nine"))
  private val allDocs = b1 ++ b2 ++ b3

  // the chain doc 23 sits at J ≈ 0.45-0.55 against its two sources —
  // gate at 300000 ppm so every intended edge is comfortably in
  private val ppm = 300000L

  private def expectedMap: Set[(Long, Long)] =
    Dedup.connectedComponents(Dedup.ngramJaccardPairsPpm(
        allDocs.toDF("doc_id", "text"), "doc_id", "text", 3, ppm,
        Dedup.DfCap.NoCap))
      .select(col("node"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def viewRows(dir: String): Set[(Long, Long)] =
    StreamClusters.clusterView(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("union of per-trigger folds == batch cluster-map rebuild, " +
      "including a later trigger merging earlier triggers' clusters") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stc").toString
    val ckpt = Files.createTempDirectory("graft_stc_ckpt").toString
    val mem = MemoryStream[NdDoc](61)
    def drain(): Unit = {
      val q = StreamClusters.clustersStream(mem.toDS(), dir, ckpt, 3, ppm)
      try { val _ = q.awaitTermination(120000) } finally q.stop()
    }
    mem.addData(b1: _*); drain()
    mem.addData(b2: _*); drain()
    mem.addData(b3: _*); drain()

    val got = viewRows(dir)
    assert(got === expectedMap)
    // the merge actually crossed triggers: doc 3's final label is the
    // min of the UNION component (doc 1), not trigger 1's local label
    assert(got.contains((3L, 1L)))
    // and every batch left its own fold delta
    (0L to 2L).foreach { v =>
      assert(Files.exists(Paths.get(s"$dir/cmap/b=$v/_SUCCESS")))
    }
  }

  test("a replayed batch is a no-op; a crash between corpus commit " +
      "and fold self-heals in batch order") {
    val dir = Files.createTempDirectory("graft_stc_heal").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, ppm))
    StreamClusters.foldCommitted(spark, dir)
    // batch 1 commits its corpus but "crashes" before the fold
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, ppm))
    assert(!Files.exists(Paths.get(s"$dir/cmap/b=1/_SUCCESS")))
    // replayed batch id: pairBatch skips (committed), and the view
    // heals the missing fold in order
    assert(!StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, ppm))
    val got = viewRows(dir)
    val want = Dedup.connectedComponents(Dedup.ngramJaccardPairsPpm(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3, ppm,
        Dedup.DfCap.NoCap))
      .select(col("node"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(Files.exists(Paths.get(s"$dir/cmap/b=1/_SUCCESS")))
    // replaying again after the heal changes nothing
    assert(viewRows(dir) === want)
  }

  test("a torn fold delta (no _SUCCESS) is rewritten, not trusted; " +
      "a torn batch (no corpus commit) is invisible") {
    val dir = Files.createTempDirectory("graft_stc_torn").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, ppm))
    StreamClusters.foldCommitted(spark, dir)
    val committed = viewRows(dir)
    // torn delta: batch 1's corpus commits, its fold dir lands WITHOUT
    // a _SUCCESS (crash mid-write) and with garbage content
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, ppm))
    Files.createDirectories(Paths.get(s"$dir/cmap/b=1"))
    Files.write(Paths.get(s"$dir/cmap/b=1/garbage"), Array[Byte](1, 2, 3))
    val got = viewRows(dir) // heals: overwrites the torn dir
    val want = Dedup.connectedComponents(Dedup.ngramJaccardPairsPpm(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3, ppm,
        Dedup.DfCap.NoCap))
      .select(col("node"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // torn BATCH: pairs + even a committed-looking fold delta, but no
    // corpus _SUCCESS — the view must not see any of it
    b3.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/pairs/b=2") // wrong schema on purpose: never read
    spark.range(1).select(lit(2L).as("_b"), lit(99L).as("_k"),
        lit(99L).as("_v"), lit(false).as("_rel"))
      .write.mode("overwrite").parquet(s"$dir/cmap/b=2")
    assert(viewRows(dir) === want)
  }

  test("compaction is content-transparent, bounds the layers, defers " +
      "cleanup one pass, and folding continues correctly after it") {
    val dir = Files.createTempDirectory("graft_stc_comp").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, ppm))
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, ppm))
    StreamClusters.foldCommitted(spark, dir)
    val before = viewRows(dir)
    assert(StreamClusters.compactClusters(spark, dir) === Some(1L))
    assert(viewRows(dir) === before)
    // deferred cleanup: the covered deltas survive THIS pass (a
    // reader planned against the pre-pass listing keeps its files)…
    assert(Files.exists(Paths.get(s"$dir/cmap/b=0")))
    // a post-compaction trigger folds against the snapshot — and the
    // merge in b3 must relabel SNAPSHOT rows through the new delta
    assert(StreamNearDup.pairBatch(b3.toDS(), 2L, dir, 3, ppm))
    StreamClusters.foldCommitted(spark, dir)
    assert(viewRows(dir) === expectedMap)
    // …the NEXT pass sweeps what snapshot 1 covered (but keeps c=1
    // itself — a reader planned before THIS pass still references it)
    assert(StreamClusters.compactClusters(spark, dir) === Some(2L))
    assert(!Files.exists(Paths.get(s"$dir/cmap/b=0")))
    assert(!Files.exists(Paths.get(s"$dir/cmap/b=1")))
    assert(Files.exists(Paths.get(s"$dir/cmap/c=1")))
    assert(viewRows(dir) === expectedMap)
    // …and a further NO-OP pass retires snapshot 1 and its last
    // covered delta — deferred exactly one pass, like the index layer
    assert(StreamClusters.compactClusters(spark, dir) === None)
    assert(!Files.exists(Paths.get(s"$dir/cmap/c=1")))
    assert(!Files.exists(Paths.get(s"$dir/cmap/b=2")))
    assert(Files.exists(Paths.get(s"$dir/cmap/c=2")))
    assert(viewRows(dir) === expectedMap)
  }

  test("autoCompactEvery fires mid-stream; the composed view is " +
      "unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stc_auto").toString
    val ckpt = Files.createTempDirectory("graft_stc_auto_ckpt").toString
    val mem = MemoryStream[NdDoc](67)
    def drain(): Unit = {
      val q = StreamClusters.clustersStream(mem.toDS(), dir, ckpt, 3,
        ppm, Dedup.DfCap.NoCap, autoCompactEvery = 2)
      try { val _ = q.awaitTermination(120000) } finally q.stop()
    }
    mem.addData(b1: _*); drain()
    mem.addData(b2: _*); drain()
    mem.addData(b3: _*); drain()
    // threshold 2: the pass fired inside batch 1's trigger (2 live
    // deltas) for BOTH layers, and not since
    assert(StreamIndex.layerSnapshot(dir, "cmap") === Some(1L))
    assert(StreamIndex.layerSnapshot(dir, "index") === Some(1L))
    assert(viewRows(dir) === expectedMap)
  }

  test("under a binding DfCap.Fixed the folds compose to exactly the " +
      "components of the AS-OF-ARRIVAL emitted pairs — the cap's " +
      "contract (dfs only grow; early emissions stand)") {
    val dir = Files.createTempDirectory("graft_stc_cap").toString
    // cap 4 binds: the base-family shingles reach df 5 by trigger 3,
    // so late base-side pairs are capped away while trigger-1/2
    // emissions (df ≤ 3 at their arrival) stand — exactly the
    // as-of-arrival semantics ST8 documents for Fixed
    val cap = Dedup.DfCap.Fixed(4)
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      assert(StreamNearDup.pairBatch(b.toDS(), i.toLong, dir, 3, ppm, cap))
      StreamClusters.foldCommitted(spark, dir)
    }
    val want = Dedup.connectedComponents(
        StreamNearDup.allPairs(spark, dir).select("ida", "idb"))
      .select(col("node"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viewRows(dir) === want,
      "the fold must consume exactly the pair semantics the stream emits")
    // the cap actually bound: the capped map differs from NoCap's
    assert(viewRows(dir) !== expectedMap,
      "fixture drift: Fixed(4) no longer binds — lower the cap")
  }

  test("a trigger's fold against a one-delta cluster layer launches a " +
      "pinned number of Spark jobs") {
    // job counts are deterministic (no timing noise): a rise here is
    // a new eager action or an inference read on the per-trigger path
    val dir = Files.createTempDirectory("graft_stc_jobs").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, ppm))
    StreamClusters.foldCommitted(spark, dir)
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, ppm))
    val jobs = org.apache.spark.graft.ListenerBus.jobsDuring(
      spark.sparkContext)(StreamClusters.foldCommitted(spark, dir))
    assert(Files.exists(Paths.get(s"$dir/cmap/b=1/_SUCCESS")))
    assert(jobs === FoldJobs,
      s"foldCommitted launched $jobs jobs, expected $FoldJobs")
  }

  /** Measured: the view's relabel collect, the pair probe, the root
    * lookup (one job: an `InSet` filter, LocalGate.filterToIds), and
    * the delta write. The broadcast semi-join lookup took 5 (its
    * broadcast staged as its own job under AQE); the distributed fold
    * before that took 18. */
  private val FoldJobs = 4
}
