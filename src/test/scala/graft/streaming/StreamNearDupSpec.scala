package graft.streaming

import graft.SparkTestBase
import graft.operators.Dedup
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

/** Pins the streaming near-dup contract: the union of per-trigger
  * outputs equals the batch pair recompute over every document ever
  * streamed, with each pair emitted exactly once (when its later side
  * arrives) — plus the replayed-batch no-op and the torn-write
  * overwrite the append-only commit layout relies on. */
class StreamNearDupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val b1 = Seq(
    NdDoc(1L, base + " lambda mu"),
    NdDoc(2L, base + " lambda nu"),          // within-stream pair with 1
    NdDoc(3L, "totally different words about completely other topics here now"))
  private val b2 = Seq(
    NdDoc(11L, base + " lambda"),            // cross-batch pair with 1 and 2
    NdDoc(12L, "shared tail one two three four five six seven eight nine"))
  private val b3 = Seq(
    NdDoc(13L, "shared tail one two three four five six seven eight ten"))
  private val allDocs = b1 ++ b2 ++ b3

  private def expectedPairs = Dedup.ngramJaccardPairsPpm(
      allDocs.toDF("doc_id", "text"), "doc_id", "text", 3, 500000L,
      Dedup.DfCap.NoCap)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("union of per-trigger outputs == batch recompute, exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_snd").toString
    val ckpt = Files.createTempDirectory("graft_snd_ckpt").toString
    val mem = MemoryStream[NdDoc](31)
    val q = mem.toDS().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[NdDoc], id: Long) =>
        val _ = StreamNearDup.pairBatch(b, id, dir, 3, 500000L)
      }
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamNearDup.allPairs(spark, dir)
    val rows = streamed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rowSet: Set[(Long, Long, Long)] = rows.toSet
    assert(rowSet === expectedPairs)
    assert(rows.length === rowSet.size, "every pair exactly once")
    // the fixture exercises both generators: a pair whose sides arrived
    // in different triggers and a pair from within one trigger
    assert(rowSet.exists { case (a, b, _) => a <= 2L && b == 11L })
    assert(rowSet.exists { case (a, b, _) => a == 1L && b == 2L })
    assert(StreamNearDup.corpusView(spark, dir).count() === allDocs.size)
  }

  test("autoCompactEvery fires compaction automatically mid-stream; " +
      "the exactly-once union is unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_snd_auto").toString
    val ckpt = Files.createTempDirectory("graft_snd_auto_ckpt").toString
    val mem = MemoryStream[NdDoc](47)
    // AvailableNow terminates per drain, so each day's run is one
    // restart over the shared checkpoint — the deployment shape
    def drain(): Unit = {
      val q = StreamNearDup.pairsStream(mem.toDS(), dir, ckpt, 3,
        500000L, Dedup.DfCap.NoCap, autoCompactEvery = 2)
      try { val _ = q.awaitTermination(120000) } finally q.stop()
    }
    mem.addData(b1: _*); drain()
    mem.addData(b2: _*); drain()
    mem.addData(b3: _*); drain()
    // threshold 2: the pass fired inside batch 1's trigger (2 live
    // deltas), and NOT after batch 2 (1 live delta) — a snapshot id
    // strictly below the last batch id proves mid-stream firing
    assert(StreamIndex.layerSnapshot(dir, "index") === Some(1L))
    // the compacted layout serves the same exactly-once union
    val rows = StreamNearDup.allPairs(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet === expectedPairs)
    assert(rows.length === rows.toSet.size)
    assert(StreamNearDup.corpusView(spark, dir).count() === allDocs.size)
  }

  test("adaptive caps are rejected; Fixed is accepted") {
    val dir = Files.createTempDirectory("graft_snd_cap").toString
    val e = intercept[IllegalArgumentException] {
      StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L,
        Dedup.DfCap.AdaptiveAvg(2))
    }
    assert(e.getMessage.contains("arrival"))
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L,
      Dedup.DfCap.Fixed(100)))
  }

  test("a replayed batch id is a committed no-op") {
    val dir = Files.createTempDirectory("graft_snd_replay").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    val before = StreamNearDup.allPairs(spark, dir).collect().toSeq
    assert(!StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    assert(StreamNearDup.allPairs(spark, dir).collect().toSeq === before)
    assert(StreamNearDup.corpusView(spark, dir).count() ===
      (b1.size + b2.size))
  }

  test("torn pairs write without a corpus commit is recomputed, " +
      "not trusted") {
    val dir = Files.createTempDirectory("graft_snd_torn").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    // crash simulation: batch 1's pairs dir landed (even with _SUCCESS)
    // but the corpus commit did not — the replay must overwrite it
    Seq((999L, 999L, 1L)).toDF("ida", "idb", "jaccard_ppm")
      .write.parquet(s"$dir/pairs/b=1")
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    val pairs = StreamNearDup.allPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((999L, 999L)), "torn write must be overwritten")
    assert(pairs.contains((1L, 11L)))
  }

  test("concurrent-wave torn-write matrix: corpus DATA without the " +
      "driver's commit marker is an uncommitted batch the replay " +
      "recommits") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft_snd_wave").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    // crash simulation at the wave's one new failure point: EVERY
    // write job of batch 1 completed (pairs, index delta, corpus
    // data files) but the driver died before laying down the corpus
    // _SUCCESS — the single commit marker
    Files.delete(Paths.get(s"$dir/corpus/b=1/_SUCCESS"))
    // committed views see no trace of batch 1
    assert(StreamNearDup.corpusView(spark, dir).count() === b1.size)
    assert(StreamNearDup.allPairs(spark, dir).collect()
      .forall(r => r.getLong(1) <= 3L), "no batch-1 pair may be visible")
    // the replay is NOT a no-op: it recommits the batch, and the
    // union then equals the batch recompute over b1 ++ b2
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    val expected = Dedup.ngramJaccardPairsPpm(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3, 500000L,
        Dedup.DfCap.NoCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = StreamNearDup.allPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet === expected)
    assert(rows.length === rows.toSet.size, "every pair exactly once")
    assert(StreamNearDup.corpusView(spark, dir).count() ===
      (b1.size + b2.size))
  }

  test("compaction mid-stream: pairing and the exactly-once union are " +
      "unchanged, covered dirs are cleaned, the snapshot is canonical") {
    val dir = Files.createTempDirectory("graft_snd_compact").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    assert(StreamNearDup.compactIndex(spark, dir, 3) === Some(1L))
    val idx = java.nio.file.Paths.get(s"$dir/index")
    // cleanup is DEFERRED one pass so a reader planned against the
    // pre-compaction listing still finds its deltas
    assert(java.nio.file.Files.exists(idx.resolve("b=0")) &&
      java.nio.file.Files.exists(idx.resolve("b=1")),
      "freshly covered deltas must survive the pass that covered them")
    // nothing new since the snapshot → no-op, which performs the sweep
    assert(StreamNearDup.compactIndex(spark, dir, 3) === None)
    assert(java.nio.file.Files.exists(idx.resolve("c=1/_SUCCESS")))
    assert(!java.nio.file.Files.exists(idx.resolve("b=0")) &&
      !java.nio.file.Files.exists(idx.resolve("b=1")),
      "covered deltas must be deleted by the pass after the commit")
    // canonical layout: one row per shingle, identical to a rebuild
    val snap = StreamNearDup.indexView(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val rebuilt = Dedup.postingIndex(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(snap === rebuilt)
    // a post-compaction batch pairs against snapshot + its own delta
    assert(StreamNearDup.pairBatch(b3.toDS(), 2L, dir, 3, 500000L))
    val streamed = StreamNearDup.allPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSet === expectedPairs)
    assert(streamed.length === streamed.toSet.size)
    // second compaction folds snapshot + the new delta; the
    // superseded snapshot goes on the NEXT pass (deferred cleanup)
    assert(StreamNearDup.compactIndex(spark, dir, 3) === Some(2L))
    assert(java.nio.file.Files.exists(idx.resolve("c=1")),
      "superseded snapshot survives the covering pass")
    assert(StreamNearDup.compactIndex(spark, dir, 3) === None)
    assert(!java.nio.file.Files.exists(idx.resolve("c=1")),
      "superseded snapshot must be deleted by the following pass")
    assert(StreamNearDup.indexView(spark, dir, 3).count() ===
      Dedup.postingIndex(allDocs.toDF("doc_id", "text"),
        "doc_id", "text", 3).count())
  }

  test("a reader planned before an aggressive compaction pass reads " +
      "correct rows after it — cleanup defers one pass at ANY threshold") {
    val dir = Files.createTempDirectory("graft_snd_slow").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    // the SLOW reader: plans its scan against the pre-pass listing
    // (two uncompacted deltas), executes only after maintenance ran
    val reader = StreamNearDup.indexView(spark, dir, 3)
    // the most aggressive cadence the deferred-cleanup contract lets a
    // reader overlap: one full pass covering every file it planned
    // (autoCompactEvery=1 fires exactly this pass on the next trigger)
    assert(StreamNearDup.compactIndex(spark, dir, 3) === Some(1L))
    // the reader's files must still exist, and merging its delta rows
    // must give the exact canonical postings — correctness does not
    // depend on the threshold, only reader-lifetime-vs-TWO-passes does
    val got = reader.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .groupBy(_._1).map { case (k, vs) => (k, vs.flatMap(_._2).toSet) }
    val rebuilt = Dedup.postingIndex(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    assert(got === rebuilt,
      "pre-pass reader must see the exact pre-pass postings")
  }

  test("torn compaction is ignored; a covered delta surviving a crash " +
      "before cleanup never double-counts") {
    val dir = Files.createTempDirectory("graft_snd_crash").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    // torn compaction: snapshot dir exists, no _SUCCESS — reader must
    // keep serving from the deltas it claims to cover
    Seq((0L, Seq(999L << Dedup.SizeBits | 1L))).toDF("_sh", "_lst")
      .write.parquet(s"$dir/index/c=0")
    val _ = java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/index/c=0/_SUCCESS"))
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    val pairs = StreamNearDup.allPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 11L)) && pairs.contains((2L, 11L)))
    // real compaction + the deferred sweep, then a covered delta
    // reappears (crash landed between commit and cleanup): the view
    // must ignore it, or batch 0/1 postings double and every df in
    // the merge is wrong
    assert(StreamNearDup.compactIndex(spark, dir, 3) === Some(1L))
    assert(StreamNearDup.compactIndex(spark, dir, 3) === None)
    Dedup.postingIndex(b1.toDF("doc_id", "text"), "doc_id", "text", 3)
      .write.parquet(s"$dir/index/b=0")
    val viaView = StreamNearDup.indexView(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val rebuilt = Dedup.postingIndex(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(viaView === rebuilt, "stale covered delta must not double-count")
    // the next compaction retries the cleanup even with nothing new
    assert(StreamNearDup.compactIndex(spark, dir, 3) === None)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/index/b=0")),
      "the no-op pass must sweep the stale covered delta")
  }

  test("a pre-index corpus dir (no index delta) is self-healed, " +
      "not silently dropped from pairing") {
    val dir = Files.createTempDirectory("graft_snd_heal").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    // simulate a directory written by a pre-index deployment of this
    // pipeline: the corpus batch is committed but no delta exists —
    // dropping it would lose batch 0's postings from every later pair
    val idx0 = java.nio.file.Paths.get(s"$dir/index/b=0")
    val walk = java.nio.file.Files.walk(idx0)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => { val _ = java.nio.file.Files.deleteIfExists(f) })
    finally walk.close()
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    val pairs = StreamNearDup.allPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 11L)) && pairs.contains((2L, 11L)),
      "cross-batch pairs against the healed batch must appear")
    assert(java.nio.file.Files.exists(idx0.resolve("_SUCCESS")),
      "the delta must be rebuilt durably")
  }

  test("deltaSized bounds a batch-sized frame to the small-file cap " +
      "but never narrows a frame whose size estimate outgrows it") {
    val wide = spark.range(0, 1000, 1, 32).toDF("doc_id")
    // batch-sized (tiny estimate): the configured bound applies
    assert(StreamIndex.deltaSized(wide).rdd.getNumPartitions === 8)
    // corpus-sized (force via the per-task byte target): the width
    // follows bytes/target instead of collapsing the final stage to 8
    spark.conf.set(StreamIndex.DeltaTargetBytesConf, "1")
    try {
      assert(StreamIndex.deltaSized(wide).rdd.getNumPartitions === 32,
        "a frame above bound×target must keep its parallelism")
    } finally spark.conf.unset(StreamIndex.DeltaTargetBytesConf)
    // JOIN-DERIVED delta (the shape pairBatch/curateBatch actually
    // write): Spark's size-only estimator multiplies child sizes
    // across joins, so the analyzed ROOT stats of this tiny frame read
    // ~rows² bytes — the bound must key on the LEAF sum instead, or it
    // silently no-ops for exactly these writes (coalesce(4096) on a
    // 32-partition frame does nothing)
    val joined = wide.toDF("a")
      .join(spark.range(0, 1000, 1, 32).toDF("a"), Seq("a"))
    assert(joined.queryExecution.analyzed.stats.sizeInBytes >
      joined.queryExecution.analyzed.collectLeaves()
        .map(_.stats.sizeInBytes).sum,
      "fixture drift: the join no longer inflates root stats")
    assert(StreamIndex.deltaSized(joined).rdd.getNumPartitions === 8,
      "a join-derived batch-sized delta must hit the small-file bound")
  }

  test("a driver-side throw between wave submits joins the running " +
      "corpus write before it escapes; the batch stays uncommitted") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft_snd_wavethrow").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    // batch 0's index delta gone and its corpus files moved aside: the
    // trigger's index heal then fails on the driver thread AFTER the
    // corpus data write was submitted to the wave (it cannot read the
    // batch back to rebuild the delta)
    val c0 = Paths.get(s"$dir/corpus/b=0")
    val aside = Files.createTempDirectory("graft_snd_aside")
    StreamIndex.deleteTree(s"$dir/index/b=0")
    val parts = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(c0)
      try ls.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally ls.close()
    }
    parts.foreach(p => Files.move(p, aside.resolve(p.getFileName)))
    try {
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L)
      }
      assert(ex.getMessage.contains("infer schema"), ex.getMessage)
      // every event posted so far delivered: a write still running
      // when the exception escaped would still be an active job
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "the wave's corpus write outlived the throw")
      // joined, not abandoned: the write had run to completion (its
      // files in place, its staging dir gone) before the throw escaped
      val corpus = new java.io.File(s"$dir/corpus/b=1")
      assert(!new java.io.File(corpus, "_temporary").exists())
      assert(Option(corpus.list()).exists(_.exists(_.endsWith(".parquet"))),
        "the corpus write was abandoned, not joined")
    } finally parts.foreach(p =>
      Files.move(aside.resolve(p.getFileName), p))
    assert(!Files.exists(Paths.get(s"$dir/corpus/b=1/_SUCCESS")))
    assert(StreamNearDup.corpusView(spark, dir).count() === b1.size)
    // the replay commits the batch
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    assert(StreamNearDup.corpusView(spark, dir).count() ===
      (b1.size + b2.size))
  }
}
