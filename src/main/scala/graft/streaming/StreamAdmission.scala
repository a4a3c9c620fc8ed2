package graft.streaming

import graft.operators.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.{Files, Paths}

/** Streaming curation — the live-ingest form of the incremental
  * curation pipeline (x34): every micro-batch document gets an
  * ADMISSION VERDICT, exactly once, against everything that arrived
  * before it. Per trigger:
  *
  *  1. language/quality FILTER (docs failing it get no verdict row and
  *     never enter the corpus — x34's contract);
  *  2. `exact_dup` if the fingerprint was seen in any earlier trigger
  *     (the accumulated `fps/b=<id>` deltas — O(32 B/doc) map-only
  *     scan, never re-hashing a committed document) or a smaller-id
  *     batch sibling claimed it first;
  *  3. `near_dup` if the capped incremental pair listing against the
  *     accumulated posting-index deltas
  *     ([[Dedup.incrementalJaccardPairsFromIndexDeltas]] — committed
  *     docs never re-shingled or re-shuffled) pairs it with an earlier
  *     exact-survivor or a smaller-id surviving sibling;
  *  4. `kept` otherwise, with the deterministic minstd 80/20 split.
  *
  * The index accumulates EXACT-SURVIVORS' postings only (x34's rule:
  * near-dups still drop later look-alikes, exact dups are already
  * represented by their first fetch), and the fp deltas accumulate
  * every filtered doc's fingerprint. Both append per trigger under the
  * same `_SUCCESS`-committed layout as [[StreamNearDup]]: verdicts,
  * fps, and the index delta land BEFORE the corpus commit, so a
  * replayed batch (corpus `_SUCCESS` present) is a pure no-op and a
  * crash mid-write is overwritten by the deterministic replay — torn
  * output is never observable through the committed views.
  * [[compactIndex]] is the same out-of-band maintenance pass as ST8's,
  * with the curation-specific heal: a committed corpus dir missing its
  * index delta is rebuilt by REPLAYING the exact-dedup decision (fp
  * rank against earlier fps), never by re-shingling every doc —
  * re-indexing exact dups would inflate dfs in every later pairing.
  *
  * Admission is id-keyed ("first fetch wins"), so the union of
  * per-trigger verdicts equals the one-shot x34-style recompute over
  * all streamed docs iff ids are nondecreasing across triggers (the
  * crawl-frontier contract; within a trigger any order is fine).
  * Verdicts are well-defined as-of-arrival regardless. Same cap rule
  * as ST8: NoCap/Fixed only — an adaptive cap is a corpus statistic
  * that drifts per trigger, making the admission RULE an artifact of
  * arrival timing. */
object StreamAdmission {

  /** Start the AvailableNow foreachBatch query: verdicts land under
    * `baseDir/verdicts/b=<id>`, the curated corpus under
    * `baseDir/corpus/b=<id>`. */
  def verdictsStream(docs: Dataset[NdDoc], baseDir: String,
      checkpointDir: String, n: Int = 3, thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap,
      autoCompactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[NdDoc], id: Long) =>
        val committed = curateBatch(b, id, baseDir, n, thresholdPpm, dfCap)
        // same in-trigger scheduling contract as StreamNearDup
        // .pairsStream: synchronous, so the stream's own per-trigger
        // probes never race the deferred cleanup; compacts BOTH layers
        // (index + fps) — the fp-probe cost is the one that grows
        // fastest with delta count
        if (committed && autoCompactEvery > 0 &&
            (StreamIndex.liveDeltas(baseDir, "index") >= autoCompactEvery ||
             StreamIndex.liveDeltas(baseDir, "fps") >= autoCompactEvery)) {
          val _ = compactIndex(b.sparkSession, baseDir, n)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Curate one micro-batch against everything committed before it,
    * then append its fps / exact-survivor postings / docs. Returns
    * false (no effect) when `batchId` is already committed. */
  def curateBatch(batch: Dataset[NdDoc], batchId: Long, baseDir: String,
      n: Int = 3, thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap): Boolean = {
    dfCap match {
      case Dedup.DfCap.NoCap | Dedup.DfCap.Fixed(_) => ()
      case adaptive => throw new IllegalArgumentException(
        s"$adaptive: adaptive caps drift with arrival time, breaking the " +
          "exactly-once-equals-batch contract; freeze a DfCap.Fixed " +
          "from a corpus snapshot instead")
    }
    // PARAMS GATE — see StreamNearDup.pairBatch / StreamParams
    StreamParams.establish(baseDir,
      StreamParams.admission(n, thresholdPpm, dfCap))
    val s = batch.sparkSession
    if (StreamIndex.committedBatches(s"$baseDir/corpus").contains(batchId))
      false
    else {
      val filt = batch.toDF()
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
        .filter(TextAnalysis.langIdNative(col("text")) === "en" &&
          col("quality") >= 0.3)
      val wFp = Window.partitionBy("fp").orderBy("doc_id")
      // batch-sized and consumed by four sinks (verdicts, fps, index,
      // corpus) — persist for the trigger, released before returning
      val flagged = filt
        .withColumn("_rn", row_number().over(wFp))
        .join(fpView(s, baseDir).withColumn("_hit", lit(1)), Seq("fp"), "left")
        .withColumn("is_exact", col("_hit").isNotNull || col("_rn") > 1)
        .persist()
      try {
        val survivors = flagged.filter(!col("is_exact"))
          .select(col("doc_id"), col("text"))
        // The trigger's four writes land as ONE CONCURRENT WAVE
        // (StreamIndex.BatchWave — see StreamNearDup.pairBatch): only
        // the corpus `_SUCCESS`, the batch's single commit marker, is
        // order-bearing, and the driver lays it down strictly after
        // every job joined. The corpus-data job starts first (it
        // depends only on `flagged`; concurrent computation of the
        // persisted frame is block-locked, not duplicated work).
        StreamIndex.BatchWave.run(s"$baseDir/corpus/b=$batchId") { wave =>
          wave.submit(StreamIndex.writeDirNoMarker(
            StreamIndex.deltaSized(flagged.select("doc_id", "text")),
            s"$baseDir/corpus/b=$batchId"))
          wave.submit(StreamIndex.deltaSized(flagged.select("fp").distinct())
            .write.mode("overwrite").parquet(s"$baseDir/fps/b=$batchId"))
          // the survivors' posting delta is built ONCE (localCheckpoint,
          // O(batch) state, sized before the lineage cut) and serves
          // both the near-dup probe and the index append below — the
          // from-text form shingled the survivors twice per trigger
          // (same change as StreamNearDup.pairBatch; OPTIMIZATION_r16.md)
          val batchIdx = StreamIndex.batchCkpt(StreamIndex.deltaSized(
            Dedup.postingIndex(survivors, "doc_id", "text", n)))
          val nearIds = Dedup.incrementalJaccardPairsFromIndexDeltasPrebuilt(
              indexView(s, baseDir, n), batchIdx, thresholdPpm, dfCap)
            .select(col("idb").as("doc_id")).distinct()
            .withColumn("_nd", lit(1))
          val verdicts = flagged.join(nearIds, Seq("doc_id"), "left")
            .select(col("doc_id"), col("quality"),
              when(col("is_exact"), lit("exact_dup"))
                .when(col("_nd").isNotNull, lit("near_dup"))
                .otherwise(lit("kept")).as("verdict"),
              when(!col("is_exact") && col("_nd").isNull,
                when(pmod(Sampling.minstdHash(col("doc_id")), lit(10)) < 8,
                  lit("train")).otherwise(lit("eval"))).as("split"))
          wave.submit(batchIdx
            .write.mode("overwrite").parquet(s"$baseDir/index/b=$batchId"))
          wave.submit(StreamIndex.deltaSized(verdicts).write.mode("overwrite")
            .parquet(s"$baseDir/verdicts/b=$batchId"))
        }
      } finally {
        val _ = flagged.unpersist()
      }
      true
    }
  }

  /** Fingerprints of every document filtered-in by a committed batch —
    * the exact-dedup probe set: the newest committed fp snapshot (if
    * [[compactFps]] ran) plus the per-batch fp deltas beyond it
    * (32 B/doc, never re-hashing committed text). Same
    * snapshot/delta/crash rules as the posting-index layer. */
  def fpView(s: SparkSession, baseDir: String): DataFrame = {
    val dirs = StreamIndex.layerDirs(baseDir, "fps", healFps(s, baseDir, _))
    if (dirs.isEmpty) StreamIndex.emptyFrame(s, FpsSchema)
    else StreamIndex.readDirs(s, dirs, Some(FpsSchema)).distinct()
  }

  /** The `fps` layer's schema, declared so [[fpView]]'s read costs no
    * schema-inference job (StreamLayerSchemaSpec pins it against the
    * delta and compaction writers). */
  private[streaming] val FpsSchema = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("fp",
      org.apache.spark.sql.types.StringType)))

  /** The accumulated exact-survivor posting-index view (ST8's layout,
    * curation heal). */
  def indexView(s: SparkSession, baseDir: String, n: Int = 3): DataFrame = {
    StreamParams.verifyKeys(baseDir, Map("n" -> n.toString))
    StreamIndex.indexView(s, baseDir, healIndex(s, baseDir, _, n))
  }

  /** ST9's out-of-band maintenance pass: ST8's index compaction with
    * the curation heal, PLUS the fp-layer compaction — the fp deltas
    * grow one file per trigger exactly like the index deltas, and the
    * probe's file-open cost grows with stream age the same way
    * (PERF.md "ST9 fp-layer compaction"). Returns the index snapshot
    * id. */
  def compactIndex(s: SparkSession, baseDir: String, n: Int = 3):
      Option[Long] = {
    StreamParams.verifyKeys(baseDir, Map("n" -> n.toString))
    val built = StreamIndex.compactIndex(s, baseDir,
      healIndex(s, baseDir, _, n))
    val _ = compactFps(s, baseDir)
    built
  }

  /** Fold the committed fp deltas beyond the newest fp snapshot into
    * one distinct-fp snapshot `fps/c=<maxBatch>`; covered-dir cleanup
    * deferred one pass (see [[StreamIndex.compactLayer]]). A covered
    * fp delta that a heal later rebuilds (healIndex reads per-batch fp
    * dirs) is provably ignored by [[fpView]] and re-swept. */
  def compactFps(s: SparkSession, baseDir: String): Option[Long] =
    StreamIndex.compactLayer(s, baseDir, "fps", healFps(s, baseDir, _),
      _.distinct(), Some(FpsSchema))

  /** Every verdict emitted so far — the exactly-once union the spec
    * pins against the one-shot recompute. Only verdict dirs whose
    * corpus commit landed count. */
  def allVerdicts(s: SparkSession, baseDir: String): DataFrame = {
    val vs = StreamIndex.committedBatches(s"$baseDir/corpus")
      .filter(v =>
        Files.exists(Paths.get(s"$baseDir/verdicts/b=$v/_SUCCESS")))
    if (vs.isEmpty)
      StreamIndex.emptyFrame(s, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("quality",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("verdict",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("split",
          org.apache.spark.sql.types.StringType))))
    else s.read.parquet(vs.map(v => s"$baseDir/verdicts/b=$v"): _*)
  }

  /** Rebuild any missing `fps/b=<id>` delta from its committed corpus
    * dir (one md5 pass over that batch — fps are derivable per batch). */
  private def healFps(s: SparkSession, baseDir: String,
      batches: Seq[Long]): Unit =
    StreamIndex.healMissing(baseDir, "fps", batches)(v =>
      StreamIndex.readDir(s, s"$baseDir/corpus/b=$v")
        .select(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .distinct())

  /** Rebuild any missing `index/b=<id>` delta by REPLAYING the
    * exact-dedup decision for that batch: its corpus docs, fp-ranked
    * within the batch and probed against STRICTLY EARLIER batches' fps
    * — the postings of exact dups must not enter the rebuilt delta, or
    * every later pairing double-counts their shingles. (Earlier fps
    * are healed first; order ascending so a multi-batch heal is
    * self-consistent.) */
  private def healIndex(s: SparkSession, baseDir: String,
      batches: Seq[Long], n: Int): Unit =
    StreamIndex.healMissing(baseDir, "index", batches.sorted) { v =>
      val earlier = StreamIndex.committedBatches(s"$baseDir/corpus")
        .filter(_ < v)
      // "strictly earlier fps" reads through the fp SNAPSHOT when one
      // covers only batches before v (snap < v) — on a SEEDED dir the
      // alternative is rebuilding fps/b=-1 by fingerprinting the
      // whole corpus through the seed (pointer or copy): an O(corpus)
      // pass plus a redundant delta no view reads, in exactly the
      // O(metadata)-adoption scenario the seed exists for. A snapshot
      // at ≥ v would include v's own (and later) fps — wrong for the
      // replayed decision — so that case keeps the per-batch path.
      val fpSnap = StreamIndex.layerSnapshot(baseDir, "fps")
        .filter(_ < v)
      val live = earlier.filter(b => fpSnap.forall(b > _))
      healFps(s, baseDir, live)
      val dirs = fpSnap.map(m => s"$baseDir/fps/c=$m").toSeq ++
        live.map(b => s"$baseDir/fps/b=$b")
      val earlierFps =
        if (dirs.isEmpty) StreamIndex.emptyFrame(s, FpsSchema)
        else StreamIndex.readDirs(s, dirs, Some(FpsSchema)).distinct()
      val docs = StreamIndex.readDir(s, s"$baseDir/corpus/b=$v")
        .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
      val wFp = Window.partitionBy("fp").orderBy("doc_id")
      val survivors = docs
        .withColumn("_rn", row_number().over(wFp))
        .join(earlierFps.withColumn("_hit", lit(1)), Seq("fp"), "left")
        .filter(col("_hit").isNull && col("_rn") === 1)
        .select(col("doc_id"), col("text"))
      Dedup.postingIndex(survivors, "doc_id", "text", n)
    }
}
