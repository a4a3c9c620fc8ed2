package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import java.nio.file.{Files, Paths}

/** One streamed (re-)embedded vector. Top-level on purpose (nested
  * case classes break the codegen'd encoder serializer — CLAUDE.md).
  * Embeddings ride as DOUBLES: the exact rerank quantizes to
  * DECIMAL(9,6) from double (bit-equal to the relational decimal
  * oracle path), while the bucket hash casts to float internally —
  * bucketing is recall-only, so its precision never touches a score. */
case class EmbDoc(vec_id: Long, embedding: Array[Double])

/** ST12 — streaming near-dup on the VECTOR modality: the live-ingest
  * twin of the incremental embedding recurrence (x36 /
  * [[Similarity.incrementalLshCandidates]]), completing the streaming
  * admission family across all three dedup modalities (exact-fp ST9,
  * shingle ST8/ST10, vectors here). Each micro-batch of re-embedded
  * vectors is candidate-paired against the ACCUMULATED hyperplane
  * bucket deltas — the corpus is never re-hashed or self-joined; the
  * per-trigger compute is the batch's own bucket pass, one equi join
  * against the bucket layers, and the exact quantized-decimal rerank
  * on candidates only — then appended. Rides ST8's commit layout
  * verbatim:
  *
  *  - `pairs/b=<id>` then `ebkt/b=<id>` (the batch's radius-1-probed
  *    buckets) land BEFORE the `corpus/b=<id>` dir whose `_SUCCESS`
  *    is the batch's single commit marker — a replayed batch is a
  *    no-op, a torn write is overwritten by the deterministic replay,
  *    and committed views never see torn output;
  *  - the ebkt layer compacts like the index/fps layers
  *    ([[StreamIndex.compactLayer]]: `c=<max>` snapshots, deferred
  *    one-pass cleanup; the merge is a row union — bucket rows are
  *    per-vector append-only, the pinned `append ≡ rebuild` identity);
  *  - a committed batch MISSING its ebkt delta (pre-ST12 dirs) heals
  *    by re-bucketing that batch's corpus dir — the hyperplanes are
  *    deterministic in (dim, nPlanes), corpus-independent.
  *
  * Exactly-once: candidate orientation keys the batch side as the
  * LARGER id (`incrementalLshCandidates`'s contract), so with every
  * batch's ids STRICTLY ABOVE all earlier ids (the re-embed frontier
  * contract — disjoint, not merely nondecreasing: a re-submitted id
  * would re-pair; the candidate join's `ida < idb` guard drops the
  * self-pair but the contract is the caller's) every qualifying pair
  * of the full union is emitted
  * exactly once — when its later side arrives — and the union of
  * per-trigger outputs equals the batch recompute over every vector
  * ever streamed (StreamEmbedSpec pins it; the candidate stage's
  * recall argument is x6b's: cos ≥ threshold pairs are near-parallel,
  * so radius-1 bucket agreement is a true superset on every fixture
  * the exact cartesian is checked against). Parameters (dim, nPlanes,
  * cosThresholdPpm) are recorded/enforced via [[StreamParams]]. */
object StreamEmbed {

  /** Start the AvailableNow foreachBatch query — ST8's shape; the
    * same in-trigger compaction scheduling contract
    * ([[StreamNearDup.pairsStream]]'s threshold guidance applies). */
  def pairsStream(vecs: Dataset[EmbDoc], baseDir: String,
      checkpointDir: String, dim: Int = 64, nPlanes: Int = 12,
      cosThresholdPpm: Long = 990000L,
      autoCompactEvery: Int = 0): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[EmbDoc], id: Long) =>
        val committed = pairBatch(b, id, baseDir, dim, nPlanes,
          cosThresholdPpm)
        if (committed && autoCompactEvery > 0 &&
            StreamIndex.liveDeltas(baseDir, "ebkt") >= autoCompactEvery) {
          val _ = compactBuckets(b.sparkSession, baseDir, dim, nPlanes)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Pair one micro-batch against the accumulated bucket deltas, then
    * append it. Returns false (no effect) when `batchId` is already
    * committed — the replayed-batch case. */
  def pairBatch(batch: Dataset[EmbDoc], batchId: Long, baseDir: String,
      dim: Int = 64, nPlanes: Int = 12,
      cosThresholdPpm: Long = 990000L): Boolean = {
    // PARAMS GATE — see StreamNearDup.pairBatch / StreamParams
    StreamParams.establish(baseDir,
      StreamParams.embed(dim, nPlanes, cosThresholdPpm))
    val s = batch.sparkSession
    if (StreamIndex.committedBatches(s"$baseDir/corpus").contains(batchId))
      false
    else {
      val bdf = batch.toDF()
      val floatB = bdf.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      // The trigger's three writes land as ONE CONCURRENT WAVE
      // (StreamIndex.BatchWave — see StreamNearDup.pairBatch): only
      // the corpus `_SUCCESS`, the batch's single commit marker, is
      // order-bearing, and the driver lays it down strictly after
      // every job joined. The corpus-data job starts first — it
      // depends on nothing the trigger computes.
      StreamIndex.BatchWave.run(s"$baseDir/corpus/b=$batchId") { wave =>
        wave.submit(StreamIndex.writeDirNoMarker(
          StreamIndex.deltaSized(bdf.select("vec_id", "embedding")),
          s"$baseDir/corpus/b=$batchId"))
        // The batch hashes against the hyperplanes ONCE (localCheckpoint
        // — O(batch) state, sized before the lineage cut): raw buckets,
        // the radius-1 probe (a map-only explode of raw), and the ebkt
        // delta below all derive from this frame. The from-vectors form
        // hashed the batch three times per trigger (candXC's raw,
        // candII's probed, the ebkt write's probed).
        val rawB = StreamIndex.batchCkpt(StreamIndex.deltaSized(
          Similarity.rawBuckets(floatB, "vec_id", "embedding", dim, nPlanes)))
        val probedB = Similarity.probedFromRaw(rawB, nPlanes)
        // candidates: batch raw buckets vs the accumulated PROBED layers
        // (batch×corpus) + the batch's own probed self-join — the corpus
        // bucket rows are never self-joined, never re-hashed
        val cand = Similarity.incrementalLshCandidatesPrebuilt(
          bucketsView(s, baseDir, dim, nPlanes), rawB, nPlanes)
        // exact DECIMAL(9,6) rerank on candidates only — x36's scoring,
        // so the emitted pairs are oracle-exact (the threshold is stated
        // in ppm like every other gate; /1e6 reproduces the double)
        val pairs = graft.ExtensionQueries.scaledCosOnPairs(
            corpusView(s, baseDir).unionByName(bdf), cand, "ida", "idb", dim)
          .filter(col("cos") >= cosThresholdPpm / 1e6)
        // probedB inherits the checkpoint's already-bounded partitioning
        // (deltaSized's leaf stats are gone after the lineage cut)
        wave.submit(probedB
          .write.mode("overwrite").parquet(s"$baseDir/ebkt/b=$batchId"))
        wave.submit(StreamIndex.deltaSized(pairs)
          .write.mode("overwrite").parquet(s"$baseDir/pairs/b=$batchId"))
      }
      true
    }
  }

  /** The accumulated probed-bucket view: newest committed `ebkt/c=`
    * snapshot plus every committed delta beyond it (healing missing
    * deltas first) — the corpusProbed side of
    * [[Similarity.incrementalLshCandidates]]. */
  def bucketsView(s: SparkSession, baseDir: String, dim: Int = 64,
      nPlanes: Int = 12): DataFrame = {
    StreamParams.verifyKeys(baseDir,
      Map("dim" -> dim.toString, "nPlanes" -> nPlanes.toString))
    val dirs = StreamIndex.layerDirs(baseDir, "ebkt",
      healBuckets(s, baseDir, _, dim, nPlanes))
    if (dirs.isEmpty) StreamIndex.emptyFrame(s, BucketsSchema)
    else StreamIndex.readDirs(s, dirs, Some(BucketsSchema))
      .select("_id", "_bucket")
  }

  /** The `ebkt` layer's schema, declared so [[bucketsView]]'s read
    * costs no schema-inference job (StreamLayerSchemaSpec pins it
    * against the delta and compaction writers). */
  private[streaming] val BucketsSchema = StructType(Seq(
    StructField("_id", LongType), StructField("_bucket", LongType)))

  /** Maintenance pass for the ebkt layer — fold snapshot + committed
    * deltas into one `ebkt/c=<maxBatch>` snapshot; deferred one-pass
    * cleanup ([[StreamIndex.compactLayer]]'s rules). The merge is a
    * plain distinct union: bucket rows are per-vector append-only
    * (ids disjoint across batches), so union ≡ rebuild. */
  def compactBuckets(s: SparkSession, baseDir: String, dim: Int = 64,
      nPlanes: Int = 12): Option[Long] = {
    StreamParams.verifyKeys(baseDir,
      Map("dim" -> dim.toString, "nPlanes" -> nPlanes.toString))
    StreamIndex.compactLayer(s, baseDir, "ebkt",
      healBuckets(s, baseDir, _, dim, nPlanes), _.distinct(),
      Some(BucketsSchema))
  }

  /** Rebuild any missing `ebkt/b=<id>` delta from its committed
    * corpus dir — one bucket pass over that batch (hyperplanes are
    * corpus-independent, so the rebuild is exact). */
  private def healBuckets(s: SparkSession, baseDir: String,
      batches: Seq[Long], dim: Int, nPlanes: Int): Unit =
    StreamIndex.healMissing(baseDir, "ebkt", batches)(v =>
      Similarity.probedBuckets(
        StreamIndex.readDir(s, s"$baseDir/corpus/b=$v")
          .select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")),
        "vec_id", "embedding", dim, nPlanes))

  /** All vectors streamed so far (committed batches only). */
  def corpusView(s: SparkSession, baseDir: String): DataFrame = {
    val vs = StreamIndex.committedBatches(s"$baseDir/corpus")
    if (vs.isEmpty)
      StreamIndex.emptyFrame(s, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    else StreamIndex.readDirs(s, vs.map(v => s"$baseDir/corpus/b=$v"))
      .select("vec_id", "embedding")
  }

  /** Every pair emitted so far — the exactly-once union the spec pins
    * against the batch recompute. Only pairs dirs whose corpus commit
    * landed count. */
  def allPairs(s: SparkSession, baseDir: String): DataFrame = {
    val vs = StreamIndex.committedBatches(s"$baseDir/corpus")
      .filter(v => Files.exists(Paths.get(s"$baseDir/pairs/b=$v/_SUCCESS")))
    if (vs.isEmpty)
      StreamIndex.emptyFrame(s, StructType(Seq(
        StructField("ida", LongType), StructField("idb", LongType),
        StructField("cos", DoubleType))))
    else s.read.parquet(vs.map(v => s"$baseDir/pairs/b=$v"): _*)
  }
}
