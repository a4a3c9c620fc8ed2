package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bootstrap the streaming layers from DURABLE SNAPSHOT ARTIFACTS —
  * the adoption path for a deployment with an EXISTING curated corpus.
  *
  * Without seeding, entering ST8/ST9/ST10 means replaying the whole
  * corpus through trigger 0, whose batch-internal pairing IS the full
  * corpus pair listing (Σ df² of shingle work) — at 100 TB that is the
  * entire snapshot job paid a second time, for content the nightly
  * artifacts (posting index, fingerprint set, cluster map) already
  * hold. Seeding materializes those artifacts AS the stream's
  * snapshot layers instead:
  *
  *  - `index/c=<seed>`  ← the canonical posting index (exactly what
  *    [[StreamIndex.compactIndex]] would have produced: the pinned
  *    `mergePostingDeltas ≡ postingIndex` identity makes the streamed
  *    and seeded layers content-identical);
  *  - `cmap/c=<seed>`   ← the cluster map (fold ≡ rebuild makes the
  *    per-trigger folds compose on top of it exactly as they would on
  *    a streamed-from-scratch snapshot);
  *  - `fps/c=<seed>`    ← the fingerprint set (ST9's exact-dup probe);
  *  - `corpus/b=<seed>` ← the corpus docs — written LAST, because the
  *    corpus `_SUCCESS` is the seed's commit marker (ST8's own
  *    discipline: everything derived lands before the commit that
  *    makes it visible; a torn seed is invisible and a re-run
  *    overwrites it).
  *
  * The seed batch id is [[StreamBootstrap.SeedBatch]] (−1): strictly
  * below every checkpoint batch id the stream will generate, so the
  * stream's own batch 0 can never collide with it, while the
  * `c=<seed>` snapshots cover it the way any compaction snapshot
  * covers its batches — live deltas are `batch > snapshot`, heals
  * never fire for the seed, and the first real maintenance pass
  * retires the seed layers under the normal deferred-cleanup rules.
  *
  * Every write is a map-only copy of the provided frame (no shuffle,
  * no shingling): bootstrap costs O(artifact bytes), not O(corpus
  * pairing). The caller must hand frames derived with the SAME
  * parameters the stream will run (n-gram width, threshold, cap) —
  * the layers compose with later triggers under those semantics. The
  * seed RECORDS that parameterization in the dir's `_params` marker
  * ([[StreamParams]]), every later trigger verifies against it, and
  * the table-reading conveniences check it against the durable
  * tables' own recorded build params — the contract is enforced, not
  * documentation.
  *
  * Seeding is a ONE-TIME setup step run before the stream starts,
  * never concurrently with it: a dir with committed batches or
  * snapshots refuses the seed (re-running after a torn seed is fine —
  * the torn layers carry no commit marker and are overwritten). */
object StreamBootstrap {

  /** The reserved seed batch id — below any checkpoint batch id. */
  val SeedBatch: Long = -1L

  /** Seed ST8/ST10 (near-dup + cluster maintenance) layers: posting
    * index, optional cluster map, corpus. See the object doc for the
    * layout and crash rules. `params` is the parameterization the
    * stream will run ([[StreamParams.neardup]]) — recorded as the
    * dir's `_params` marker so every later trigger verifies against
    * it; the frames must be derived under exactly these parameters
    * (the table-reading conveniences verify that against the tables'
    * own recorded build params). Writes go through the frames' own
    * sessions — there is deliberately no session parameter here. */
  def seedNearDup(baseDir: String, corpus: DataFrame,
      index: DataFrame, cmap: Option[DataFrame],
      params: Map[String, String]): Unit = {
    prepareSeed(baseDir, params)
    // the seed's copies run as one concurrent wave (the trigger-write
    // discipline, StreamIndex.BatchWave): only the corpus `_SUCCESS`
    // — the seed's commit marker — is order-bearing, laid down by the
    // driver strictly after every copy joined
    commitCorpus(baseDir, corpus) { wave =>
      wave.submit(index.select("_sh", "_lst").write.mode("overwrite")
        .parquet(s"$baseDir/index/c=$SeedBatch"))
      cmap.foreach(c => wave.submit(
        c.select("doc_id", "cluster_id").write.mode("overwrite")
          .parquet(s"$baseDir/cmap/c=$SeedBatch")))
    }
  }

  /** Seed ST9 (streaming curation) layers: the exact-survivor posting
    * index, the fingerprint set of every admitted document, and the
    * curated corpus. Same params contract as [[seedNearDup]]
    * ([[StreamParams.admission]]). */
  def seedAdmission(baseDir: String, corpus: DataFrame,
      index: DataFrame, fps: DataFrame,
      params: Map[String, String]): Unit = {
    prepareSeed(baseDir, params)
    commitCorpus(baseDir, corpus) { wave =>
      wave.submit(index.select("_sh", "_lst").write.mode("overwrite")
        .parquet(s"$baseDir/index/c=$SeedBatch"))
      wave.submit(fps.select("fp").write.mode("overwrite")
        .parquet(s"$baseDir/fps/c=$SeedBatch"))
    }
  }

  /** BY-REFERENCE ST8/ST10 seed: the snapshot layers land as POINTER
    * dirs resolving to the durable catalog tables instead of physical
    * copies ([[StreamIndex.readDir]]) — adoption costs O(metadata)
    * (a handful of marker files) where the physical seed pays an
    * artifact-sized rewrite, which at 100 TB is itself corpus-scale.
    * The pointer freezes the tables' fold state at seed time: a fold
    * or rebase of a source table BEFORE the stream's first compaction
    * (which materializes the stream's own snapshot and retires the
    * pointers) fails reads loudly rather than composing rows the
    * stream never paired against. Same commit discipline: the corpus
    * pointer lands LAST, its `_SUCCESS` is the seed's commit marker.
    * Callers must hand tables readable by the kind-appropriate
    * commit-safe read — use `ExtensionQueries.seedStreamFromTablesByRef`,
    * which also verifies recorded build params. */
  def seedNearDupByRef(s: SparkSession, baseDir: String,
      corpusTable: String, indexTable: String, cmapTable: Option[String],
      params: Map[String, String]): Unit = {
    prepareSeed(baseDir, params)
    StreamIndex.writePointer(s, s"$baseDir/index/c=$SeedBatch",
      indexTable, "epoch")
    cmapTable.foreach(t => StreamIndex.writePointer(s,
      s"$baseDir/cmap/c=$SeedBatch", t, "cmap"))
    StreamIndex.writePointer(s, s"$baseDir/corpus/b=$SeedBatch",
      corpusTable, "epoch")
  }

  /** Seed ST12 (streaming vector admission) layers: the
    * radius-1-probed bucket table and the vector corpus —
    * [[StreamParams.embed]] params. The bucket frame must expose
    * (_id, _bucket) (the probed artifact layout), the corpus
    * (vec_id, embedding) with DOUBLE elements (ST12's exact-rerank
    * contract). */
  def seedEmbed(baseDir: String, corpus: DataFrame, buckets: DataFrame,
      params: Map[String, String]): Unit = {
    prepareSeed(baseDir, params)
    StreamIndex.BatchWave.run(s"$baseDir/corpus/b=$SeedBatch") { wave =>
      wave.submit(buckets.select("_id", "_bucket").write.mode("overwrite")
        .parquet(s"$baseDir/ebkt/c=$SeedBatch"))
      wave.submit(StreamIndex.writeDirNoMarker(
        corpus.select("vec_id", "embedding"),
        s"$baseDir/corpus/b=$SeedBatch"))
    }
  }

  /** The ST12 by-ref twin of [[seedNearDupByRef]]: ebkt and corpus as
    * pointers to the durable tables (the emb-bucket artifact family). */
  def seedEmbedByRef(s: SparkSession, baseDir: String,
      corpusTable: String, bucketTable: String,
      params: Map[String, String]): Unit = {
    prepareSeed(baseDir, params)
    StreamIndex.writePointer(s, s"$baseDir/ebkt/c=$SeedBatch",
      bucketTable, "epoch")
    StreamIndex.writePointer(s, s"$baseDir/corpus/b=$SeedBatch",
      corpusTable, "epoch")
  }

  /** The ST9 by-ref twin of [[seedNearDupByRef]]. */
  def seedAdmissionByRef(s: SparkSession, baseDir: String,
      corpusTable: String, indexTable: String, fpTable: String,
      params: Map[String, String]): Unit = {
    prepareSeed(baseDir, params)
    StreamIndex.writePointer(s, s"$baseDir/index/c=$SeedBatch",
      indexTable, "epoch")
    StreamIndex.writePointer(s, s"$baseDir/fps/c=$SeedBatch",
      fpTable, "epoch")
    StreamIndex.writePointer(s, s"$baseDir/corpus/b=$SeedBatch",
      corpusTable, "epoch")
  }

  /** The corpus `_SUCCESS` IS the seed's commit: `layers` submits
    * the snapshot copies, the DATA copy joins the same wave (marker
    * suppressed), and the marker lands strictly after every copy —
    * what makes the whole seed visible to every reader
    * (committedBatches-driven views never look past it). NOT routed
    * through [[StreamIndex.deltaSized]]'s small-file bound — the seed
    * is corpus-sized by definition and keeps the frame's own
    * parallelism. */
  private def commitCorpus(baseDir: String, corpus: DataFrame)(
      layers: StreamIndex.BatchWave => Unit): Unit =
    StreamIndex.BatchWave.run(s"$baseDir/corpus/b=$SeedBatch") { wave =>
      layers(wave)
      wave.submit(StreamIndex.writeDirNoMarker(
        corpus.select("doc_id", "text"), s"$baseDir/corpus/b=$SeedBatch"))
    }

  /** Every layer any seed variant can write — a re-seed must account
    * for ALL of them, not just its own, or a torn prior seed's
    * other-layer snapshot silently survives into the new stream. */
  private val SeedableLayers = Seq("index", "cmap", "fps", "ebkt")

  private def prepareSeed(baseDir: String,
      params: Map[String, String]): Unit = {
    require(StreamIndex.committedBatches(s"$baseDir/corpus").isEmpty,
      s"seed: $baseDir already has committed stream batches — " +
        "bootstrap is a one-time setup before the stream starts, " +
        "never a live-dir operation")
    // the seed DEFINES the dir's parameterization (nothing committed
    // yet, so a torn prior attempt's marker is freely overwritten);
    // every later trigger verifies against this marker
    StreamParams.establish(baseDir, params)
    SeedableLayers.foreach { l =>
      // a snapshot ABOVE the seed id means real compactions ran here;
      // a c=<seed> snapshot with no committed corpus is a TORN seed
      // (crash before the corpus commit) and the re-run overwrites it
      require(StreamIndex.layerSnapshot(baseDir, l).forall(_ <= SeedBatch),
        s"seed: $baseDir already has a committed $l snapshot — " +
          "this dir was compacted before; point the seed at a fresh dir")
      // sweep EVERY layer's torn seed snapshot, including layers THIS
      // seed call won't rewrite: a crashed seedNearDup-with-cmap
      // followed by a re-seed WITHOUT cmap must not leave the stale
      // cmap/c=<seed> to be served against the new corpus
      StreamIndex.deleteTree(s"$baseDir/$l/c=$SeedBatch")
    }
  }
}
