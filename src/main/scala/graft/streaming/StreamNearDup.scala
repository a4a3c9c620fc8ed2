package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.{Files, Paths}

/** One streamed document. Top-level on purpose: nested case classes
  * break the codegen'd encoder serializer (see CLAUDE.md). */
case class NdDoc(doc_id: Long, text: String)

/** Streaming near-dup — the live-ingest form of the incremental
  * near-dup recurrence ([[Dedup.incrementalJaccardPairsPpm]], x32):
  * each micro-batch is paired against everything that arrived before
  * it, then appended to the durable corpus. Because the incremental
  * listing emits exactly the pairs touching the batch (batch×corpus +
  * batch-internal), across the stream EVERY near-dup pair of the full
  * corpus is emitted EXACTLY ONCE — when its later side arrives — and
  * the union of the per-batch outputs equals the batch recompute over
  * all documents ever streamed (StreamNearDupSpec pins this identity
  * across triggers, plus replay idempotence).
  *
  * Durability follows [[StreamUpsert]]'s transactional-commit playbook
  * with one scale-critical difference: the corpus AND its posting
  * index are APPEND-ONLY (per-batch `b=<batchId>` dirs), never
  * rewritten — and pairing runs against the accumulated index deltas
  * ([[Dedup.incrementalJaccardPairsFromIndexDeltas]]), so the
  * per-trigger cost is the batch's own shingle pass, a map-only scan
  * of the index deltas, an O(touched-postings) merge, and an O(batch)
  * write: committed documents are never re-shingled or re-shuffled,
  * on the compute side OR the write side. Crash safety on
  * foreachBatch's at-least-once contract:
  *  - the pairs, index-delta and corpus-data writes run as ONE
  *    CONCURRENT WAVE ([[StreamIndex.BatchWave]]); the only
  *    order-bearing file — the corpus `_SUCCESS`, the batch's single
  *    commit marker — is laid down by the driver strictly AFTER every
  *    write job joined, so a replayed batch whose corpus dir is
  *    already committed (`_SUCCESS` present) is a pure no-op — its
  *    pairs and delta are necessarily complete;
  *  - a crash before the corpus commit marker replays the batch
  *    against the unchanged committed view and OVERWRITES the
  *    (deterministic) pairs, index-delta and corpus dirs, clearing
  *    any torn write.
  * Readers ([[allPairs]]/[[corpusView]]) only see committed dirs, so
  * torn output is never observable.
  *
  * Caps and the identity contract: the exactly-once-equals-batch
  * identity above holds for [[Dedup.DfCap.NoCap]], where a pair's
  * co-shingle count is arrival-order-invariant. UNDER a cap any
  * incremental listing is inherently as-of-arrival — dfs only grow, so
  * a pair emitted early may count co-shingles a later full recompute
  * would cap away (and a live system cannot retract emissions).
  * [[Dedup.DfCap.Fixed]] is therefore allowed as the cost-bound
  * deployment knob (the cap RULE is a stable parameter; only the df
  * values evolve, which is intrinsic to incremental dedup), while the
  * adaptive forms are rejected outright: their cap is itself a corpus
  * statistic that drifts per trigger, so even the RULE a pair was
  * admitted under becomes an artifact of arrival timing. */
object StreamNearDup {

  /** Start the AvailableNow foreachBatch query: pairs land under
    * `baseDir/pairs/b=<id>`, the corpus under `baseDir/corpus/b=<id>`.
    *
    * `autoCompactEvery` > 0 schedules [[compactIndex]] INSIDE the
    * trigger whenever the uncompacted delta count reaches it — the
    * probe cost grows with that count, and the compaction amortizes in
    * ~1.4 triggers (PERF.md round 11). Running synchronously inside
    * foreachBatch means every trigger plans its delta scan strictly
    * after the previous trigger's compaction committed, so the
    * stream's OWN reads can never race the deferred-one-pass cleanup;
    * the documented external-reader caveat (strictly less often than
    * twice per longest reader) is unchanged, and a threshold ≥ 2
    * keeps passes at most every other trigger. 0 = off (out-of-band
    * maintenance only).
    *
    * CHOOSING THE THRESHOLD: deltas accrue one per trigger, so
    * consecutive passes are ≥ `autoCompactEvery` triggers apart, and
    * deferred cleanup means a file a reader planned against is deleted
    * no sooner than the SECOND pass after that plan — an external
    * reader is therefore safe iff it finishes within
    * `autoCompactEvery × trigger-interval` of planning its scan. Any
    * reader that overlaps only ONE pass is safe at ANY threshold
    * (spec-pinned below), which is why the aggressive floor (1-2) is
    * merely a probe-latency/compaction-cost trade, not a correctness
    * cliff. Default guidance: 8 — probe cost grows linearly in live
    * deltas and a pass amortizes in ~1.4 triggers (PERF.md round 11),
    * so single-digit thresholds capture nearly all of the win while
    * giving external readers 8 trigger intervals to finish. */
  def pairsStream(docs: Dataset[NdDoc], baseDir: String,
      checkpointDir: String, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap,
      autoCompactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[NdDoc], id: Long) =>
        val committed = pairBatch(b, id, baseDir, n, thresholdPpm, dfCap)
        if (committed && autoCompactEvery > 0 &&
            StreamIndex.liveDeltas(baseDir, "index") >= autoCompactEvery) {
          val _ = compactIndex(b.sparkSession, baseDir, n)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Pair one micro-batch against the committed corpus, then append it.
    * Returns false (no effect) when `batchId` is already committed —
    * the replayed-batch case. Only caps whose RULE is time-invariant
    * are legal (NoCap/Fixed — see the object doc for the as-of-arrival
    * semantics any cap implies here). */
  def pairBatch(batch: Dataset[NdDoc], batchId: Long, baseDir: String,
      n: Int, thresholdPpm: Long,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap): Boolean = {
    dfCap match {
      case Dedup.DfCap.NoCap | Dedup.DfCap.Fixed(_) => ()
      case adaptive => throw new IllegalArgumentException(
        s"$adaptive: adaptive caps drift with arrival time, breaking the " +
          "exactly-once-equals-batch contract; freeze a DfCap.Fixed " +
          "from a corpus snapshot instead")
    }
    // PARAMS GATE: trigger 0 (or the seed) recorded the dir's
    // parameterization; a trigger running different parameters would
    // compose non-matching layers (an n=4 delta matches no n=3 probe)
    // into silently wrong verdicts — throw instead (StreamParams doc).
    StreamParams.establish(baseDir,
      StreamParams.neardup(n, thresholdPpm, dfCap))
    val s = batch.sparkSession
    if (committedBatches(s"$baseDir/corpus").contains(batchId)) false
    else {
      // Pair against the accumulated per-batch posting-index DELTAS,
      // not the raw corpus: the committed docs are never re-shingled
      // or re-shuffled — the per-trigger compute is the batch's own
      // shingle pass, a map-only delta scan (only batch-touched
      // shingles survive the join), and an O(touched-postings) merge.
      // Semantically identical to pairing against corpusView
      // (IncrementalIndexSpec pins from-deltas ≡ from-scratch), which
      // is what keeps the exactly-once-equals-batch contract intact.
      //
      // The batch's posting delta is built ONCE (localCheckpoint —
      // O(batch) state, sized BEFORE the checkpoint so the delta
      // write's file bound survives the lineage cut) and serves BOTH
      // the pair probe and the index append: the from-text form
      // shingled the batch twice per trigger (once inside the pair
      // listing, once for the delta write) — one full batch
      // shingle+shuffle saved per trigger at every scale, and ~0.5 s
      // of the three stage chains at bench SF (OPTIMIZATION_r16.md).
      //
      // The trigger's three writes land as ONE CONCURRENT WAVE
      // (StreamIndex.BatchWave): the corpus DATA job — depending on
      // nothing the trigger computes — overlaps the batch checkpoint
      // and both derived writes, and only the corpus `_SUCCESS` (the
      // batch's single commit marker, which every committed view
      // gates on) is laid down by the driver strictly last. Crash
      // story unchanged: no marker ⇒ batch invisible, deterministic
      // replay overwrites every dir; marker ⇒ pairs and delta are
      // necessarily complete.
      StreamIndex.BatchWave.run(s"$baseDir/corpus/b=$batchId") { wave =>
        wave.submit(StreamIndex.writeDirNoMarker(
          StreamIndex.deltaSized(batch.toDF()), s"$baseDir/corpus/b=$batchId"))
        val batchIdx = StreamIndex.batchCkpt(StreamIndex.deltaSized(
          Dedup.postingIndex(batch.toDF(), "doc_id", "text", n)))
        val pairs = Dedup.incrementalJaccardPairsFromIndexDeltasPrebuilt(
          indexView(s, baseDir, n), batchIdx, thresholdPpm, dfCap)
        wave.submit(batchIdx
          .write.mode("overwrite").parquet(s"$baseDir/index/b=$batchId"))
        wave.submit(StreamIndex.deltaSized(pairs)
          .write.mode("overwrite").parquet(s"$baseDir/pairs/b=$batchId"))
      }
      true
    }
  }

  /** The posting-index view: the newest committed COMPACT snapshot
    * (`index/c=<maxBatch>`, if one exists) plus every committed
    * batch's `index/b=<id>` delta NOT covered by it, unioned —
    * multiple rows per shingle, which
    * [[Dedup.incrementalJaccardPairsFromIndexDeltas]] merges per
    * touched shingle. Committed = the CORPUS dir's `_SUCCESS` for
    * deltas (the single commit marker, so a torn delta is never read)
    * and the snapshot dir's own `_SUCCESS` for compactions (a torn
    * compaction is invisible; its covered deltas still serve).
    * Covered deltas that survived a crash between a compaction's
    * commit and its cleanup are provably redundant and ignored here.
    * A corpus-committed batch MISSING its delta (a directory written
    * by a pre-index deployment of this pipeline) is self-healed by
    * rebuilding the delta from the committed docs — dropping it
    * silently would lose that batch's postings from every later
    * pairing. */
  def indexView(s: SparkSession, baseDir: String, n: Int = 3): DataFrame = {
    // the heal re-shingles at n — under the wrong width it would
    // rebuild a delta no probe matches
    StreamParams.verifyKeys(baseDir, Map("n" -> n.toString))
    StreamIndex.indexView(s, baseDir, healDeltas(s, baseDir, _, n))
  }

  /** Maintenance pass bounding the append-only index's growth in
    * FILES and per-shingle ROWS: fold the previous compact snapshot
    * (if any) and every committed delta beyond it into ONE
    * one-row-per-shingle snapshot `index/c=<maxCommittedBatch>`
    * ([[Dedup.mergePostingDeltas]] — pinned ≡ `postingIndex` of the
    * union corpus, so pairing through the snapshot is unchanged);
    * covered dirs are deleted ONE PASS LATER (see
    * [[StreamIndex.compactIndex]] — a reader that planned its scan
    * against the pre-pass listing keeps its files; one further
    * maintenance pass per reader lifetime is the safe cadence).
    * Without compaction, T triggers leave T delta files and up to T
    * rows per hot shingle — the per-trigger merge stays O(touched
    * postings) but its constant and the scan's file-open cost grow
    * with stream age.
    *
    * Runs OUT-OF-BAND of the stream (a deployment's periodic
    * maintenance job), not per trigger: it reads the full index once
    * — O(corpus postings), vs the per-trigger O(batch) appends —
    * though it never re-shingles a document. Crash-safe against the
    * same reader rules as the write path: the snapshot's `_SUCCESS`
    * is the commit point (a torn snapshot is ignored and the covered
    * deltas still serve); a crash after commit but before the
    * deferred cleanup leaves covered dirs that [[indexView]] provably
    * ignores, and any later pass — including a no-op one — retries
    * the delete. Returns the new snapshot's batch id, or None when no
    * committed delta extends the current snapshot. */
  def compactIndex(s: SparkSession, baseDir: String, n: Int = 3):
      Option[Long] = {
    StreamParams.verifyKeys(baseDir, Map("n" -> n.toString))
    StreamIndex.compactIndex(s, baseDir, healDeltas(s, baseDir, _, n))
  }

  /** Rebuild any missing `index/b=<id>` delta among `batches` from
    * its committed corpus dir (the pre-index-deployment heal). */
  private def healDeltas(s: SparkSession, baseDir: String,
      batches: Seq[Long], n: Int): Unit =
    StreamIndex.healMissing(baseDir, "index", batches)(v =>
      Dedup.postingIndex(StreamIndex.readDir(s, s"$baseDir/corpus/b=$v"),
        "doc_id", "text", n))



  /** All documents streamed so far (committed batches only; a by-ref
    * seed's corpus batch resolves through its table pointer). */
  def corpusView(s: SparkSession, baseDir: String): Dataset[NdDoc] = {
    val vs = committedBatches(s"$baseDir/corpus")
    if (vs.isEmpty) s.emptyDataset(Encoders.product[NdDoc])
    else StreamIndex.readDirs(s, vs.map(v => s"$baseDir/corpus/b=$v"))
      .select("doc_id", "text")
      .as(Encoders.product[NdDoc])
  }

  /** Every pair emitted so far — the exactly-once union the spec pins
    * against the full batch recompute. Only pairs dirs whose CORPUS
    * commit landed count (an uncommitted batch may hold a torn or
    * about-to-be-overwritten pairs dir). */
  def allPairs(s: SparkSession, baseDir: String): DataFrame = {
    val vs = committedBatches(s"$baseDir/corpus")
      .filter(v => Files.exists(Paths.get(s"$baseDir/pairs/b=$v/_SUCCESS")))
    if (vs.isEmpty) StreamIndex.emptyFrame(s, PairsSchema)
    else s.read.schema(PairsSchema)
      .parquet(vs.map(v => s"$baseDir/pairs/b=$v"): _*)
  }

  /** The pairs layer's schema — [[pairBatch]]'s writer shape, declared
    * so a read costs no schema-inference job (StreamLayerSchemaSpec
    * pins it against the files). */
  val PairsSchema: StructType = StructType(Seq(
    StructField("ida", LongType),
    StructField("idb", LongType),
    StructField("jaccard_ppm", LongType)))

  /** Batch ids under `dir` whose write completed (`_SUCCESS`). */
  private def committedBatches(dir: String): Seq[Long] =
    StreamIndex.committedBatches(dir)
}
