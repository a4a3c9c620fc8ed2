package graft.streaming

import graft.operators.{Dedup, LocalGate}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import java.nio.file.{Files, Paths}

/** Streaming cluster-map maintenance — the live-ingest twin of x39
  * (ST10): every micro-batch's near-dup pairs FOLD into the cluster
  * map per trigger, so x17/x29-style consumers (canonical pick,
  * leakage split) read a map that is current as of the last trigger
  * instead of a stale nightly snapshot. Rides [[StreamNearDup]]'s
  * commit layout: the batch's pairs land first ([[StreamNearDup
  * .pairBatch]] — pairs, index delta, then the corpus `_SUCCESS` that
  * IS the batch's commit marker), and the cluster layer derives from
  * the committed pairs, one `cmap/b=<id>` delta per batch:
  *
  *  - each delta holds the fold of that batch's pairs against the
  *    map as of all PRIOR committed batches — the old-root → new-root
  *    relabels (driver-collected, gated by the same broadcast budget
  *    as the nightly fold) plus the batch's new-node rows, both
  *    batch-sized ([[Dedup.clusterFoldDelta]]);
  *  - [[clusterView]] composes the deltas in batch order: relabel
  *    maps compose DRIVER-SIDE into per-batch suffix compositions
  *    (each batch's new nodes take exactly the relabels of LATER
  *    batches; the snapshot takes all of them), applied through ONE
  *    broadcast join — per-read cost is a map-only scan of the layers
  *    plus a broadcast of the composed relabels, never a corpus
  *    shuffle;
  *  - because the delta is a pure function of the committed pairs and
  *    the prior view, a batch whose corpus committed but whose fold
  *    crashed is SELF-HEALED (recomputed in batch order) by the next
  *    trigger or reader — the pre-fold-deployment dirs heal the same
  *    way, mirroring ST8's missing-delta heal;
  *  - a replayed batch is a no-op (its corpus dir is committed, so
  *    [[StreamNearDup.pairBatch]] skips and the delta already
  *    exists); a torn delta (no `_SUCCESS`) is rewritten; a torn
  *    batch (no corpus commit) is invisible to the view.
  *
  * Union of per-trigger folds ≡ the batch cluster-map rebuild over
  * every document ever streamed (StreamClustersSpec pins it, under
  * ST8's NoCap/Fixed cap contract — the fold consumes whatever pair
  * semantics the stream emits). [[compactClusters]] bounds the
  * composition depth exactly like the index/fps layers: fold snapshot
  * + deltas into one `cmap/c=<maxBatch>` snapshot, deferred one-pass
  * cleanup, safe for readers that finish within one maintenance
  * interval. */
object StreamClusters {
  private val Layer = "cmap"

  /** Start the AvailableNow foreachBatch query: ST8's pair/index/
    * corpus writes per batch, then the batch's cluster fold — the
    * fold runs AFTER the corpus commit (replays skip it; a crash in
    * between self-heals on the next read). `autoCompactEvery`
    * triggers BOTH layers' compaction at the documented cadence
    * (reader-safety window = `autoCompactEvery × trigger-interval`,
    * the [[StreamNearDup.pairsStream]] guidance — the cluster layer
    * adds no new rule). */
  def clustersStream(docs: Dataset[NdDoc], baseDir: String,
      checkpointDir: String, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap,
      autoCompactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[NdDoc], id: Long) =>
        val s = b.sparkSession
        val committed = StreamNearDup.pairBatch(b, id, baseDir, n,
          thresholdPpm, dfCap)
        if (committed) {
          foldCommitted(s, baseDir)
          if (autoCompactEvery > 0 &&
              StreamIndex.liveDeltas(baseDir, Layer) >= autoCompactEvery) {
            val _ = compactClusters(s, baseDir)
          }
          if (autoCompactEvery > 0 &&
              StreamIndex.liveDeltas(baseDir, "index") >= autoCompactEvery) {
            val _ = StreamNearDup.compactIndex(s, baseDir, n)
          }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Fold every committed-but-unfolded batch's pairs into the cluster
    * layer, in batch order — normally exactly the trigger's own
    * batch; after a crash between a corpus commit and its fold (or
    * against dirs written by a pre-cluster deployment), the same
    * pass heals the gap, because each delta is a pure function of
    * the committed pairs and the view of strictly-earlier batches. */
  def foldCommitted(s: SparkSession, baseDir: String): Unit = {
    val snap = StreamIndex.layerSnapshot(baseDir, Layer)
    StreamIndex.committedBatches(s"$baseDir/corpus")
      .filter(v => snap.forall(v > _)).sorted
      .foreach { v =>
        if (!Files.exists(Paths.get(s"$baseDir/$Layer/b=$v/_SUCCESS"))) {
          // every committed ST8 batch has a pairs dir (written before
          // the corpus commit); the one layout that legitimately lacks
          // it is a SEED batch (StreamBootstrap) — which must then have
          // been seeded WITH a cluster map, or the corpus-internal
          // clusters are unrecoverable here (the seed never emitted
          // their pairs). For a REAL batch the absence is ordinary
          // corruption (a lost or manually pruned pairs/b=N) — say so,
          // never misdirect recovery toward the seed path.
          require(Files.exists(Paths.get(s"$baseDir/pairs/b=$v")),
            if (v == StreamBootstrap.SeedBatch)
              s"StreamClusters: committed batch $v has no pairs dir — a " +
                "seeded dir must be bootstrapped WITH a cluster-map " +
                "artifact (StreamBootstrap.seedNearDup's cmap) before " +
                "the cluster layer can serve it"
            else
              s"StreamClusters: committed batch $v has no pairs dir — " +
                "the pairs layer was written before this batch's corpus " +
                "commit, so its absence means it was lost or pruned; " +
                s"restore pairs/b=$v from backup (the batch's verdicts " +
                "are not derivable once the pre-batch index state is " +
                "compacted away)")
          val pairs = s.read.schema(StreamNearDup.PairsSchema)
            .parquet(s"$baseDir/pairs/b=$v")
          val delta = Dedup.clusterFoldDelta(viewUpTo(s, baseDir, v), pairs)
          require(delta.broadcastable,
            s"StreamClusters: batch $v's relabel delta exceeded the " +
              s"driver union-find gate (${LocalGate.MaxRowsConf}) " +
              "— a per-trigger relabel that cannot broadcast cannot " +
              "compose; compact and rebuild out-of-band")
          delta.relabel
            .select(lit(v).as("_b"), col("_root").as("_k"),
              col("_l").as("_v"), lit(true).as("_rel"))
            .unionByName(delta.newNodes
              .select(lit(v).as("_b"), col("doc_id").as("_k"),
                col("cluster_id").as("_v"), lit(false).as("_rel")))
            .transform(StreamIndex.deltaSized)
            .write.mode("overwrite").parquet(s"$baseDir/$Layer/b=$v")
        }
      }
  }

  /** The cluster map over every committed batch — (doc_id,
    * cluster_id = component-min doc id), exactly the batch rebuild's
    * rows. Heals missing folds first (see [[foldCommitted]]). */
  def clusterView(s: SparkSession, baseDir: String): DataFrame = {
    foldCommitted(s, baseDir)
    viewUpTo(s, baseDir, Long.MaxValue)
  }

  /** The composed map over the snapshot plus folded deltas of batches
    * strictly below `before` — the "map as of batch b" the fold of
    * batch b runs against. Relabels compose driver-side (tiny by the
    * fold's broadcast gate) into one per-batch-suffix relabel table
    * applied through a single broadcast join: the snapshot takes the
    * full composition, batch v's new nodes take only the relabels of
    * batches AFTER v (their labels were already final as of v). */
  private def viewUpTo(s: SparkSession, baseDir: String,
      before: Long): DataFrame = {
    val snap = StreamIndex.layerSnapshot(baseDir, Layer)
    // readDir: a by-ref seed's cmap snapshot is a pointer resolving
    // through the patch-aware committed read
    val base = snap.map(m => StreamIndex.readDir(s, s"$baseDir/$Layer/c=$m",
        Some(MapSchema)).select("doc_id", "cluster_id"))
      .getOrElse(StreamIndex.emptyFrame(s, MapSchema))
    val batches = StreamIndex.committedBatches(s"$baseDir/corpus")
      .filter(v => snap.forall(v > _)).filter(_ < before)
      .filter(v => Files.exists(Paths.get(s"$baseDir/$Layer/b=$v/_SUCCESS")))
      .sorted
    if (batches.isEmpty) return base
    val deltas = s.read.schema(DeltaSchema)
      .parquet(batches.map(v => s"$baseDir/$Layer/b=$v"): _*)
    val rel: Map[Long, Map[Long, Long]] = deltas.filter(col("_rel"))
      .select("_b", "_k", "_v").collect()
      .groupBy(_.getLong(0))
      .map { case (b, rows) =>
        b -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    // suffix compositions, right to left: comps(i) = the relabels of
    // batches i..end composed into one hop (a retired label never
    // recurs — component minima — so one application suffices)
    val comps = new Array[Map[Long, Long]](batches.size + 1)
    comps(batches.size) = Map.empty
    for (i <- batches.size - 1 to 0 by -1) {
      val r = rel.getOrElse(batches(i), Map.empty)
      val next = comps(i + 1)
      comps(i) = (r.keySet ++ next.keySet).iterator.map { k =>
        val y = r.getOrElse(k, k)
        k -> next.getOrElse(y, y)
      }.filter { case (k, v) => k != v }.toMap
    }
    val rlRows: Seq[Row] =
      ((-1L, comps(0)) +: batches.zipWithIndex.map { case (b, i) =>
        (b, comps(i + 1)) })
        .flatMap { case (b, m) =>
          m.map { case (root, l) => Row(b, root, l) } }
    val rlSchema = StructType(Seq(
      StructField("_rb", LongType, nullable = false),
      StructField("_root", LongType, nullable = false),
      StructField("_l", LongType, nullable = false)))
    val rl = s.createDataFrame(
      java.util.Arrays.asList(rlRows: _*), rlSchema)
    val tagged = base
      .select(col("doc_id"), col("cluster_id"), lit(-1L).as("_b"))
      .unionByName(deltas.filter(!col("_rel"))
        .select(col("_k").as("doc_id"), col("_v").as("cluster_id"),
          col("_b")))
    tagged.join(broadcast(rl),
        tagged("_b") === rl("_rb") && tagged("cluster_id") === rl("_root"),
        "left")
      .select(tagged("doc_id"),
        coalesce(col("_l"), tagged("cluster_id")).as("cluster_id"))
  }

  /** Maintenance pass bounding the composition depth (files opened,
    * relabel maps collected, plan width all grow with live deltas):
    * fold the previous snapshot and every committed delta beyond it
    * into ONE canonical `cmap/c=<maxCommittedBatch>` snapshot.
    * Cleanup of covered dirs is DEFERRED ONE PASS — this call deletes
    * only what the snapshot committed BEFORE it covers, so a reader
    * that planned against the pre-pass listing keeps its files (the
    * [[StreamIndex.compactLayer]] rules; the layer's merge is an
    * ORDERED composition rather than a row union, hence the bespoke
    * body). Returns the new snapshot id, or None when nothing new. */
  def compactClusters(s: SparkSession, baseDir: String): Option[Long] = {
    val prev = StreamIndex.layerSnapshot(baseDir, Layer)
    val fresh = StreamIndex.committedBatches(s"$baseDir/corpus")
      .filter(v => prev.forall(v > _))
    val built = if (fresh.isEmpty) None
    else {
      foldCommitted(s, baseDir)
      val hi = fresh.max
      viewUpTo(s, baseDir, Long.MaxValue)
        .write.mode("overwrite").parquet(s"$baseDir/$Layer/c=$hi")
      Some(hi)
    }
    prev.foreach { p =>
      StreamIndex.committedDirs(s"$baseDir/$Layer", "c=").filter(_ < p)
        .foreach(m => StreamIndex.deleteTree(s"$baseDir/$Layer/c=$m"))
      StreamIndex.deltaBatches(s"$baseDir/$Layer").filter(_ <= p)
        .foreach(v => StreamIndex.deleteTree(s"$baseDir/$Layer/b=$v"))
    }
    built
  }

  /** The `cmap/c=` snapshot schema, declared so [[viewUpTo]]'s read
    * costs no schema-inference job (StreamLayerSchemaSpec pins it
    * against [[compactClusters]]' files). A by-ref seed's pointer
    * snapshot resolves through its table instead. */
  private[streaming] val MapSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("cluster_id", LongType, nullable = false)))

  /** The `cmap/b=` delta schema, declared so [[viewUpTo]]'s read
    * costs no schema-inference job (StreamLayerSchemaSpec pins it
    * against [[foldCommitted]]'s files): `_b` batch id, `_rel`
    * discriminates relabel rows (`_k` old root → `_v` new label) from
    * new-node rows (`_k` doc → `_v` cluster). */
  private[streaming] val DeltaSchema = StructType(Seq(
    StructField("_b", LongType, nullable = false),
    StructField("_k", LongType, nullable = false),
    StructField("_v", LongType, nullable = false),
    StructField("_rel", BooleanType, nullable = false)))
}
