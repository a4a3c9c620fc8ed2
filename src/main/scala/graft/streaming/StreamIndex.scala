package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import java.nio.file.{Files, Paths}

/** Shared machinery for the streaming pipelines' append-only
  * posting-index layout (`index/b=<batch>` deltas + `index/c=<max>`
  * compact snapshots, committed by the CORPUS dir's `_SUCCESS` for
  * deltas and the snapshot's own `_SUCCESS` for compactions). The
  * pipeline-specific part — how to rebuild a batch's index delta when
  * a committed corpus dir is missing one (a directory written by an
  * earlier deployment of that pipeline) — is the `heal` parameter:
  * [[StreamNearDup]] re-shingles the batch's docs verbatim, while
  * [[StreamCurate]] must first replay the exact-dedup decision so the
  * rebuilt delta holds only the batch's exact-survivors. */
private[graft] object StreamIndex {

  /** The posting-index view: the newest committed compact snapshot (if
    * any) plus every committed delta beyond it — multiple rows per
    * shingle, the layout
    * [[Dedup.incrementalJaccardPairsFromIndexDeltas]] merges. Covered
    * deltas surviving a crashed compaction cleanup are provably
    * redundant and ignored; a torn compaction (no `_SUCCESS`) is
    * invisible and its covered deltas still serve. Read with the
    * declared [[IndexSchema]]: inferring it costs a Spark job per
    * read, on every trigger. */
  def indexView(s: SparkSession, baseDir: String,
      heal: Seq[Long] => Unit): DataFrame = {
    val dirs = layerDirs(baseDir, "index", heal)
    if (dirs.isEmpty) emptyFrame(s, IndexSchema)
    else readDirs(s, dirs, Some(IndexSchema))
  }

  /** The posting-index layer's `(_sh, _lst)` schema — every writer's
    * [[Dedup.postingIndex]] / [[Dedup.mergePostingDeltas]] shape
    * (StreamLayerSchemaSpec pins it against the files). */
  val IndexSchema: StructType = StructType(Seq(
    StructField("_sh", LongType),
    StructField("_lst", ArrayType(LongType))))

  /** The committed dirs a layer's view reads: newest committed compact
    * snapshot (if any) plus every committed corpus batch's delta
    * beyond it (healing those first). Shared by the index and fps
    * layers — both accumulate `b=<batch>` deltas compacted into
    * `c=<max>` snapshots under the same crash rules. */
  def layerDirs(baseDir: String, layer: String,
      heal: Seq[Long] => Unit): Seq[String] = {
    val snap = layerSnapshot(baseDir, layer)
    val live = committedBatches(s"$baseDir/corpus")
      .filter(v => snap.forall(v > _))
    heal(live)
    snap.map(m => s"$baseDir/$layer/c=$m").toSeq ++
      live.map(v => s"$baseDir/$layer/b=$v")
  }

  /** Out-of-band maintenance: fold the previous snapshot (if any) and
    * every committed delta beyond it into ONE one-row-per-shingle
    * snapshot `index/c=<maxCommittedBatch>` ([[Dedup
    * .mergePostingDeltas]], pinned ≡ `postingIndex` of the union
    * corpus). Cleanup of covered dirs is DEFERRED BY ONE PASS: this
    * call deletes only what the snapshot committed BEFORE it (`prev`)
    * covers, never what the snapshot it just built covers — so an
    * [[indexView]] reader that planned its scan against the pre-pass
    * listing (prev snapshot + deltas beyond it) still finds every file
    * it listed even while this pass commits. The newly covered dirs
    * are provably ignored by every later reader (the view filters
    * `batch > snapshot`) and the NEXT pass — including a no-op pass
    * with nothing new to fold — sweeps them; the same retry also
    * sweeps leftovers of a crash between commit and cleanup. The
    * remaining caveat a deployment must schedule around: a reader
    * still mid-scan after TWO further maintenance passes can lose its
    * files — run compaction strictly less often than twice per
    * longest reader. Returns the new snapshot id, or None when no
    * committed delta extends the current snapshot. */
  def compactIndex(s: SparkSession, baseDir: String,
      heal: Seq[Long] => Unit): Option[Long] =
    compactLayer(s, baseDir, "index", heal, Dedup.mergePostingDeltas,
      Some(IndexSchema))

  /** Generic layer compaction — the index layer merges with
    * [[Dedup.mergePostingDeltas]], the fps layer with `distinct`; the
    * snapshot/delta/crash/deferred-cleanup rules (see
    * [[compactIndex]]'s doc) are identical. `schema` is the layer's
    * declared schema, if it has one (see [[readDirs]]). */
  def compactLayer(s: SparkSession, baseDir: String, layer: String,
      heal: Seq[Long] => Unit, merge: DataFrame => DataFrame,
      schema: Option[StructType] = None): Option[Long] = {
    val prev = layerSnapshot(baseDir, layer)
    val fresh = committedBatches(s"$baseDir/corpus")
      .filter(v => prev.forall(v > _))
    val built = if (fresh.isEmpty) None
    else {
      heal(fresh)
      val hi = fresh.max
      val parts = prev.map(m => s"$baseDir/$layer/c=$m").toSeq ++
        fresh.map(v => s"$baseDir/$layer/b=$v")
      // readDirs: a by-ref seed's pointer snapshot resolves to its
      // table here, so THIS pass is what materializes the stream's
      // own physical snapshot — and the deferred sweep then retires
      // the pointer, ending the stream's dependence on the table
      merge(readDirs(s, parts, schema))
        .write.mode("overwrite").parquet(s"$baseDir/$layer/c=$hi")
      Some(hi)
    }
    // deferred cleanup: key the sweep on the snapshot committed at
    // ENTRY, not the one just built — a concurrent reader's planned
    // listing references c=prev and b>prev, neither of which this
    // deletes
    prev.foreach { p =>
      committedDirs(s"$baseDir/$layer", "c=").filter(_ < p)
        .foreach(m => deleteTree(s"$baseDir/$layer/c=$m"))
      deltaBatches(s"$baseDir/$layer").filter(_ <= p)
        .foreach(v => deleteTree(s"$baseDir/$layer/b=$v"))
    }
    built
  }

  /** Files per streaming DELTA dir. Per-batch dirs are the classic
    * streaming small-file trap: a 32-partition shuffle writing a
    * batch-sized delta leaves up to 32 tiny files PER LAYER PER
    * TRIGGER — the file population (and every later probe's open
    * cost) grows 3 layers × width × stream age, and at local stage
    * latency the commit overhead alone is visible (st10 measured ~25%
    * faster with the bound at sf0.1). Compaction already folds deltas;
    * this bounds the churn between passes, and [[deltaSized]] widens
    * it for frames too large for it. */
  private val DeltaMaxFiles = 8

  /** Session conf: estimated bytes each delta-write task should own
    * once a frame outgrows the small-file bound (default 64 MB). The
    * file bound exists to stop per-trigger small-file churn; applied
    * blindly it would also narrow a CORPUS-sized write (a bootstrap
    * trigger, a seeded snapshot copy) to `DeltaMaxFiles` tasks for
    * the whole final stage — coalesce narrows compute, not just file
    * count — so the bound widens with the frame's plan-time size
    * estimate, exactly like `Dedup.listStageWidth`. */
  val DeltaTargetBytesConf = "spark.graft.streamDeltaTargetBytes"

  /** One-trigger-lifetime checkpoint for a batch's posting/bucket
    * delta (the build-once frames pairBatch/curateBatch/
    * StreamEmbed.pairBatch serve their probe AND delta write from):
    * cuts lineage so the frame computes once for its in-trigger
    * consumers, stored DISK_ONLY. The frame is re-read only within its
    * own trigger and lands on local disk moments later anyway, so
    * disk blocks (page-cache-warm on re-read) serve it without
    * competing with execution memory — under a heap NOT scaled to the
    * data (default 8g at the 5× replica) MEMORY_AND_DISK checkpoint
    * blocks cost the trigger's pair stage ~2.5 s of eviction/GC
    * pressure, while at an adequately-sized heap the two levels
    * measure at par (OPTIMIZATION_r16.md's storage-level matrix).
    * DISK_ONLY is right for exactly these frames — NARROW
    * packed-long rows whose serialized form is small — and wrong for
    * text-bearing ones: converting the day-verdict / curation-flagged
    * / seed-index checkpoints (rows carry the document text) was
    * A/B-measured LOSING 25-70% at sf0.1 (x41 4.2-5.1 → 7.3-8.0 warm;
    * per-consumer deserialization of wide rows outweighs the heap
    * relief), so those sites keep the plain deserialized-heap
    * localCheckpoint — the per-site sign-flip lesson again. */
  def batchCkpt(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)

  // ————————————————————————————— concurrent per-trigger commits ———
  // A trigger's layer writes (pairs/verdicts/fps/index/ebkt + the
  // corpus DATA) are independent Spark jobs: only the corpus
  // `_SUCCESS` — the batch's single commit marker every committed
  // view gates on — is order-bearing. The wave runs the writes as
  // concurrent driver-thread jobs (actions are only sequential
  // because the driver calls them sequentially) and lays the marker
  // down strictly AFTER every job joined: the corpus data write
  // itself suppresses its job-level marker, so until the driver's
  // explicit marker the batch is invisible to every reader and the
  // deterministic replay overwrites all dirs — the crash contract is
  // unchanged, the per-trigger wall-clock drops from the SUM of the
  // write chains to their MAX (each chain is 1-3 local stages at the
  // 0.3-0.5 s floor). Any failure — a write job's, or the driver's
  // own between submits (a failed batch checkpoint, a bad conf) —
  // joins every submitted job first (a replay's overwrite must never
  // race a still-running stale write), skips the marker, and
  // rethrows.

  /** One trigger's concurrent write wave, opened by [[BatchWave.run]].
    * Submit jobs as their inputs become ready (the corpus data write
    * typically first — it depends on nothing the trigger computes). */
  private[graft] final class BatchWave private () {
    private val pool = java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-batch-wave")
        t.setDaemon(true)
        t
      })
    private val jobs =
      scala.collection.mutable.Buffer.empty[java.util.concurrent.Future[_]]

    def submit(body: => Unit): Unit =
      jobs += pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = body
      })

    /** Join every submitted job and shut the pool; the failures, in
      * submission order. */
    private def join(): Seq[Throwable] =
      try jobs.toSeq.flatMap(f =>
        scala.util.Try(f.get()).failed.toOption.map {
          case e: java.util.concurrent.ExecutionException => e.getCause
          case e => e
        })
      finally pool.shutdown()
  }

  private[graft] object BatchWave {
    /** Run `body` as one wave whose commit point is
      * `corpusDir/_SUCCESS`: the marker lands only after `body`
      * returned and every job it submitted joined without failure.
      * On any failure — `body` throwing or a job failing — every
      * submitted job is joined before the first error rethrows (the
      * others suppressed onto it), and the marker is skipped. */
    def run(corpusDir: String)(body: BatchWave => Unit): Unit = {
      val wave = new BatchWave
      val failed = try { body(wave); None }
        catch { case e: Throwable => Some(e) }
      val errs = failed.toSeq ++ wave.join()
      errs.headOption.foreach { e =>
        errs.tail.foreach(t => if (t ne e) e.addSuppressed(t))
        throw e
      }
      val _ = Files.write(Paths.get(corpusDir, "_SUCCESS"),
        Array.empty[Byte])
    }
  }

  /** Write `df` to `dir` with the job-level `_SUCCESS` SUPPRESSED —
    * the corpus-data leg of a [[BatchWave]]: the batch's only commit
    * marker is the driver's explicit one in [[BatchWave.run]]. */
  private[graft] def writeDirNoMarker(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir)

  /** Bound a delta frame's output file count before a per-batch dir
    * write: batch-sized deltas coalesce to the [[DeltaMaxFiles]]
    * small-file bound; a frame whose analyzed size estimate exceeds
    * bound × target widens to ~target bytes per task so a
    * replica-scale bootstrap write keeps its parallelism. */
  def deltaSized(df: DataFrame): DataFrame = {
    val rawT = df.sparkSession.conf
      .get(DeltaTargetBytesConf, (64L << 20).toString)
    val target = scala.util.Try(rawT.toLong).toOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$DeltaTargetBytesConf must be a positive long, got '$rawT'"))
    // SUM OF LEAF stats (file-listing / local-relation sizes), never
    // the analyzed ROOT: Spark's size-only estimator MULTIPLIES child
    // sizes across joins, so a join-derived delta (pairBatch's pairs,
    // curateBatch's verdicts) reports corpus² bytes at any realistic
    // SF, `want` saturates at the cap, coalesce no-ops, and the
    // small-file bound is silently disabled for exactly those writes.
    // A delta's true size is bounded by what its leaves feed it, which
    // is the signal that matters here: tiny-leaf triggers stay at the
    // small-file bound, corpus-sized bootstrap/seed writes widen.
    // (Analyzed plan, not the AQE frame — see CLAUDE.md's executedPlan
    // stage-reuse sharp edge.)
    val bytes = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val want = (bytes / target).min(4096).max(DeltaMaxFiles).toInt
    df.coalesce(want)
  }

  // ——————————————————————————————— by-reference seed pointers ———
  // A committed layer dir may be a POINTER instead of parquet files:
  // a `_POINTER` file naming a durable catalog table plus the reader
  // kind and a freeze fence (the table's folds counter + sourceDir at
  // seed time). StreamBootstrap's by-ref seed writes these so 100 TB
  // adoption costs O(metadata) — the posting index is itself roughly
  // corpus-sized, and the physical seed's copy pays an artifact-sized
  // rewrite that the pointer skips entirely. Readers resolve the
  // pointer through the COMMIT-SAFE table read for its kind; the
  // first compaction materializes the stream's own snapshot and the
  // deferred sweep retires the pointer dir under the normal rules, so
  // after one maintenance pass the stream no longer references the
  // table at all.

  private val PointerFile = "_POINTER"

  /** Write a pointer dir: `_POINTER` (table, reader kind, freeze
    * fence) then `_SUCCESS` — the same commit discipline as a parquet
    * layer write (a torn pointer is invisible and overwritten). */
  def writePointer(s: SparkSession, dir: String, table: String,
      kind: String): Unit = {
    require(kind == "epoch" || kind == "cmap", s"unknown pointer kind $kind")
    require(s.catalog.tableExists(table),
      s"seed pointer: no table $table")
    val props = graft.DurableArtifact.propsOf(s, table)
    deleteTree(dir)
    Files.createDirectories(Paths.get(dir))
    val body = Seq(table, kind,
      props.getOrElse(graft.DurableArtifact.FoldsProp, "0"),
      props.getOrElse(graft.DurableArtifact.SourceDirProp, ""))
      .mkString("\n")
    Files.write(Paths.get(dir, PointerFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(Paths.get(dir, "_SUCCESS"), Array.empty[Byte])
  }

  private def isPointer(dir: String): Boolean =
    Files.exists(Paths.get(dir, PointerFile))

  /** Materialize a pointer dir IN PLACE: resolve the (still-valid)
    * pointer, land the rows as parquet files BESIDE the marker files,
    * then delete `_POINTER` — the single FS-atomic visibility flip.
    * Crash-safe at every point: until the delete, readers resolve the
    * intact pointer (stray part files from a torn attempt are swept
    * here and never read); after it, the dir is an ordinary parquet
    * layer. This is the escape hatch for pointers no maintenance pass
    * retires — above all the CORPUS pointer (that layer never
    * compacts), which otherwise ties the stream's lifetime to the
    * corpus table's immobility. Run it any time before the table
    * moves; a no-op on non-pointer dirs. */
  def materializePointer(s: SparkSession, dir: String): Unit = {
    if (!isPointer(dir)) return
    // resolve + validate eagerly (fence/existence checks run in
    // readDir); the frame itself stays lazy — the append below streams
    // table → dir with no driver-side pinning (corpus-scale safe)
    val df = readDir(s, dir)
    // sweep a torn previous attempt's stray part files (readers never
    // saw them — the pointer resolves first)
    val root = Paths.get(dir)
    val ls = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n != PointerFile && n != "_SUCCESS"
        }
        .foreach(p => deleteTree(p.toString))
    } finally ls.close()
    // append lands the files without touching the marker files
    df.write.mode("append").parquet(dir)
    Files.delete(root.resolve(PointerFile))
  }

  /** Resolve ONE committed dir — pointer-aware. A pointer resolves
    * through the commit-safe read for its kind, FENCED on the freeze
    * state captured at seed time: the seeded snapshot must stay
    * reconstructible from the table, so a fold or rebase of the
    * source table after seeding fails the read loudly (the fix —
    * compact the stream first, which materializes its own snapshot
    * and drops the pointer — is in the message), never serves rows
    * the seed's triggers did not pair against. A plain dir is read
    * with the layer's declared `schema` when given (saving the
    * schema-inference job). */
  def readDir(s: SparkSession, dir: String,
      schema: Option[StructType] = None): DataFrame =
    if (!isPointer(dir)) schema.fold(s.read)(s.read.schema(_)).parquet(dir)
    else {
      val lines = new String(Files.readAllBytes(Paths.get(dir, PointerFile)),
        java.nio.charset.StandardCharsets.UTF_8).split("\n", -1)
      val (table, kind, folds0, srcDir0) =
        (lines(0), lines(1), lines(2), lines(3))
      if (!s.catalog.tableExists(table))
        throw new IllegalStateException(
          s"seed pointer at $dir references table $table, which no " +
            "longer exists — the by-ref seed defers to the table's " +
            "lifecycle only until the stream's first compaction " +
            "materializes its own snapshot; run compaction before " +
            "retiring the table, or re-seed a fresh dir")
      val props = graft.DurableArtifact.propsOf(s, table)
      val now = (props.getOrElse(graft.DurableArtifact.FoldsProp, "0"),
        props.getOrElse(graft.DurableArtifact.SourceDirProp, ""))
      if (now != ((folds0, srcDir0)))
        throw new IllegalStateException(
          s"seed pointer at $dir is STALE: table $table moved on since " +
            s"the seed (folds/sourceDir were ($folds0, $srcDir0), now " +
            s"$now) — serving it would compose layers the stream never " +
            "paired against. BEFORE moving a referenced table, either " +
            "compact the stream (materializes + retires the snapshot-" +
            "layer pointers) or run StreamIndex.materializePointer on " +
            "the dir (the only retirement for the corpus pointer — " +
            "that layer never compacts); now the table must be " +
            "restored to the recorded state, or the dir re-seeded")
      kind match {
        case "epoch" => graft.DurableArtifact.epochRead(s, table)
        case "cmap"  => graft.ExtensionQueries.readClusterMap(s, table)
      }
    }

  /** Resolve MANY committed dirs. The no-pointer fast path keeps the
    * exact multi-path parquet scan every non-seeded stream plans
    * today, read with the layer's declared `schema` when given (saving
    * the schema-inference job); pointer-bearing listings union the
    * resolved frames by name. */
  def readDirs(s: SparkSession, dirs: Seq[String],
      schema: Option[StructType] = None): DataFrame =
    if (!dirs.exists(isPointer))
      schema.fold(s.read)(s.read.schema(_)).parquet(dirs: _*)
    else dirs.map(readDir(s, _, schema)).reduce(_.unionByName(_))

  /** `schema` with no rows — a layer's pre-first-commit view. */
  def emptyFrame(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)

  /** Rebuild every `<layer>/b=<id>` delta among `batches` (in order)
    * that has no `_SUCCESS` — a committed corpus batch written before
    * the layer existed — from `derive(id)`, bounded by [[deltaSized]].
    * The heal loop of every layer whose deltas derive per batch. */
  def healMissing(baseDir: String, layer: String, batches: Seq[Long])(
      derive: Long => DataFrame): Unit =
    batches
      .filterNot(v => Files.exists(Paths.get(s"$baseDir/$layer/b=$v/_SUCCESS")))
      .foreach(v => deltaSized(derive(v))
        .write.mode("overwrite").parquet(s"$baseDir/$layer/b=$v"))

  /** Committed deltas not yet covered by a layer's compact snapshot —
    * the statistic the streams' `autoCompactEvery` trigger compares
    * against: the per-trigger probe cost grows with exactly this
    * count (the fp probe measured 3.4× faster at 63 deltas → 1
    * snapshot, amortizing in ~1.4 triggers — PERF.md round 11). */
  def liveDeltas(baseDir: String, layer: String): Int = {
    val snap = layerSnapshot(baseDir, layer)
    committedBatches(s"$baseDir/corpus").count(v => snap.forall(v > _))
  }

  /** Newest committed compact snapshot id under `<layer>/`, if any.
    * A snapshot at the SEED id counts only when the seed's corpus
    * commit landed: a torn seed (crash before the corpus `_SUCCESS`)
    * leaves layer snapshots whose own dir-level `_SUCCESS` is set —
    * serving one would pair triggers against an index of documents
    * the corpus never committed (ghost postings; and if the operator
    * re-establishes the dir under different params, layers of the
    * WRONG parameterization). The whole seed commits through the
    * corpus marker or not at all. */
  def layerSnapshot(baseDir: String, layer: String): Option[Long] = {
    val seedCommitted = Files.exists(Paths.get(
      s"$baseDir/corpus/b=${StreamBootstrap.SeedBatch}/_SUCCESS"))
    committedDirs(s"$baseDir/$layer", "c=")
      .filter(m => m != StreamBootstrap.SeedBatch || seedCommitted)
      .maxOption
  }

  /** Batch ids under `dir` whose write completed (`_SUCCESS`). */
  def committedBatches(dir: String): Seq[Long] = committedDirs(dir, "b=")

  def committedDirs(dir: String, prefix: String): Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val ls = Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(prefix) &&
            Files.exists(p.resolve("_SUCCESS")))
          .map(_.getFileName.toString.stripPrefix(prefix).toLong)
          .toSeq
      } finally ls.close()
    }
  }

  /** All `index/b=<id>` delta dirs present on disk, committed or not
    * (cleanup must also catch a torn delta a compaction superseded). */
  def deltaBatches(indexDir: String): Seq[Long] = {
    val root = Paths.get(indexDir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val ls = Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(_.getFileName.toString.startsWith("b="))
          .map(_.getFileName.toString.stripPrefix("b=").toLong)
          .toSeq
      } finally ls.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[
          java.nio.file.Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })
      finally walk.close()
    }
  }
}
