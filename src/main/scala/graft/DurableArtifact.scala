package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Plumbing shared by every durable PER-SNAPSHOT artifact the engine
  * serves queries from (near-dup cluster map, posting index, LSH
  * band/set tables, embedding bucket table, corpus fingerprint set):
  *
  *  - a SESSION MEMO of the built, persisted frame — the local-mode
  *    stand-in for the materialized table (first caller pays the
  *    build; later callers, including re-invocations of the same
  *    query, read the cache);
  *  - a conf-named BUCKETED CATALOG TABLE with a corpus-dir
  *    provenance stamp — the real once-per-snapshot materialization a
  *    100 TB pipeline writes in its snapshot job and every later
  *    session reads with no rebuild (and, bucketed on the serve-join
  *    key, no corpus-side exchange);
  *  - orphan-warehouse-dir adoption (a previous JVM's default
  *    warehouse dir outlives its in-memory metastore and saveAsTable
  *    refuses the location — see [[DurableArtifact.dropOrphanWarehouseDir]]);
  *  - a BUILDS counter the artifact specs watch to prove the durable
  *    read-back path never triggers a rebuild.
  *
  * Resolution order ([[resolve]]): the conf-named table when it exists
  * AND carries this corpus dir's provenance (a conf left pointing at
  * another snapshot's table falls back to building rather than serving
  * wrong rows), else the session memo.
  */
private[graft] final class DurableArtifact(
    val tableConf: String,
    bucketCols: Seq[String],
    build: (SparkSession, String) => DataFrame,
    /** The BUILD PARAMETERS this artifact is derived under (n-gram
      * width, threshold, hash/plane counts …), stamped as
      * [[DurableArtifact.ParamsProp]] on every durable write and
      * REQUIRED to match before a table is served or folded into:
      * an n=4 posting index served to an n=3 consumer returns
      * silently wrong rows (batch shingles match no posting — every
      * near-dup missed, no error), which makes parameter drift the
      * same hazard class as the sourceDir mismatch the provenance
      * stamp already guards. Empty = the artifact is parameterless
      * (the fp set's md5 has no knobs). */
    val params: Map[String, String] = Map.empty,
    /** How the durable branch reads the table — the default is the
      * EPOCH-CONSISTENT scan ([[DurableArtifact.epochRead]]: rows
      * filtered to the committed folds counter, bookkeeping column
      * dropped), which is what makes a concurrent [[appendDelta]]
      * invisible until its flip; merge-style artifacts whose durable
      * fold is a PATCH LAYER (the cluster map) plug in the
      * patch-applying reader so conf-resolved consumers see the
      * folded rows, not the stale base. */
    readTable: (SparkSession, String) => DataFrame =
      (s, t) => DurableArtifact.epochRead(s, t),
    /** Optional SNAPSHOT STATISTICS (r17): tiny k=v numbers computed
      * from the build frame at [[write]] time and stamped as
      * [[DurableArtifact.StatsProp]] in the SAME statement as the
      * provenance stamp, so conf-table consumers serve them from one
      * catalog fetch instead of re-aggregating the corpus-sized table
      * per serve (the posting index's density-cap pair `_so`/`_co`).
      * Any fold CLEARS the property inside its visibility flip —
      * [[appendDelta]] cannot restate a statistic it doesn't
      * understand, and a stale number silently mis-caps every later
      * serve — so readers of a folded table fall back to their
      * in-plan aggregate; a snapshot rewrite ([[write]]) restamps. */
    stats: Option[DataFrame => Map[String, String]] = None) {
  import DurableArtifact._

  private val memo = new SessionMemo[DataFrame](_.unpersist())
  /** Builds observed (memo or write path) — specs assert the durable
    * read-back never bumps it. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The artifact for corpus dir `d`: durable table if the session
    * conf names one stamped for `d`, else the session-memoized build. */
  def resolve(s: SparkSession, d: String): DataFrame =
    durable(s, d).getOrElse(memoized(s, d))

  private def durable(s: SparkSession, d: String): Option[DataFrame] = {
    val t = s.conf.get(tableConf, "")
    // A FOLDED table (graft.folds > 0) carries the snapshot corpus
    // PLUS appended batches — serving it as the pure snapshot artifact
    // of `d` would silently hand extra rows to snapshot-scoped
    // consumers (the wrong-rows hazard the provenance stamp exists to
    // prevent). Snapshot consumers therefore fall back to the build
    // path once a fold lands; fold-AWARE consumers (the daily job
    // serving the union corpus) opt in explicitly via
    // [[DurableArtifact.ServeFoldedConf]].
    if (t.isEmpty) None
    else servableProps(s, t, d)
      .filter(p => foldsIn(p) == 0 ||
        s.conf.get(ServeFoldedConf, "false").toBoolean)
      .map(_ => readTable(s, t))
  }

  /** `t`'s properties, in ONE catalog fetch, iff the table exists and
    * carries this artifact's provenance for `d`: the corpus dir AND
    * the build params (a table stamped with DIFFERENT params, or with
    * none, is some other parameterization's artifact — serving it is
    * the same wrong-rows hazard as a sourceDir mismatch). */
  private def servableProps(s: SparkSession, t: String,
      d: String): Option[Map[String, String]] =
    if (!s.catalog.tableExists(t)) None
    else Some(propsOf(s, t)).filter(p =>
      p.get(SourceDirProp).contains(normDir(d)) && paramsMatch(p))

  /** True iff the recorded build params equal this artifact's
    * (vacuously true for a parameterless artifact). */
  private def paramsMatch(props: Map[String, String]): Boolean =
    params.isEmpty || props.get(ParamsProp).contains(canonParams(params))

  /** The memo build path (bypasses the durable table — used by
    * [[write]] so an overwrite never scans the very table it is
    * replacing). A build may run driver-side loop actions eagerly, so
    * concurrent first callers each pay one (and the counter records
    * each); the memo keeps exactly one persisted frame. */
  private[graft] def memoized(s: SparkSession, d: String): DataFrame =
    memo(s, d) {
      builds.incrementAndGet()
      build(s, d).persist()
    }

  /** Point this session's consumers at a written table: writes it if
    * absent OR stamped for a different corpus dir or params (the
    * snapshot job), then sets [[tableConf]] so every consumer reads
    * the bucketed table from here on. */
  def use(s: SparkSession, d: String, table: String): Unit = {
    if (servableProps(s, table, d).isEmpty) {
      write(s, d, table)
      // the build frame served its purpose (it is now the table);
      // don't pin a corpus-sized persisted copy for the session's
      // lifetime on callers that forget the matching evict()
      evict(s, d)
    }
    s.conf.set(tableConf, table)
  }

  /** Durable write: the artifact as a bucketed catalog table, stamped
    * with the corpus dir it was built from. Bucketing on the
    * serve-join key is the point — at cluster scale the artifact (the
    * corpus-sized side) is never exchanged again; only the day's
    * batch shuffles. */
  def write(s: SparkSession, d: String, table: String,
      buckets: Int = 8): Unit = {
    dropOrphanWarehouseDir(s, table)
    // every row carries fold epoch 0: the bookkeeping column the
    // commit-safe appendDelta's visibility filter keys on (readers
    // keep rows with epoch ≤ the committed folds counter)
    memoized(s, d)
      .withColumn(FoldEpochCol, lit(0))
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet").saveAsTable(table)
    // provenance stamp: the durable-read branch only trusts a table
    // whose recorded corpus dir matches the caller's (normalized so
    // trailing-slash / file:-prefix spellings compare equal) AND whose
    // recorded build params match the artifact's. Snapshot stats ride
    // the same statement: no reader can see a dir-stamped table whose
    // params or stats are missing-but-expected or (worse) inherited
    // from the table's previous content.
    setProps(s, table, Map(SourceDirProp -> normDir(d)) ++
      Option.when(params.nonEmpty)(ParamsProp -> canonParams(params)) ++
      stats.map(f => f(memoized(s, d))).filter(_.nonEmpty)
        .map(m => StatsProp -> canonParams(m)))
  }

  /** Refuse to fold into a table this artifact's snapshot write did
    * not produce: without the [[DurableArtifact.FoldEpochCol]] column a
    * reader racing the append could see a torn delta, and under other
    * (or unrecorded) build params the fold would mix parameterizations
    * into one table — an n=4 delta in an n=3 index matches no
    * consumer. Unlike resolve's silent fall-back-to-build, a fold has
    * no safe fallback, so both refuse loudly, naming the rewrite. */
  private[graft] def requireFoldable(s: SparkSession, table: String,
      caller: String, rewrite: String): Unit = {
    require(s.table(table).columns.contains(FoldEpochCol),
      s"$caller: $table has no $FoldEpochCol column — it is not an " +
        "epoch-layout artifact table, and a plain append could tear " +
        s"under a concurrent reader; rewrite the snapshot with $rewrite")
    if (params.nonEmpty) {
      val recorded = propsOf(s, table).get(ParamsProp)
      require(recorded.contains(canonParams(params)),
        s"$caller: $table records build params " +
          s"'${recorded.getOrElse("<none>")}' but this artifact folds " +
          s"deltas derived under '${canonParams(params)}' — folding " +
          "would mix parameterizations into one table; rewrite the " +
          s"snapshot with $rewrite")
    }
  }

  /** Fold a batch DELTA into the durable table at O(batch): an INSERT
    * of the delta's rows under the table's own bucket spec (Spark
    * appends new per-bucket files — the bucketed-join layout
    * survives), plus a bump of the [[DurableArtifact.FoldsProp]]
    * counter so provenance records that the table now carries the
    * snapshot corpus PLUS folded batches. Only valid for the
    * artifacts whose rows are per-doc/per-key APPEND-ONLY sets (fp
    * set, LSH band/set tables, emb buckets — where append ≡ rebuild
    * on the union corpus); the posting index MERGES per-shingle rows
    * and must fold through its delta layout + compaction instead
    * ([[graft.operators.Dedup.incrementalJaccardPairsFromIndexDeltas]] /
    * [[graft.operators.Dedup.mergePostingDeltas]]). The memo entry for
    * `d` (the pre-fold build) is evicted — it no longer matches the
    * table. After the fold, [[resolve]] refuses to serve the table to
    * SNAPSHOT consumers (it is no longer the pure snapshot of `d`);
    * fold-aware consumers opt in via
    * [[DurableArtifact.ServeFoldedConf]]. The bucket count comes from
    * the existing table's own bucket spec — an append under a
    * mismatched spec would break the bucketed-join layout the
    * artifact exists for. */
  def appendDelta(s: SparkSession, d: String, table: String,
      delta: DataFrame,
      /** Extra table properties set in the SAME statement as the folds
        * bump — the counter bump is the fold's visibility flip for
        * epoch-aware readers, so anything that must become visible
        * atomically WITH it (the cluster map's patch-live marker)
        * rides this one ALTER TABLE. */
      extraProps: Map[String, String] = Map.empty,
      /** Test seam: runs after the delta's files are committed but
        * BEFORE the folds-counter flip — the torn-fold interleave the
        * commit-safety specs probe. */
      afterFilesWritten: () => Unit = () => (),
      /** Test seam: runs just before the delta's file append — the
        * usurped-lease interleave the pre-append re-verify closes. */
      beforeFilesWritten: () => Unit = () => (),
      /** A fold-window lease token the CALLER already acquired (the
        * cluster fold holds one across its driver-side patch staging,
        * which a second writer would corrupt before ever reaching this
        * call) — when absent, this call acquires and releases its
        * own. Either way the lease clears in the SAME statement as the
        * visibility flip. */
      heldLease: Option[String] = None): Unit = {
    require(s.catalog.tableExists(table),
      s"appendDelta: no table $table — write the snapshot first")
    val buckets = DurableArtifact.numBucketsOf(s, table, bucketCols)
    requireFoldable(s, table, "appendDelta", "write()")
    // SINGLE-WRITER enforcement: the commit-safe protocol assumes one
    // fold in flight; a second concurrent folder would interleave
    // epoch reads and counter bumps into silent corruption. The lease
    // property turns that violated assumption into a loud error.
    val lease = heldLease.getOrElse(acquireFoldLease(s, table))
    heldLease.foreach(tok => requireLease(s, table, tok,
      s"appendDelta: caller claims the fold lease on $table but the " +
        "table records a different holder — two writers interleaved"))
    try {
      val e = foldsOf(s, table)
      // COMMIT SAFETY (single writer, any concurrent readers): the
      // delta's rows land stamped epoch e+1 — invisible to every reader
      // going through the epoch-consistent read until the folds-counter
      // flip below, no matter when the scan listed its files. A fold
      // that crashed between its file append and its flip left rows
      // ABOVE the committed epoch; appending again would duplicate them
      // the moment the next flip lands, so recovery is explicit:
      // [[compactTable]] rewrites the base from the epoch-filtered read
      // (discarding the torn rows), then folding resumes.
      require(s.table(table).filter(col(FoldEpochCol) > e).head(1).isEmpty,
        s"appendDelta: $table carries rows above committed epoch $e — a " +
          "crashed fold left a torn append; run compactTable(table) to " +
          "discard it, then retry the fold")
      val stamped = delta.withColumn(FoldEpochCol, lit(e + 1))
        .select(s.table(table).columns.map(col).toIndexedSeq: _*)
      beforeFilesWritten()
      // PRE-APPEND lease re-verify: the acquire's set-then-verify
      // admits the A-set/A-verify/B-set/B-verify interleave where A
      // holds a stale belief — A must die BEFORE appending, because
      // rows appended at epoch e+1 become visible the moment ANY
      // writer flips to e+1 and are then indistinguishable from the
      // legitimate fold's (no recovery can discard them). Dying here
      // leaves only invisible state. The residue shrinks to a racer
      // whose entire acquire spans this fold's guard sequence AND
      // whose complete fold lands inside our append — the fence below
      // still detects that, though recovery is then a rebuild.
      requireLease(s, table, lease,
        s"appendDelta: lost the fold lease on $table before the file " +
          "append — a concurrent fold interleaved; this fold aborts " +
          "without writing")
      stamped.write.mode("append")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet").saveAsTable(table)
      afterFilesWritten()
      // EPOCH FENCE: a racer that slipped past BOTH lease checks and
      // COMPLETED has bumped the folds counter by now — refuse the
      // flip rather than commit a second epoch e+1 on top of it. Note
      // the honest blast radius: this fold's rows were appended
      // stamped e+1, which the racer's flip has made the COMMITTED
      // epoch, so they are already visible and epoch-indistinguishable
      // from the racer's — compactTable cannot discard them. The fence
      // turns silent corruption into a loud one with a named recovery
      // (rebuild), and the pre-append re-verify above makes reaching
      // this state require the racer's whole fold to land inside this
      // fold's append.
      require(foldsOf(s, table) == e,
        s"appendDelta: $table's folds counter moved past $e while this " +
          "fold was appending — a concurrent fold completed underneath " +
          "it, and this fold's epoch-stamped rows are now mixed into " +
          "the committed epoch. The table needs a rebuild: rewrite the " +
          "snapshot with write() (or restore it), then re-fold the day")
      // ONE statement: folds counter + caller extras + lease release —
      // the fold's single visibility flip frees the writer window with
      // it. Snapshot stats (if any) CLEAR in the same flip: they
      // described the pre-fold content, and a reader seeing the new
      // epoch with the old numbers would silently mis-derive whatever
      // the stats parameterize (a caller that CAN restate them
      // supplies the update through extraProps, which wins the merge)
      setProps(s, table, Map(StatsProp -> "") ++ extraProps +
        (FoldsProp -> (e + 1).toString) + (FoldLeaseProp -> ""))
    } catch {
      case t: Throwable =>
        // a FAILED (thrown) fold frees the window — the next fold's own
        // guards give the precise recovery message; a crashed JVM leaves
        // the lease set, and compactTable clears it with the torn rows
        releaseFoldLease(s, table, lease)
        throw t
    }
    evict(s, d)
  }

  /** Canonicalize the table's layout: the durable read ([[readTable]]
    * — committed epochs only, the cluster map's patch applied)
    * rewritten under the same bucket spec with every row re-stamped
    * fold-epoch 0, graft provenance re-applied plus `extraProps` — the
    * recovery step after a crashed fold (the epoch-filtered read never
    * saw a torn append's rows, so the rewrite discards them) and the
    * periodic stats-friendly rewrite. Content-identical to the durable
    * read; compaction changes layout, never provenance, so a folded
    * table stays marked folded ([[rebase]] is the path back). A table
    * is already canonical when every row is epoch 0 and no recorded
    * `extraProps` key differs from its given value (the cluster map's
    * live-patch marker). NOT concurrent-reader-safe (an in-place
    * overwrite — run in the single-writer window). */
  def compactTable(s: SparkSession, table: String,
      extraProps: Map[String, String] = Map.empty): Unit = {
    // a fold lease surviving into the maintenance window is a CRASHED
    // fold's (this runs in the single-writer window by contract) —
    // clear it so folding can resume once the torn rows are discarded;
    // never restate it below
    if (leaseHolder(s, table).nonEmpty)
      setProps(s, table, Map(FoldLeaseProp -> ""))
    val raw = s.table(table)
    if (!raw.columns.contains(FoldEpochCol)) return
    val props = propsOf(s, table)
      .filter { case (k, _) => k.startsWith("graft.") && k != FoldLeaseProp }
    val dirty =
      extraProps.exists { case (k, v) => props.get(k).exists(_ != v) } ||
        raw.filter(col(FoldEpochCol) =!= 0).head(1).nonEmpty
    if (!dirty) return
    val buckets = numBucketsOf(s, table, bucketCols)
    // materialized OFF the table first (localCheckpoint): Spark refuses
    // to overwrite a table a live plan still scans
    readTable(s, table).withColumn(FoldEpochCol, lit(0)).localCheckpoint()
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet").saveAsTable(table)
    setProps(s, table, props ++ extraProps)
  }

  /** Return a FOLDED artifact table to snapshot-serving status as the
    * canonical artifact of corpus dir `d` — the deliberate
    * snapshot-rotation step (the folds counter is otherwise one-way).
    * The caller asserts that `d` IS the union corpus the folded rows
    * now cover — typically the dir the daily job has been appending
    * batches into. Compacts first so the rebased table is canonical
    * (every row epoch 0, no torn leftovers), then restamps provenance:
    * sourceDir = `d`, folds = 0, plus `extraProps`. After this,
    * conf-resolved SNAPSHOT consumers ([[resolve]] WITHOUT
    * [[DurableArtifact.ServeFoldedConf]]) serve the table directly
    * again, zero rebuilds — without it, a deployment cycling corpus
    * snapshots full-rewrites the table nightly just to reset the
    * counter. */
  def rebase(s: SparkSession, d: String, table: String,
      extraProps: Map[String, String] = Map.empty): Unit = {
    compactTable(s, table, extraProps)
    setProps(s, table,
      Map(SourceDirProp -> normDir(d), FoldsProp -> "0") ++ extraProps)
  }

  /** The recorded snapshot stats iff the durable branch would serve
    * the conf-named table for `d` as a PURE SNAPSHOT (exists, stamped
    * for this dir, params match, folds == 0 — the same gate
    * [[resolve]]'s durable branch applies, minus the folded opt-in)
    * AND the [[DurableArtifact.StatsProp]] property is present (it is
    * stamped by [[write]] and cleared by any fold). One catalog
    * fetch — the catalog-served replacement for a per-serve aggregate
    * over the corpus-sized table. */
  def servedSnapshotStats(s: SparkSession,
      d: String): Option[Map[String, String]] = {
    val t = s.conf.get(tableConf, "")
    if (t.isEmpty) None
    else servableProps(s, t, d).filter(foldsIn(_) == 0)
      .flatMap(_.get(StatsProp)).filter(_.nonEmpty).map(parseParams)
  }

  /** Eviction hook for the session memo: unpersists and forgets one
    * (session, dir) entry — what a long-lived session iterating corpus
    * snapshots calls when a snapshot is superseded. */
  def evict(s: SparkSession, d: String): Unit = memo.evict(s, d)
}

private[graft] object DurableArtifact {
  private[graft] val SourceDirProp = "graft.sourceDir"

  /** The build-parameter provenance stamp: the canonical `k=v;…`
    * string ([[canonParams]]) of the parameters the artifact's rows
    * were derived under. Checked wherever the table is consumed
    * (resolve falls back to building on mismatch; appendDelta and the
    * stream seeds refuse loudly — they have no safe fallback). */
  private[graft] val ParamsProp = "graft.params"

  /** Snapshot statistics stamp (canonical k=v;… rendering, like
    * [[ParamsProp]]): written by [[DurableArtifact.write]] for
    * stats-bearing artifacts, CLEARED (set empty) by every
    * [[DurableArtifact.appendDelta]] flip, served through
    * [[DurableArtifact.servedSnapshotStats]]. */
  private[graft] val StatsProp = "graft.stats"

  /** Canonical, order-independent rendering of a parameter map —
    * sorted `k=v` pairs joined with `;` (keys/values never contain
    * either character in this codebase; enforced so a parse is exact). */
  private[graft] def canonParams(m: Map[String, String]): String = {
    m.foreach { case (k, v) =>
      require(!k.contains('=') && !k.contains(';') &&
          !v.contains('=') && !v.contains(';'),
        s"param '$k' -> '$v' may not contain '=' or ';'")
    }
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
  }

  /** Inverse of [[canonParams]] (empty string → empty map). */
  private[graft] def parseParams(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(';').iterator.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"malformed param entry '$kv'")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

  /** The build params recorded on `table`, if any. */
  private[graft] def recordedParams(s: SparkSession,
      table: String): Option[Map[String, String]] =
    propsOf(s, table).get(ParamsProp).map(parseParams)
  /** Per-row fold-epoch column on every durable artifact table: the
    * snapshot write stamps 0, fold N's append stamps N, and the
    * epoch-consistent read filters `_fe <= committed folds counter` —
    * which is what makes a fold's file append invisible until its
    * single properties flip (file listings may race; the row filter
    * cannot). */
  private[graft] val FoldEpochCol = "_fe"

  /** The epoch-consistent default read: rows of committed epochs
    * only, bookkeeping column dropped. A table without the `_fe`
    * column (a caller-built plain table, e.g. a stream seed's) reads
    * as-is. */
  private[graft] def epochRead(s: SparkSession, t: String): DataFrame =
    upToEpoch(s.table(t), foldsOf(s, t))

  /** `raw`'s rows of fold epochs ≤ `e`, bookkeeping column dropped (a
    * frame without the column passes through). */
  private[graft] def upToEpoch(raw: DataFrame, e: Int): DataFrame =
    if (raw.columns.contains(FoldEpochCol))
      raw.filter(col(FoldEpochCol) <= e).drop(FoldEpochCol)
    else raw
  /** Count of batch deltas folded into the table since its snapshot
    * write ([[DurableArtifact.appendDelta]]). */
  private[graft] val FoldsProp = "graft.folds"

  /** The fold-window writer lease: non-empty while a fold is in
    * flight (set + read-back-verified at fold start, cleared in the
    * SAME statement as the visibility flip). The commit-safe protocol
    * is single-writer by contract; the lease turns a violated
    * assumption — a second concurrent folder, whose interleaved epoch
    * reads and counter bumps would corrupt the table silently — into a
    * loud error at the second writer's entry. Detection, not mutual
    * exclusion: two writers racing the initial SET within one
    * metastore round-trip can still both pass, but any fold that
    * OVERLAPS an in-flight one (the realistic double-scheduled-job
    * case) is refused. A lease left by a crashed JVM is cleared by
    * [[DurableArtifact.compactTable]] (compactClusterMap) — the same
    * single-writer-window recovery pass that discards torn rows. */
  private[graft] val FoldLeaseProp = "graft.foldLease"

  /** Claim the fold-window lease on `table`: refuses if held, then
    * sets a fresh token and read-back-verifies it survived (closing
    * most of the check-then-set window). Returns the token the caller
    * must hand to [[DurableArtifact.appendDelta]] (or release on
    * failure). */
  private[graft] def acquireFoldLease(s: SparkSession,
      table: String): String = {
    val held = leaseHolder(s, table)
    require(held.isEmpty,
      s"fold lease on $table is held ('${held.getOrElse("")}') — a " +
        "concurrent fold is in progress, or a crashed fold left its " +
        "lease; once no writer is live, compactTable/compactClusterMap " +
        "clears it (and discards any torn rows) so folding can resume")
    val token = java.util.UUID.randomUUID().toString
    setProps(s, table, Map(FoldLeaseProp -> token))
    requireLease(s, table, token,
      s"lost the fold-lease race on $table to a concurrent writer " +
        s"(holder: ${leaseHolder(s, table).getOrElse("<none>")})")
    token
  }

  /** The recorded fold-lease holder, if a fold holds the window. */
  private[graft] def leaseHolder(s: SparkSession, table: String): Option[String] =
    propsOf(s, table).get(FoldLeaseProp).filter(_.nonEmpty)

  /** Refuse with `msg` unless `token` is `table`'s recorded holder. */
  private[graft] def requireLease(s: SparkSession, table: String,
      token: String, msg: => String): Unit =
    require(leaseHolder(s, table).contains(token), msg)

  /** Release a held lease WITHOUT a flip (the failed-fold path) — a
    * no-op unless `token` is still the recorded holder, so a stale
    * release can never free a successor's window. */
  private[graft] def releaseFoldLease(s: SparkSession, table: String,
      token: String): Unit =
    if (leaseHolder(s, table).contains(token))
      setProps(s, table, Map(FoldLeaseProp -> ""))

  /** Session conf: set "true" to let [[DurableArtifact.resolve]] serve
    * FOLDED tables (graft.folds > 0 — snapshot corpus plus appended
    * batches). Default false: snapshot-scoped consumers must never
    * silently read a folded table's extra rows, so they fall back to
    * the build path; the daily job that KNOWS it serves the union
    * corpus sets this explicitly. */
  val ServeFoldedConf = "spark.graft.serveFoldedArtifacts"

  /** The bucket count of `table`'s own bucket spec, validated against
    * the artifact's bucket columns — appends must land under the
    * layout the snapshot write established. */
  private[graft] def numBucketsOf(s: SparkSession, table: String,
      bucketCols: Seq[String]): Int = {
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"appendDelta: $table has no bucket spec — not an artifact table"))
    require(spec.bucketColumnNames == bucketCols,
      s"appendDelta: $table is bucketed by ${spec.bucketColumnNames}, " +
        s"artifact expects $bucketCols")
    spec.numBuckets
  }

  /** All table properties in ONE catalog fetch — epoch-aware readers
    * need the folds counter and the patch-live marker from the SAME
    * snapshot of the metadata (they are flipped together in one
    * statement; reading them separately could straddle a flip). */
  private[graft] def propsOf(s: SparkSession, table: String): Map[String, String] =
    s.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** The ONE writer of graft's table properties: every protocol step
    * (provenance stamp, fold flip, lease, compaction restate, rebase)
    * sets its properties in one statement through here, values
    * single-quote-escaped. */
  private def setProps(s: SparkSession, table: String,
      props: Map[String, String]): Unit =
    if (props.nonEmpty)
      s.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" + props.map {
        case (k, v) => s"'$k' = '${v.replace("'", "''")}'" }.mkString(", ") + ")")

  /** Folds recorded on `table` (0 when never folded). */
  private[graft] def foldsOf(s: SparkSession, table: String): Int =
    foldsIn(propsOf(s, table))

  /** The folds counter in an already-fetched property map. */
  private[graft] def foldsIn(props: Map[String, String]): Int =
    props.get(FoldsProp).map(_.toInt).getOrElse(0)

  /** Corpus dirs compare NORMALIZED: equivalent spellings (trailing
    * slash, file: prefix, ./ segments) must hit the durable table, not
    * silently fall back to a corpus-sized rebuild. */
  private[graft] def normDir(d: String): String =
    new java.io.File(d.stripPrefix("file:")).getCanonicalPath

  /** True iff `table` carries `d` (normalized) as its recorded corpus
    * dir. */
  private[graft] def stampedFor(s: SparkSession, table: String,
      d: String): Boolean =
    propsOf(s, table).get(SourceDirProp).contains(normDir(d))

  /** A previous JVM's default-warehouse directory can outlive its
    * in-memory metastore; saveAsTable then refuses to adopt the
    * orphan location (LOCATION_ALREADY_EXISTS) and every fresh
    * session would fall back to the memo build forever. Remove the
    * orphan iff the catalog genuinely has no such table — never a
    * live table's data. */
  private[graft] def dropOrphanWarehouseDir(s: SparkSession,
      table: String): Unit = {
    if (!s.catalog.tableExists(table)) {
      val wh = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        .stripPrefix("file:")
      // default-db tables live at <wh>/<leaf>; any other database at
      // <wh>/<db>.db/<leaf> — derive both segments from the identifier
      // so a db-qualified name can't no-op here while deleting an
      // unrelated same-named directory at the warehouse root
      val parts = table.split('.').map(_.toLowerCase)
      val leaf = parts.last
      val db = parts.length match {
        case 1 => "default"
        case 2 => parts(0)
        case _ => parts(parts.length - 2) // catalog.db.table
      }
      val orphan =
        if (db == "default") java.nio.file.Paths.get(wh, leaf)
        else java.nio.file.Paths.get(wh, s"$db.db", leaf)
      if (java.nio.file.Files.exists(orphan)) {
        val walk = java.nio.file.Files.walk(orphan)
        try {
          walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => { val _ = java.nio.file.Files.deleteIfExists(f) })
        } finally walk.close() // the stream holds a directory handle
      }
    }
  }
}
