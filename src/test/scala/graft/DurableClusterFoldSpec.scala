package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Durable O(batch) persistence of the cluster-map fold
  * ([[ExtensionQueries.foldClusterMapDurable]]). The patch layer must
  * (a) read back ≡ the in-memory fold ≡ the union rebuild, across
  * MULTIPLE folds (patch composition), (b) write only batch-sized
  * data, (c) compact to a canonical snapshot without changing
  * content, (d) serve real consumers (x17 canonical pick, x29 leakage
  * split) from a fresh fold-aware session with zero rebuilds, and —
  * since round 14 — (e) be COMMIT-SAFE: a reader concurrent with a
  * fold sees either the pre-fold or the post-fold map, never a mix
  * (the StreamNearDupSpec replay/torn-write shape applied to the
  * nightly fold: both writes invisible, one properties flip, deferred
  * patch sweep, torn appends detected and recovered by compaction). */
class DurableClusterFoldSpec extends SparkTestBase {
  import graft.operators.Dedup

  private val d = "/root/testdata/sf0.001"
  private val table = "g_cluster_fold_spec"
  private val serveTable = "g_cluster_fold_serve_spec"
  private val cadenceTable = "g_cluster_fold_cadence_spec"
  private val legacyTable = "g_cluster_fold_legacy_spec"
  private val leaseTable = "g_cluster_fold_lease_spec"

  private def dropAll(): Unit = {
    Seq(table, serveTable, cadenceTable, legacyTable, leaseTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_patch")
      spark.sql(s"SHOW TABLES LIKE '${t}_patch_e*'").collect()
        .map(_.getString(1))
        .foreach(p => spark.sql(s"DROP TABLE IF EXISTS $p"))
    }
    ExtensionQueries.evictClusterMap(spark, d)
    ExtensionQueries.ClusterFoldHooks.reset()
  }
  override def beforeAll(): Unit = { super.beforeAll(); dropAll() }
  override def afterAll(): Unit = {
    try {
      dropAll()
      spark.conf.unset(ExtensionQueries.ClusterMapTableConf)
    } finally super.afterAll()
  }

  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("ida", "idb")
  }
  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def ccMap(ps: Seq[(Long, Long)]): DataFrame =
    Dedup.connectedComponents(pairsDf(ps))
      .select(col("node").as("doc_id"), col("cluster_id"))
  private def writeBase(t: String, ps: Seq[(Long, Long)]): Unit = {
    ccMap(ps).withColumn(ExtensionQueries.FoldEpochCol, lit(0))
      .write.bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(t)
    // what the snapshot job's write() stamps — the fold's params guard
    // requires it before folding deltas into the table
    ExtensionQueries.clusterMapArtifact.adoptParams(spark, t)
  }
  private def patch(t: String, e: Int): String =
    ExtensionQueries.clusterPatchTable(t, e)

  private val basePairs =
    Seq((1L, 2L), (10L, 11L), (20L, 21L), (30L, 31L))
  // day 1: 100 bridges clusters {1,2} and {10,11}; (200,201) is a
  // brand-new cluster
  private val day1 = Seq((2L, 100L), (11L, 100L), (200L, 201L))
  // day 2: 300 attaches to cluster 20 (no relabel), and NEW node 0
  // undercuts root 1 — the composition case: day 1 stored 10→1, day 2
  // must compose it to 10→0 alongside the fresh 1→0
  private val day2 = Seq((21L, 300L), (0L, 1L))
  // day 3: within-cluster pair — no relabel, no new node; the patch
  // carries forward unchanged under a new epoch
  private val day3 = Seq((30L, 31L))

  test("durable fold reads back ≡ union rebuild across folds; " +
      "everything written is batch-sized; the patch stays " +
      "single-level; superseded epochs sweep one fold deferred") {
    writeBase(table, basePairs)
    val baseRows = rows(ExtensionQueries.readClusterMap(spark, table))

    ExtensionQueries.foldClusterMapDurable(spark, d, table, pairsDf(day1))
    assert(rows(ExtensionQueries.readClusterMap(spark, table))
      === rows(ccMap(basePairs ++ day1)))
    // batch-sized persistence: base grew by exactly the new nodes
    // (100, 200, 201); the patch holds only the touched-cluster
    // relabel (10→1)
    assert(spark.table(table).count() === baseRows.size + 3)
    assert(rows(spark.table(patch(table, 1))) === Set((10L, 1L)))
    assert(DurableArtifact.foldsOf(spark, table) === 1)

    ExtensionQueries.foldClusterMapDurable(spark, d, table, pairsDf(day2))
    assert(rows(ExtensionQueries.readClusterMap(spark, table))
      === rows(ccMap(basePairs ++ day1 ++ day2)))
    // composed, single-level: day 1's 10→1 became 10→0 next to the
    // fresh 1→0 — no stored value is itself a patch key, so readers
    // always apply exactly one join
    val p2 = rows(spark.table(patch(table, 2)))
    assert(p2 === Set((10L, 0L), (1L, 0L)))
    assert(p2.map(_._2).intersect(p2.map(_._1)).isEmpty)
    assert(DurableArtifact.foldsOf(spark, table) === 2)
    // deferred sweep: epoch-1 patch survives the fold to epoch 2 (a
    // reader that planned at epoch 1 just before the flip keeps it)
    assert(spark.catalog.tableExists(patch(table, 1)))

    ExtensionQueries.foldClusterMapDurable(spark, d, table, pairsDf(day3))
    // pure no-op day: map unchanged, epoch still bumps, the patch
    // carries forward under the new epoch, and the fold to epoch 3
    // sweeps epoch 1 while keeping epoch 2
    assert(rows(ExtensionQueries.readClusterMap(spark, table))
      === rows(ccMap(basePairs ++ day1 ++ day2)))
    assert(DurableArtifact.foldsOf(spark, table) === 3)
    assert(rows(spark.table(patch(table, 3))) === p2)
    assert(!spark.catalog.tableExists(patch(table, 1)))
    assert(spark.catalog.tableExists(patch(table, 2)))
  }

  test("commit safety: a reader planning at EITHER interleave point " +
      "of the fold sees exactly the pre-fold map; after the fold, " +
      "exactly the post-fold map") {
    val pre = rows(ExtensionQueries.readClusterMap(spark, table))
    // day 4 both relabels (1000 bridges clusters {20,21,300} and
    // {30,31} — retiring root 30) and appends (1000, plus fresh pair
    // (400,401)), so BOTH staged writes are non-trivial
    val day4 = Seq((21L, 1000L), (31L, 1000L), (400L, 401L))
    var probed = 0
    val probe = () => {
      // a fresh plan at this instant must see the PRE-fold map: the
      // staged epoch-(e+1) patch is unresolved, appended rows carry
      // _fe = e+1 and fall to the reader's epoch filter
      assert(rows(ExtensionQueries.readClusterMap(spark, table)) === pre)
      probed += 1
    }
    ExtensionQueries.ClusterFoldHooks.afterPatchWrite = probe
    ExtensionQueries.ClusterFoldHooks.beforeFlip = probe
    try
      ExtensionQueries.foldClusterMapDurable(spark, d, table, pairsDf(day4))
    finally ExtensionQueries.ClusterFoldHooks.reset()
    assert(probed === 2)
    assert(rows(ExtensionQueries.readClusterMap(spark, table))
      === rows(ccMap(basePairs ++ day1 ++ day2 ++ day4)))
  }

  test("a plan held across two or more folds fails loudly instead of " +
      "silently serving unrelabeled rows") {
    // the sweep keeps exactly one prior epoch; simulate the overheld
    // reader by dropping the live patch out from under the property
    val e = DurableArtifact.foldsOf(spark, table)
    val props = DurableArtifact.propsOf(spark, table)
    if (props.get(ExtensionQueries.ClusterPatchLiveProp)
        .exists(_.toBoolean)) {
      spark.sql(s"ALTER TABLE ${patch(table, e)} RENAME TO ${table}_hidden")
      try {
        val ex = intercept[IllegalStateException] {
          ExtensionQueries.readClusterMap(spark, table)
        }
        assert(ex.getMessage.contains("re-plan"))
      } finally spark.sql(
        s"ALTER TABLE ${table}_hidden RENAME TO ${patch(table, e)}")
    } else fail("fixture drift: expected a live patch at this point")
  }

  test("compaction folds the patch into a canonical snapshot: content " +
      "identical, all patch epochs gone, every row epoch 0, bucket " +
      "layout and provenance kept") {
    val before = rows(ExtensionQueries.readClusterMap(spark, table))
    val foldsBefore = DurableArtifact.foldsOf(spark, table)
    ExtensionQueries.compactClusterMap(spark, table)
    assert(spark.sql(s"SHOW TABLES LIKE '${table}_patch_e*'").count() === 0)
    // the BASE now carries the folded labels on its own
    assert(rows(spark.table(table)
      .select(col("doc_id"), col("cluster_id"))) === before)
    assert(rows(ExtensionQueries.readClusterMap(spark, table)) === before)
    assert(spark.table(table)
      .agg(max(col(ExtensionQueries.FoldEpochCol))).head().getInt(0) === 0)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("doc_id")))
    // compaction changes layout, never content: the folds marker must
    // survive so snapshot consumers still refuse the table
    assert(DurableArtifact.foldsOf(spark, table) === foldsBefore)
    // compacting again is a no-op, not an error
    ExtensionQueries.compactClusterMap(spark, table)
  }

  test("a torn new-node append (crash between files and flip) is " +
      "detected, refused, and recovered by compaction") {
    val e = DurableArtifact.foldsOf(spark, table)
    val committed = rows(ExtensionQueries.readClusterMap(spark, table))
    // simulate the crash: rows stamped ABOVE the committed epoch with
    // no flip — exactly what a fold dying after its file append leaves
    import spark.implicits._
    Seq((9000L, 9000L)).toDF("doc_id", "cluster_id")
      .withColumn(ExtensionQueries.FoldEpochCol, lit(e + 1))
      .write.mode("append").bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(table)
    // readers never see the torn rows
    assert(rows(ExtensionQueries.readClusterMap(spark, table)) === committed)
    // the next fold refuses to append on top of them
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.foldClusterMapDurable(spark, d, table,
        pairsDf(Seq((500L, 501L))))
    }
    assert(ex.getMessage.contains("torn append"))
    // recovery: compaction rewrites from the epoch-filtered read —
    // the torn rows are gone, folding resumes
    ExtensionQueries.compactClusterMap(spark, table)
    assert(rows(spark.table(table)
      .select(col("doc_id"), col("cluster_id"))) === committed)
    ExtensionQueries.foldClusterMapDurable(spark, d, table,
      pairsDf(Seq((500L, 501L))))
    assert(rows(ExtensionQueries.readClusterMap(spark, table))
      === committed ++ Set((500L, 500L), (501L, 500L)))
  }

  test("auto-compaction cadence: the threshold fires mid-sequence, " +
      "patched reads stay correct throughout, folding continues") {
    writeBase(cadenceTable, basePairs)
    var ps = basePairs
    // three folds, each retiring one root (merging the next cluster
    // pair into cluster 1's component); threshold 2 fires on the
    // second fold, when the composed patch reaches 2 rows
    val days = Seq(Seq((2L, 10L)), Seq((11L, 20L)), Seq((21L, 30L)))
    days.zipWithIndex.foreach { case (day, i) =>
      ExtensionQueries.foldClusterMapDurable(spark, d, cadenceTable,
        pairsDf(day), autoCompactAtPatchRows = 2)
      ps = ps ++ day
      assert(rows(ExtensionQueries.readClusterMap(spark, cadenceTable))
        === rows(ccMap(ps)), s"after fold ${i + 1}")
    }
    // fold 1 left a 1-row patch (under threshold); fold 2 composed it
    // to 2 rows and compacted (patch gone, folds counter kept); fold
    // 3 started from a clean base and left a fresh 1-row patch
    assert(DurableArtifact.foldsOf(spark, cadenceTable) === 3)
    assert(!spark.catalog.tableExists(patch(cadenceTable, 2)))
    assert(rows(spark.table(patch(cadenceTable, 3))).size === 1)
  }

  test("x17/x29 serve green off a patched map in a fresh fold-aware " +
      "session, zero rebuilds — half the pair set written as the " +
      "snapshot, the other half folded durably; rebase then returns " +
      "the table to snapshot consumers") {
    // fold ≡ rebuild means snapshot(half A) + durable-fold(half B)
    // must equal the full map of d — so consumers served from the
    // patched table must reproduce their (driver-hash-checked) rows
    val docs = Tables.documents(spark, d)
    val all = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8).select("ida", "idb").persist()
    val halfA = all.filter(pmod(col("ida") + col("idb"), lit(2)) === 0)
    val halfB = all.filter(pmod(col("ida") + col("idb"), lit(2)) === 1)
    Dedup.connectedComponents(halfA)
      .select(col("node").as("doc_id"), col("cluster_id"))
      .withColumn(ExtensionQueries.FoldEpochCol, lit(0))
      .write.bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(serveTable)
    spark.sql(s"ALTER TABLE $serveTable SET TBLPROPERTIES " +
      s"('${DurableArtifact.SourceDirProp}' = '${DurableArtifact.normDir(d)}')")
    ExtensionQueries.clusterMapArtifact.adoptParams(spark, serveTable)
    ExtensionQueries.foldClusterMapDurable(spark, d, serveTable, halfB)
    all.unpersist()

    // the patched table IS the snapshot map of d
    val memoMap = rows(ExtensionQueries.nearDupClusterMap(spark, d))
    assert(rows(ExtensionQueries.readClusterMap(spark, serveTable))
      === memoMap)

    val want17 = SparkEntry.queries("x17_cluster_canonical")(spark, d)
      .collect().map(_.toSeq).toSeq
    val want29 = SparkEntry.queries("x29_leakage_split")(spark, d)
      .collect().map(_.toSeq).toSeq

    val s2 = spark.newSession()
    s2.conf.set(ExtensionQueries.ClusterMapTableConf, serveTable)
    s2.conf.set(DurableArtifact.ServeFoldedConf, "true")
    val builds = ExtensionQueries.clusterMapBuilds.get()
    assert(SparkEntry.queries("x17_cluster_canonical")(s2, d)
      .collect().map(_.toSeq).toSeq === want17)
    assert(SparkEntry.queries("x29_leakage_split")(s2, d)
      .collect().map(_.toSeq).toSeq === want29)
    assert(ExtensionQueries.clusterMapBuilds.get() === builds,
      "fold-aware conf-resolved consumers must serve the patched " +
        "table, never rebuild")

    // WITHOUT the opt-in, the folded table is refused and the session
    // falls back to a build — the snapshot-consumer guard
    val s3 = spark.newSession()
    s3.conf.set(ExtensionQueries.ClusterMapTableConf, serveTable)
    ExtensionQueries.nearDupClusterMap(s3, d).count()
    assert(ExtensionQueries.clusterMapBuilds.get() === builds + 1,
      "a snapshot consumer must not silently read a folded table")
    ExtensionQueries.evictClusterMap(s3, d)

    // REBASE: the deliberate snapshot-rotation step — after it, a
    // plain snapshot consumer serves the table with zero rebuilds
    ExtensionQueries.rebaseClusterMap(spark, d, serveTable)
    assert(DurableArtifact.foldsOf(spark, serveTable) === 0)
    assert(rows(spark.table(serveTable)
      .select(col("doc_id"), col("cluster_id"))) === memoMap)
    val s4 = spark.newSession()
    s4.conf.set(ExtensionQueries.ClusterMapTableConf, serveTable)
    val builds2 = ExtensionQueries.clusterMapBuilds.get()
    assert(rows(ExtensionQueries.nearDupClusterMap(s4, d)) === memoMap)
    assert(ExtensionQueries.clusterMapBuilds.get() === builds2,
      "a rebased table must serve snapshot consumers directly")
  }

  test("a round-13 LEGACY layout (folds>0, unsuffixed patch, no epoch " +
      "column) serves its stored relabels, refuses further folds, and " +
      "compactClusterMap migrates it to the epoch layout in one pass") {
    // base WITHOUT the epoch column + a bumped folds counter + the
    // unsuffixed patch table: exactly what the round-13 code persisted
    ccMap(basePairs).write.bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(legacyTable)
    spark.sql(s"ALTER TABLE $legacyTable SET TBLPROPERTIES (" +
      s"'${DurableArtifact.SourceDirProp}' = '${DurableArtifact.normDir(d)}', " +
      s"'${DurableArtifact.FoldsProp}' = '1')")
    import spark.implicits._
    Seq((10L, 1L)).toDF("old_cluster_id", "new_cluster_id")
      .write.format("parquet")
      .saveAsTable(ExtensionQueries.legacyClusterPatchTable(legacyTable))
    val want = rows(ccMap(basePairs))
      .map { case (n, c) => (n, if (c == 10L) 1L else c) }
    assert(rows(ExtensionQueries.readClusterMap(spark, legacyTable)) === want,
      "the legacy patch must be applied, never silently dropped")

    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.foldClusterMapDurable(spark, d, legacyTable,
        pairsDf(Seq((0L, 1L))))
    }
    assert(ex.getMessage.contains("compactClusterMap"),
      "the refusal must point at the migration pass")

    ExtensionQueries.compactClusterMap(spark, legacyTable)
    assert(spark.table(legacyTable).columns
      .contains(ExtensionQueries.FoldEpochCol))
    assert(!spark.catalog.tableExists(
      ExtensionQueries.legacyClusterPatchTable(legacyTable)),
      "the migrated legacy patch must be retired")
    assert(rows(ExtensionQueries.readClusterMap(spark, legacyTable)) === want)
    assert(DurableArtifact.foldsOf(spark, legacyTable) === 1,
      "migration changes layout, never provenance")
    // a legacy table also predates PARAM stamping: the fold refuses
    // until the operator asserts the build params via adoptParams (the
    // layout migrate and the params adoption are separate, explicit
    // one-shots — the engine never guesses what a table was built with)
    val exP = intercept[IllegalArgumentException] {
      ExtensionQueries.foldClusterMapDurable(spark, d, legacyTable,
        pairsDf(Seq((0L, 1L))))
    }
    assert(exP.getMessage.contains("adoptParams"),
      s"the refusal must name the adoption step: ${exP.getMessage}")
    ExtensionQueries.clusterMapArtifact.adoptParams(spark, legacyTable)
    // …and the commit-safe fold now runs on the migrated table
    ExtensionQueries.foldClusterMapDurable(spark, d, legacyTable,
      pairsDf(Seq((0L, 1L))))
    assert(rows(ExtensionQueries.readClusterMap(spark, legacyTable))
      === want.map { case (n, c) => (n, if (c == 1L) 0L else c) } +
        ((0L, 0L)))
  }

  test("the cluster fold claims the writer lease BEFORE patch staging: " +
      "an overlapping second fold is refused loudly, the flip releases " +
      "the lease, and the refused fold retries cleanly") {
    writeBase(leaseTable, basePairs)
    var refused: Option[String] = None
    ExtensionQueries.ClusterFoldHooks.afterPatchWrite = () => {
      // a double-scheduled nightly job: the second fold arrives while
      // the first holds the window (patch staged, nothing flipped)
      val ex = intercept[IllegalArgumentException] {
        ExtensionQueries.foldClusterMapDurable(spark, d, leaseTable,
          pairsDf(Seq((21L, 600L))))
      }
      refused = Some(ex.getMessage)
    }
    try
      ExtensionQueries.foldClusterMapDurable(spark, d, leaseTable,
        pairsDf(day1))
    finally ExtensionQueries.ClusterFoldHooks.reset()
    assert(refused.exists(_.contains("lease")),
      "the overlapping fold must fail on the lease, not corrupt the patch")
    assert(DurableArtifact.propsOf(spark, leaseTable)
      .get(DurableArtifact.FoldLeaseProp).forall(_.isEmpty),
      "the flip must release the lease")
    assert(rows(ExtensionQueries.readClusterMap(spark, leaseTable))
      === rows(ccMap(basePairs ++ day1)))
    // the refused fold wrote nothing — its retry folds exactly once
    ExtensionQueries.foldClusterMapDurable(spark, d, leaseTable,
      pairsDf(Seq((21L, 600L))))
    assert(rows(ExtensionQueries.readClusterMap(spark, leaseTable))
      === rows(ccMap(basePairs ++ day1 ++ Seq((21L, 600L)))))

    // a fold that fails its OWN guards (torn-append detection runs
    // INSIDE the lease window, so the epoch it guards is the one it
    // stages at) releases the lease on the way out — the recovery
    // message stays the torn-append one, not a wedged lease
    import spark.implicits._
    val e = DurableArtifact.foldsOf(spark, leaseTable)
    Seq((9100L, 9100L)).toDF("doc_id", "cluster_id")
      .withColumn(ExtensionQueries.FoldEpochCol,
        org.apache.spark.sql.functions.lit(e + 1))
      .write.mode("append").bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(leaseTable)
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.foldClusterMapDurable(spark, d, leaseTable,
        pairsDf(Seq((31L, 700L))))
    }
    assert(ex.getMessage.contains("torn append"))
    assert(DurableArtifact.propsOf(spark, leaseTable)
      .get(DurableArtifact.FoldLeaseProp).forall(_.isEmpty),
      "a guard-failed fold must release its lease")
  }

  test("a fold whose lease was usurped by the set-set-verify-verify " +
      "interleave dies BEFORE staging its patch — the staged-patch " +
      "overwrite window is closed by the pre-staging re-verify") {
    val t = "g_cluster_fold_usurp_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    writeBase(t, basePairs)
    val before = rows(ExtensionQueries.readClusterMap(spark, t))
    // simulate the loser of the A-set/B-set/A-verify(B's token)/…
    // interleave: by the time this fold reaches its staging write, the
    // recorded holder is someone else — it must abort WITHOUT writing
    // the epoch-1 patch table (which would have silently replaced the
    // winner's staged relabels)
    ExtensionQueries.ClusterFoldHooks.beforeStagePatch = () =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
        s"('${DurableArtifact.FoldLeaseProp}' = 'the-other-writer')")
    val ex = try intercept[IllegalArgumentException] {
      ExtensionQueries.foldClusterMapDurable(spark, d, t, pairsDf(day2))
    } finally ExtensionQueries.ClusterFoldHooks.reset()
    assert(ex.getMessage.contains("lost the fold lease"),
      s"wrong failure: ${ex.getMessage}")
    assert(!spark.catalog.tableExists(patch(t, 1)),
      "the usurped fold must never stage its patch")
    assert(rows(ExtensionQueries.readClusterMap(spark, t)) === before)
    // recovery is the usual crashed-lease path
    ExtensionQueries.compactClusterMap(spark, t)
    ExtensionQueries.foldClusterMapDurable(spark, d, t, pairsDf(day2))
    assert(rows(ExtensionQueries.readClusterMap(spark, t))
      === rows(ccMap(basePairs ++ day2)))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${patch(t, 1)}")
  }
}
