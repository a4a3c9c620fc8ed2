package graft.operators

import graft.{ExtensionQueries, SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame

/** The durable-table story for the round-10 memo-only artifacts —
  * x35b's LSH band/set tables, x34b's corpus fingerprint set, x36's
  * probed embedding buckets — on the posting-index pattern
  * (IncrementalIndexSpec): the snapshot job writes a bucketed,
  * provenance-stamped catalog table; consumers with the conf set serve
  * from it with ZERO rebuilds (the builds counters stay flat); the
  * served rows equal the memo-build rows verbatim; and a fresh session
  * sharing the catalog reads the table directly. A real daily job is a
  * fresh JVM — before this, every serve-side query silently rebuilt
  * the corpus artifact it claims to avoid. */
class DurableArtifactsSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  private val lshBase = "g_lsh_artifact_spec"
  private val fpTable = "g_corpus_fp_spec"
  private val embTable = "g_emb_buckets_spec"

  private def dropAll(): Unit = {
    Seq(s"${lshBase}_banded", s"${lshBase}_sets", fpTable, embTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    ExtensionQueries.evictLshArtifacts(spark, d)
    ExtensionQueries.evictCorpusFp(spark, d)
    ExtensionQueries.evictEmbBuckets(spark, d)
  }

  override def beforeAll(): Unit = { super.beforeAll(); dropAll() }
  override def afterAll(): Unit = {
    try {
      dropAll()
      Seq(ExtensionQueries.lshBandedArtifact.tableConf,
        ExtensionQueries.lshSetsArtifact.tableConf,
        ExtensionQueries.corpusFpArtifact.tableConf,
        ExtensionQueries.embBucketsArtifact.tableConf,
        ExtensionQueries.PostingIndexTableConf)
        .foreach { c => if (spark.conf.getOption(c).isDefined) spark.conf.unset(c) }
    } finally super.afterAll()
  }

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** Raw table content MINUS the fold-epoch bookkeeping column every
    * durable write stamps since the epoch protocol generalized. */
  private def tableRows(t: String) =
    rows(spark.table(t).drop(graft.DurableArtifact.FoldEpochCol))

  private def bucketSpec(table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec

  test("x35b serves from the written LSH tables with zero rebuilds, " +
      "rows identical to the memo path; bucket layout on the join keys") {
    // memo-path truth first (no conf set)
    val viaMemo = rows(SparkEntry.queries("x35b_lsh_from_artifact")(spark, d))
    assert(viaMemo.nonEmpty)

    ExtensionQueries.useLshArtifacts(spark, d, lshBase)
    ExtensionQueries.evictLshArtifacts(spark, d) // kill the memo path
    val bandedBuilds = ExtensionQueries.lshBandedArtifact.builds.get()
    val setsBuilds = ExtensionQueries.lshSetsArtifact.builds.get()
    val viaTable = rows(SparkEntry.queries("x35b_lsh_from_artifact")(spark, d))
    assert(viaTable === viaMemo)
    assert(ExtensionQueries.lshBandedArtifact.builds.get() === bandedBuilds &&
      ExtensionQueries.lshSetsArtifact.builds.get() === setsBuilds,
      "conf-resolved x35b must not rebuild either LSH artifact")

    assert(bucketSpec(s"${lshBase}_banded").exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("_bh")))
    assert(bucketSpec(s"${lshBase}_sets").exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("_id")))

    // a fresh session sharing the catalog reads the tables directly
    val s2 = spark.newSession()
    s2.conf.set(ExtensionQueries.lshBandedArtifact.tableConf, s"${lshBase}_banded")
    s2.conf.set(ExtensionQueries.lshSetsArtifact.tableConf, s"${lshBase}_sets")
    assert(s2.table(s"${lshBase}_banded").count() > 0)
    assert(s2.table(s"${lshBase}_sets").count() > 0)
    spark.conf.unset(ExtensionQueries.lshBandedArtifact.tableConf)
    spark.conf.unset(ExtensionQueries.lshSetsArtifact.tableConf)
  }

  test("x34b serves the fp probe from the written fp table with zero " +
      "rebuilds, verdicts identical to the memo path") {
    val viaMemo = rows(SparkEntry.queries("x34b_curation_from_index")(spark, d))
    assert(viaMemo.nonEmpty)

    ExtensionQueries.useCorpusFp(spark, d, fpTable)
    ExtensionQueries.evictCorpusFp(spark, d)
    val before = ExtensionQueries.corpusFpArtifact.builds.get()
    val viaTable = rows(SparkEntry.queries("x34b_curation_from_index")(spark, d))
    assert(viaTable === viaMemo)
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === before,
      "conf-resolved x34b must not rebuild the fp set")
    assert(bucketSpec(fpTable).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("fp")))

    // provenance mismatch: the table was written for sf0.001 — a
    // different dir must trigger a fresh build, never serve stale fps
    val d2 = "/root/testdata/sf0.01"
    ExtensionQueries.evictCorpusFp(spark, d2)
    ExtensionQueries.docsCorpusFp(spark, d2).count()
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === before + 1,
      "mismatched provenance must trigger a fresh build for the right dir")
    ExtensionQueries.evictCorpusFp(spark, d2)
    spark.conf.unset(ExtensionQueries.corpusFpArtifact.tableConf)
  }

  test("x36 serves candidates from the written probed-bucket table " +
      "with zero rebuilds, pairs identical to the memo path") {
    val viaMemo = rows(SparkEntry.queries("x36_incremental_embed_neardup")(spark, d))
    assert(viaMemo.nonEmpty)

    ExtensionQueries.useEmbBuckets(spark, d, embTable)
    ExtensionQueries.evictEmbBuckets(spark, d)
    val before = ExtensionQueries.embBucketsArtifact.builds.get()
    val viaTable = rows(SparkEntry.queries("x36_incremental_embed_neardup")(spark, d))
    assert(viaTable === viaMemo)
    assert(ExtensionQueries.embBucketsArtifact.builds.get() === before,
      "conf-resolved x36 must not rebuild the probed buckets")
    assert(bucketSpec(embTable).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("_bucket")))
    spark.conf.unset(ExtensionQueries.embBucketsArtifact.tableConf)
  }

  test("appendTo* ≡ rebuild on the union corpus for every append-only " +
      "artifact (fp set, LSH band/set, emb buckets)") {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val docs = Tables.wide(Tables.documents(spark, d))
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    // disjoint id domain + perturbed text so fps genuinely differ
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 1000000000000L).as("doc_id"),
        concat(col("text"), lit(" zzfold")).as("text"))
    val union = corpus.unionByName(batch)

    // fp set
    assert(rows(ExtensionQueries.appendToCorpusFp(
        ExtensionQueries.curationCorpusFp(corpus), batch))
      === rows(ExtensionQueries.curationCorpusFp(union)))

    // LSH band/set tables (sets compared order-insensitively — the
    // collect_list shingle order is not part of the contract)
    def normSets(df: DataFrame) = rows(
      df.select(col("_id"), sort_array(col("_set")).as("_set")))
    val cs = Dedup.lshSigSet(corpus, "doc_id", "text", n = 3,
      numHashes = 128)
    val (aBanded, aSets) = Dedup.appendToLshArtifacts(
      Dedup.lshBanded(cs, 128, 32), cs.select(col("_id"), col("_set")),
      batch, "doc_id", "text", n = 3, numHashes = 128, bands = 32)
    val us = Dedup.lshSigSet(union, "doc_id", "text", n = 3,
      numHashes = 128)
    assert(rows(aBanded) === rows(Dedup.lshBanded(us, 128, 32)))
    assert(normSets(aSets) === normSets(us.select(col("_id"), col("_set"))))

    // emb buckets
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val embC = emb.filter(col("vec_id") < 150)
    val embB = emb.filter(col("vec_id") >= 150 && col("vec_id") < 200)
      .select((col("vec_id") + 1000000000000L).as("vec_id"),
        col("embedding"))
    assert(rows(Similarity.appendToEmbBuckets(
        Similarity.probedBuckets(embC, "vec_id", "embedding", dim = 64),
        embB, "vec_id", "embedding", dim = 64))
      === rows(Similarity.probedBuckets(embC.unionByName(embB), "vec_id",
        "embedding", dim = 64)))
  }

  test("appendDelta folds a batch delta into the durable fp table: " +
      "O(batch) bucketed INSERT, folds counter bumps, layout survives, " +
      "the folded table serves with zero rebuilds") {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val t = "g_corpus_fp_fold_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val base = tableRows(t)
    assert(graft.DurableArtifact.foldsOf(spark, t) === 0)

    // the day's survivors: perturbed texts → genuinely new fps
    val batch = Tables.wide(Tables.documents(spark, d))
      .select((col("doc_id") + 1000000000000L).as("doc_id"),
        concat(col("text"), lit(" zzday1")).as("text"))
      .filter(col("doc_id") % 3 === 0)
    val delta = ExtensionQueries.corpusFpDelta(spark.table(t), batch)
    val deltaRows = rows(delta)
    assert(deltaRows.nonEmpty && deltaRows.intersect(base).isEmpty)

    // a recorded snapshot-stats stamp must not survive the fold: the
    // numbers describe the PRE-fold content, and the clear rides the
    // same visibility flip as the folds counter (one statement)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${graft.DurableArtifact.StatsProp}' = 'so=1;co=1')")

    val before = ExtensionQueries.corpusFpArtifact.builds.get()
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    assert(graft.DurableArtifact.propsOf(spark, t)
        .get(graft.DurableArtifact.StatsProp).forall(_.isEmpty),
      "appendDelta's flip must clear the snapshot stats stamp")
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === before,
      "the fold must never rebuild the corpus artifact")
    assert(graft.DurableArtifact.foldsOf(spark, t) === 1)
    assert(tableRows(t) === base ++ deltaRows)
    assert(bucketSpec(t).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("fp")))

    // SNAPSHOT consumers must NOT silently read the folded table's
    // extra rows: without the fold-aware opt-in, resolve falls back
    // to the build path (provenance guard — the folds counter marks
    // the table as corpus+batch, not the pure snapshot of d)
    val s2 = spark.newSession()
    s2.conf.set(ExtensionQueries.corpusFpArtifact.tableConf, t)
    assert(rows(ExtensionQueries.docsCorpusFp(s2, d)) === base,
      "a snapshot consumer served a folded table's extra rows")
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === before + 1,
      "the snapshot consumer should have fallen back to a build")
    ExtensionQueries.evictCorpusFp(s2, d)

    // a fold-AWARE fresh session opts in and serves the FOLDED set
    // straight from the table, zero rebuilds
    val s3 = spark.newSession()
    s3.conf.set(ExtensionQueries.corpusFpArtifact.tableConf, t)
    s3.conf.set(graft.DurableArtifact.ServeFoldedConf, "true")
    assert(rows(ExtensionQueries.docsCorpusFp(s3, d)) === base ++ deltaRows)
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === before + 1)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("appendDelta adopts the existing table's own bucket spec and " +
      "refuses a non-artifact (unbucketed) table") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_bucketspec_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // snapshot written with a NON-default bucket count: the fold must
    // append under 4 buckets, not a hardcoded 8
    ExtensionQueries.corpusFpArtifact.write(spark, d, t, buckets = 4)
    ExtensionQueries.evictCorpusFp(spark, d)
    val delta = spark.range(3).select(md5(col("id").cast("string")).as("fp"))
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    assert(bucketSpec(t).exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("fp")))

    val u = "g_fp_unbucketed_spec"
    spark.sql(s"DROP TABLE IF EXISTS $u")
    spark.range(1).select(md5(col("id").cast("string")).as("fp"))
      .write.format("parquet").saveAsTable(u)
    intercept[IllegalStateException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, u, delta)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS $u")
  }

  test("appendDelta folds a batch's bands into the durable LSH banded " +
      "table — the same INSERT machinery generalizes per artifact") {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val t = "g_lsh_banded_fold_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.lshBandedArtifact.write(spark, d, t)
    ExtensionQueries.evictLshArtifacts(spark, d)
    val base = tableRows(t)

    val batch = Tables.wide(Tables.documents(spark, d))
      .select((col("doc_id") + 1000000000000L).as("doc_id"),
        concat(col("text"), lit(" zzday2")).as("text"))
      .filter(col("doc_id") % 5 === 0)
    val delta = Dedup.lshBanded(
      Dedup.lshSigSet(batch, "doc_id", "text", n = 3, numHashes = 128),
      128, 32)
    ExtensionQueries.lshBandedArtifact.appendDelta(spark, d, t, delta)
    assert(graft.DurableArtifact.foldsOf(spark, t) === 1)
    assert(tableRows(t) === base ++ rows(delta))
    assert(bucketSpec(t).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("_bh")))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("x41's day-2 serve through DURABLY folded LSH tables (appendDelta " +
      "+ fold-aware resolve) ≡ the in-memory fold serve") {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val tb = "g_lsh_banded_e2e_spec"; val ts = "g_lsh_sets_e2e_spec"
    Seq(tb, ts).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    def revBatch(s: org.apache.spark.sql.SparkSession, offset: Long) =
      Tables.wide(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 7 === 2)
        .select((col("doc_id") + offset).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text"))
    // day-1 survivors: reversed-word pages — share no shingles with
    // the forward corpus, so nothing in the SNAPSHOT tables can pair
    // with day 2; every cross-day pair below exists only via the fold
    val s1 = revBatch(spark, 1000000000000L)
    // day-2: resubmissions of the day-1 survivors (identical text)
    val b2 = revBatch(spark, 2000000000000L)

    // the in-memory fold serve (x41's lazy-plan shape)
    val docs = Tables.wide(Tables.documents(spark, d))
      .select(col("doc_id"), col("text"))
    val ss = Dedup.lshSigSet(docs, "doc_id", "text", n = 3, numHashes = 128)
    val (banded1, sets1) = Dedup.appendToLshArtifacts(
      Dedup.lshBanded(ss, 128, 32), ss.select(col("_id"), col("_set")),
      s1, "doc_id", "text", n = 3, numHashes = 128, bands = 32)
    val inMem = rows(Dedup.incrementalLshFromArtifacts(banded1, sets1, b2,
        "doc_id", "text", n = 3, numHashes = 128, bands = 32,
        threshold = 0.8)
      .select(col("ida"), col("idb")))

    // the durable fold: snapshot tables + appendDelta of the day's
    // band/set deltas (both under their own bucket specs)
    ExtensionQueries.lshBandedArtifact.write(spark, d, tb)
    ExtensionQueries.lshSetsArtifact.write(spark, d, ts)
    ExtensionQueries.evictLshArtifacts(spark, d)
    val ds = Dedup.lshSigSet(s1, "doc_id", "text", n = 3, numHashes = 128)
    ExtensionQueries.lshBandedArtifact.appendDelta(spark, d, tb,
      Dedup.lshBanded(ds, 128, 32))
    ExtensionQueries.lshSetsArtifact.appendDelta(spark, d, ts,
      ds.select(col("_id"), col("_set")))

    // the daily job: a fold-AWARE fresh session serves day 2 straight
    // from the folded catalog tables, zero rebuilds
    val before = (ExtensionQueries.lshBandedArtifact.builds.get(),
      ExtensionQueries.lshSetsArtifact.builds.get())
    val s3 = spark.newSession()
    s3.conf.set(ExtensionQueries.lshBandedArtifact.tableConf, tb)
    s3.conf.set(ExtensionQueries.lshSetsArtifact.tableConf, ts)
    s3.conf.set(graft.DurableArtifact.ServeFoldedConf, "true")
    val (cb, cs) = ExtensionQueries.docsLshArtifacts(s3, d)
    val durable = rows(Dedup.incrementalLshFromArtifacts(cb, cs,
        revBatch(s3, 2000000000000L), "doc_id", "text", n = 3,
        numHashes = 128, bands = 32, threshold = 0.8)
      .select(col("ida"), col("idb")))
    assert((ExtensionQueries.lshBandedArtifact.builds.get(),
      ExtensionQueries.lshSetsArtifact.builds.get()) === before,
      "the fold-aware durable serve must never rebuild")
    assert(durable === inMem,
      "durably-folded tables must serve the exact in-memory-fold pairs")
    // fold-dependence: a day-1-survivor × day-2 pair cannot come from
    // the snapshot (no shared shingles with the forward corpus)
    assert(durable.exists { r =>
      val ida = r.head.asInstanceOf[Long]; val idb = r(1).asInstanceOf[Long]
      ida >= 1000000000000L && ida < 2000000000000L && idb >= 2000000000000L
    }, "expected at least one cross-day pair provable only via the fold")
    Seq(tb, ts).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("x42's day-2 candidates through the DURABLY folded emb-bucket " +
      "table ≡ the in-memory fold — the vector twin, completing the " +
      "durable-fold serve matrix (fp/LSH/emb)") {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val te = "g_emb_buckets_e2e_spec"
    spark.sql(s"DROP TABLE IF EXISTS $te")

    def batch(s: org.apache.spark.sql.SparkSession, offset: Long,
        eps: Double) =
      Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .filter(col("vec_id") % 3 === 2)
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => -x + lit(eps)).cast("array<float>").as("embedding"))
    // day-1 survivors: NEGATED vectors — cosine −1 against every
    // forward corpus vector, so a day-2 re-embed of one (−x+0.001) can
    // only be caught through the fold
    val s1 = batch(spark, 1000000L, 0.0)
    val b2 = batch(spark, 2000000L, 0.001)

    // in-memory fold serve
    val corpus0 = Similarity.probedBuckets(
      Tables.embeddings(spark, d).filter(col("vec_id") < 200)
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12)
    val inMem = rows(Similarity.incrementalLshCandidates(
      Similarity.appendToEmbBuckets(corpus0, s1, "vec_id", "embedding",
        dim = 64, nPlanes = 12),
      b2, "vec_id", "embedding", dim = 64, nPlanes = 12))

    // durable fold: snapshot table + appendDelta of the batch's own
    // probed buckets (hyperplanes corpus-independent)
    ExtensionQueries.embBucketsArtifact.write(spark, d, te)
    ExtensionQueries.evictEmbBuckets(spark, d)
    ExtensionQueries.embBucketsArtifact.appendDelta(spark, d, te,
      Similarity.probedBuckets(s1, "vec_id", "embedding",
        dim = 64, nPlanes = 12))

    val before = ExtensionQueries.embBucketsArtifact.builds.get()
    val s3 = spark.newSession()
    s3.conf.set(ExtensionQueries.embBucketsArtifact.tableConf, te)
    s3.conf.set(graft.DurableArtifact.ServeFoldedConf, "true")
    val durable = rows(Similarity.incrementalLshCandidates(
      ExtensionQueries.docsEmbBuckets(s3, d),
      batch(s3, 2000000L, 0.001), "vec_id", "embedding",
      dim = 64, nPlanes = 12))
    assert(ExtensionQueries.embBucketsArtifact.builds.get() === before,
      "the fold-aware durable serve must never rebuild")
    assert(durable === inMem,
      "durably-folded bucket table must serve the exact candidates")
    assert(durable.exists { r =>
      val ida = r.head.asInstanceOf[Long]; val idb = r(1).asInstanceOf[Long]
      ida >= 1000000L && ida < 2000000L && idb >= 2000000L
    }, "expected a day-1-survivor × day-2 candidate only the fold enables")
    spark.sql(s"DROP TABLE IF EXISTS $te")
  }

  test("use() rewrites a table stamped for another dir instead of " +
      "silently falling back to the memo for every consumer") {
    val d2 = "/root/testdata/sf0.01"
    ExtensionQueries.useCorpusFp(spark, d, fpTable) // stamped for d
    ExtensionQueries.useCorpusFp(spark, d2, fpTable) // must rewrite
    assert(graft.DurableArtifact.stampedFor(spark, fpTable, d2))
    val before = ExtensionQueries.corpusFpArtifact.builds.get()
    ExtensionQueries.evictCorpusFp(spark, d2)
    ExtensionQueries.docsCorpusFp(spark, d2).count()
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === before,
      "after the rewrite, d2 consumers must serve from the table")
    ExtensionQueries.evictCorpusFp(spark, d2)
    spark.conf.unset(ExtensionQueries.corpusFpArtifact.tableConf)
  }

  test("appendDelta is commit-safe for ANY artifact: a fold-aware " +
      "reader planning between the delta's file append and the flip " +
      "sees exactly the pre-fold rows") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_commitsafe_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val pre = tableRows(t)
    val delta = spark.range(5)
      .select(md5(concat(lit("cs"), col("id").cast("string"))).as("fp"))
    var probed = false
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta,
      afterFilesWritten = () => {
        // the epoch-consistent read a fold-aware consumer plans RIGHT
        // NOW: the appended files are on disk stamped epoch 1, the
        // counter still says 0 — the reader must see the pure snapshot
        assert(rows(graft.DurableArtifact.epochRead(spark, t)) === pre)
        probed = true
      })
    assert(probed)
    assert(rows(graft.DurableArtifact.epochRead(spark, t))
      === pre ++ rows(delta))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a torn appendDelta (crash between files and flip) is detected, " +
      "refused, and recovered by compactTable — for any artifact") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_torn_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val committed = tableRows(t)
    // simulate the crash: epoch-1 rows on disk, counter never flipped
    spark.range(3)
      .select(md5(concat(lit("torn"), col("id").cast("string"))).as("fp"),
        lit(1).as(graft.DurableArtifact.FoldEpochCol))
      .write.mode("append").bucketBy(8, "fp").sortBy("fp")
      .format("parquet").saveAsTable(t)
    assert(rows(graft.DurableArtifact.epochRead(spark, t)) === committed,
      "readers must never see the torn rows")
    val delta = spark.range(2)
      .select(md5(concat(lit("ok"), col("id").cast("string"))).as("fp"))
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    }
    assert(ex.getMessage.contains("torn append"))
    ExtensionQueries.corpusFpArtifact.compactTable(spark, t)
    assert(tableRows(t) === committed, "compaction discards torn rows")
    assert(bucketSpec(t).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("fp")))
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    assert(rows(graft.DurableArtifact.epochRead(spark, t))
      === committed ++ rows(delta))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("appendDelta refuses a pre-epoch (legacy-layout) table with a " +
      "migration message; migrateToEpochLayout then restores " +
      "commit-safe folding") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_preepoch_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // a round-13-era table: bucketed, provenance-stamped, NO _fe column
    spark.range(4).select(md5(col("id").cast("string")).as("fp"))
      .write.bucketBy(8, "fp").sortBy("fp")
      .format("parquet").saveAsTable(t)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${graft.DurableArtifact.SourceDirProp}' = " +
      s"'${graft.DurableArtifact.normDir(d)}')")
    val legacy = tableRows(t)
    val delta = spark.range(2)
      .select(md5(concat(lit("mig"), col("id").cast("string"))).as("fp"))
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    }
    assert(ex.getMessage.contains("migrateToEpochLayout"),
      "the refusal must name the one-shot migration")
    assert(tableRows(t) === legacy, "the refused fold must write nothing")

    ExtensionQueries.corpusFpArtifact.migrateToEpochLayout(spark, t)
    // migrated: every row epoch 0, bucket spec and provenance kept
    assert(spark.table(t).columns.contains(graft.DurableArtifact.FoldEpochCol))
    assert(spark.table(t)
      .agg(max(col(graft.DurableArtifact.FoldEpochCol))).head().getInt(0) === 0)
    assert(bucketSpec(t).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("fp")))
    assert(graft.DurableArtifact.stampedFor(spark, t, d))
    // idempotent
    ExtensionQueries.corpusFpArtifact.migrateToEpochLayout(spark, t)
    // a legacy table also predates PARAM stamping — the fold refuses
    // until the operator adopts (asserts) the build params, the same
    // explicit one-shot pattern as the layout migration
    val exP = intercept[IllegalArgumentException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    }
    assert(exP.getMessage.contains("adoptParams"))
    ExtensionQueries.corpusFpArtifact.adoptParams(spark, t)
    // …and the fold now runs with full commit safety (interleaved
    // reader probe included)
    var probed = false
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta,
      afterFilesWritten = () => {
        assert(rows(graft.DurableArtifact.epochRead(spark, t)) === legacy)
        probed = true
      })
    assert(probed)
    assert(rows(graft.DurableArtifact.epochRead(spark, t))
      === legacy ++ rows(delta))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("rebase returns a folded artifact table to snapshot-serving " +
      "status: canonical rows, folds 0, restamped dir, zero rebuilds " +
      "for plain snapshot consumers") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_rebase_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val base = tableRows(t)
    val delta = spark.range(3)
      .select(md5(concat(lit("rb"), col("id").cast("string"))).as("fp"))
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta)
    assert(graft.DurableArtifact.foldsOf(spark, t) === 1)

    // the union corpus dir the nightly job has been appending into —
    // rebase declares the folded table its canonical snapshot artifact
    val unionDir = java.nio.file.Files
      .createTempDirectory("graft_rebase_union").toString
    ExtensionQueries.corpusFpArtifact.rebase(spark, unionDir, t)
    assert(graft.DurableArtifact.foldsOf(spark, t) === 0)
    assert(graft.DurableArtifact.stampedFor(spark, t, unionDir))
    assert(tableRows(t) === base ++ rows(delta))
    assert(spark.table(t)
      .agg(max(col(graft.DurableArtifact.FoldEpochCol))).head().getInt(0) === 0)
    assert(bucketSpec(t).exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("fp")))

    // a PLAIN snapshot consumer (no ServeFoldedConf) of the union dir
    // now serves the table directly — the DurableClusterFoldSpec shape,
    // generically
    val s2 = spark.newSession()
    s2.conf.set(ExtensionQueries.corpusFpArtifact.tableConf, t)
    val builds = ExtensionQueries.corpusFpArtifact.builds.get()
    assert(rows(ExtensionQueries.docsCorpusFp(s2, unionDir))
      === base ++ rows(delta))
    assert(ExtensionQueries.corpusFpArtifact.builds.get() === builds,
      "a rebased table must serve snapshot consumers with zero rebuilds")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the fold lease refuses an overlapping second fold, releases " +
      "with the flip, and a crashed lease is cleared by compactTable") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_lease_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val d1 = spark.range(2)
      .select(md5(concat(lit("l1"), col("id").cast("string"))).as("fp"))
    val d2 = spark.range(2)
      .select(md5(concat(lit("l2"), col("id").cast("string"))).as("fp"))
    // a second fold arriving INSIDE the first's writer window (between
    // its file append and its flip) must be refused loudly
    var refused: Option[String] = None
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, d1,
      afterFilesWritten = () => {
        val ex = intercept[IllegalArgumentException] {
          ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, d2)
        }
        refused = Some(ex.getMessage)
      })
    assert(refused.exists(_.contains("lease")),
      "the overlapping fold must fail on the lease, not corrupt state")
    // the flip released the lease: the next fold just runs
    assert(graft.DurableArtifact.propsOf(spark, t)
      .get(graft.DurableArtifact.FoldLeaseProp).forall(_.isEmpty))
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, d2)
    assert(graft.DurableArtifact.foldsOf(spark, t) === 2)

    // crashed-writer recovery: a lease with no live fold wedges the
    // next writer until the single-writer maintenance pass clears it
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${graft.DurableArtifact.FoldLeaseProp}' = 'zombie-jvm')")
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, d1)
    }
    assert(ex.getMessage.contains("lease"))
    ExtensionQueries.corpusFpArtifact.compactTable(spark, t)
    assert(graft.DurableArtifact.propsOf(spark, t)
      .get(graft.DurableArtifact.FoldLeaseProp).forall(_.isEmpty))
    ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, d1)
    assert(graft.DurableArtifact.foldsOf(spark, t) === 3,
      "compactTable keeps the folds counter and the fold resumes from it")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the epoch fence refuses to flip over a racer that completed " +
      "while this fold was in flight — the check-then-set residue the " +
      "lease alone cannot see") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_fence_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val delta = spark.range(2)
      .select(md5(concat(lit("fc"), col("id").cast("string"))).as("fp"))
    // simulate the interleave the lease's set-then-verify admits: a
    // racer that slipped past it COMPLETES (bumps the folds counter)
    // between this fold's file append and its flip — the fence's
    // re-read must refuse the flip rather than commit a second epoch 1
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta,
        afterFilesWritten = () => {
          spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
            s"('${graft.DurableArtifact.FoldsProp}' = '1')")
        })
    }
    assert(ex.getMessage.contains("moved past"),
      "the fence must name the racing-writer cause")
    // the failed fold released its lease, so recovery can proceed
    assert(graft.DurableArtifact.propsOf(spark, t)
      .get(graft.DurableArtifact.FoldLeaseProp).forall(_.isEmpty))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a fold whose lease was usurped dies BEFORE its file append — " +
      "rows appended at epoch e+1 become visible under ANY writer's " +
      "flip, so the loser must leave zero physical state") {
    import org.apache.spark.sql.functions._
    val t = "g_fp_preappend_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ExtensionQueries.corpusFpArtifact.write(spark, d, t)
    ExtensionQueries.evictCorpusFp(spark, d)
    val before = tableRows(t)
    val delta = spark.range(2)
      .select(md5(concat(lit("pa"), col("id").cast("string"))).as("fp"))
    val ex = intercept[IllegalArgumentException] {
      ExtensionQueries.corpusFpArtifact.appendDelta(spark, d, t, delta,
        beforeFilesWritten = () =>
          // the set-set-verify-verify interleave: by append time the
          // recorded holder is the other writer
          spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
            s"('${graft.DurableArtifact.FoldLeaseProp}' = 'other-writer')"))
    }
    assert(ex.getMessage.contains("before the file append"),
      s"wrong failure: ${ex.getMessage}")
    assert(rows(spark.table(t).drop(graft.DurableArtifact.FoldEpochCol))
      === before, "the usurped fold must write NOTHING")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("build-parameter provenance: write() stamps graft.params, a " +
      "mismatched or missing stamp is never served (fall back to " +
      "build), use() rewrites it, and adoptParams refuses a conflict") {
    import org.apache.spark.sql.functions._
    val t = "g_emb_params_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val art = ExtensionQueries.embBucketsArtifact
    art.write(spark, d, t)
    assert(graft.DurableArtifact.recordedParams(spark, t)
      === Some(Map("dim" -> "64", "nPlanes" -> "12",
        "multiProbe" -> "true")),
      "the snapshot write must stamp the build params")

    // matching params serve durably (no build)
    val s2 = spark.newSession()
    s2.conf.set(art.tableConf, t)
    ExtensionQueries.evictEmbBuckets(spark, d)
    val builds = art.builds.get()
    assert(ExtensionQueries.docsEmbBuckets(s2, d).count() > 0)
    assert(art.builds.get() === builds, "param-matched table must serve")

    // a table recording DIFFERENT params (another deployment's
    // nPlanes) must NOT serve — resolve falls back to a fresh build,
    // the rows-from-the-wrong-parameterization hazard
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${graft.DurableArtifact.ParamsProp}' = " +
      "'dim=64;multiProbe=true;nPlanes=16')")
    val s3 = spark.newSession()
    s3.conf.set(art.tableConf, t)
    assert(ExtensionQueries.docsEmbBuckets(s3, d).count() > 0)
    assert(art.builds.get() === builds + 1,
      "a param-mismatched table must fall back to building")
    ExtensionQueries.evictEmbBuckets(s3, d)

    // folding into it refuses loudly (a fold has no safe fallback)
    val exF = intercept[IllegalArgumentException] {
      art.appendDelta(spark, d, t,
        spark.range(1).select(lit(1L).as("_id"), lit(7L).as("_bucket")))
    }
    assert(exF.getMessage.contains("param"))
    // adoptParams refuses to RELABEL a genuine conflict…
    val exA = intercept[IllegalArgumentException] {
      art.adoptParams(spark, t)
    }
    assert(exA.getMessage.contains("rewrite"))
    // …and use() rewrites the table for the caller's parameterization
    art.use(spark, d, t)
    assert(graft.DurableArtifact.recordedParams(spark, t)
      .exists(_("nPlanes") == "12"))
    val s4 = spark.newSession()
    s4.conf.set(art.tableConf, t)
    assert(ExtensionQueries.docsEmbBuckets(s4, d).count() > 0)
    // use()'s rewrite paid one build; the s4 serve itself paid none
    assert(art.builds.get() === builds + 2, "the rewritten table serves")
    spark.conf.unset(art.tableConf)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
