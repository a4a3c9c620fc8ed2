package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Dedup, LocalGate, Multimodal, Packing, Sampling, Similarity, TextAnalysis}
import graft.streaming.{EventSessions, EventWindows, NdDoc, StreamBootstrap, StreamBudget, StreamClusters, StreamCurate, StreamEnrich, StreamNearDup}

/** LLM-training-data pipeline extension queries (BASELINE.json
  * north-star: dedup, similarity search, multimodal columns, text
  * analysis) over the `documents` / `embeddings` / `events` corpus
  * tables. Naming: x* dedup/similarity, t* text analysis, m*
  * multimodal, st* streaming-shared transforms.
  *
  * Cross-engine parity rules used throughout: vector math goes through
  * exact DECIMAL(9,6) quantization (order-independent sums, identical
  * in any engine), single double divisions are rounded to 6 dp, and
  * every query ends in a deterministic ORDER BY.
  */
object ExtensionQueries {

  /** Exact-decimal per-dimension table: (vec_id, i, v) with v =
    * DECIMAL(9,6) quantized — the relational dot-product layout. The
    * REFERENCE formulation: the oracle queries now run the bit-equal
    * quantized-long path ([[quantizedVectors]]); this layout survives
    * as the independently-derived form ScaledVectorSpec pins it to. */
  private def expandDecimal(df: DataFrame): DataFrame = {
    // tiny single-row-group parquet scans as 1 task: fan the vectors
    // out before the per-dimension explode (no-op on wide scans;
    // width judged from file metadata, no RDD probe — Tables.wide)
    Tables.wide(df)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("vec_id"), (col("i0") + 1).as("i"),
        col("x").cast("double").cast("decimal(9,6)").as("v"))
  }

  // ----------------------- exact quantized vector path (scale-6 longs)
  // Same DECIMAL(9,6) arithmetic as expandDecimal — a DECIMAL(9,6) is
  // an integer count of 1e-6 units — minus the per-dimension explode,
  // the dot-product shuffle and the per-pair hash aggregate: one
  // native codegen'd integer loop per pair (ScaledVector.scala has the
  // bit-equality argument; ScaledVectorSpec pins it row-for-row).

  private def q6(c: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.QuantizeDecimal6(
        org.apache.spark.sql.graft.ColumnShim.expression(
          c.cast("array<double>"))))

  private def sdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.ScaledDotProduct(
        org.apache.spark.sql.graft.ColumnShim.expression(a),
        org.apache.spark.sql.graft.ColumnShim.expression(b)))

  private def s12ToDouble(c: Column): Column = c.cast("double") / lit(1e12)

  /** The cosine formula of the decimal path, verbatim, on scale-12
    * longs: both conversions are correctly-rounded-to-nearest, so the
    * doubles (and their ROUND(…,6)) are bit-identical. */
  private def scaledCos(dot: Column, na: Column, nb: Column): Column =
    round(s12ToDouble(dot) /
      (sqrt(s12ToDouble(na)) * sqrt(s12ToDouble(nb))), 6)

  /** (vec_id, q: array<long> scale-6, n2: long scale-12) — each vector
    * quantized ONCE per row. The explode(array(…)) Generate is the
    * projection barrier (CLAUDE.md): without it CollapseProject inlines
    * the quantization into n2 and every downstream consumer. */
  private def quantizedVectors(df: DataFrame): DataFrame =
    quantize(Tables.wide(df))

  /** [[quantizedVectors]] without the fan-out — for a driver path's
    * fetch of a few rows. */
  private def quantize(df: DataFrame): DataFrame =
    df.select(col("vec_id"), explode(array(q6(col("embedding")))).as("q"))
      .select(col("vec_id"), col("q"), sdot(col("q"), col("q")).as("n2"))

  // ------------------------------------------------------------ dedup

  /** Exact dedup (hash aggregation, keep-min-id) over a corpus with
    * synthesized duplicate rows. */
  def x1DedupExact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dup = docs.union(
      docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    Dedup.exactKeepFirst(dup, "text", "doc_id")
      .select(col("doc_id_kept"), col("n_copies"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id_kept")
  }

  /** Exact word-3-gram Jaccard near-dup pairs (shingle posting join). */
  def x2NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy("ida", "idb")

  /** X2b — the PRODUCTION near-dup form: x2 with the DENSITY-ADAPTIVE
    * stop-shingle cap (`2× average df`, [[Dedup.DfCap.AdaptiveAvg]]).
    * The uncapped pair stage costs Σ df² over shingle doc-frequencies —
    * quadratic under heavy duplication (PERF.md's 5× adjudication) —
    * so any boilerplate-heavy corpus must drop posting lists longer
    * than the cap before pairing. The cap is stated relative to corpus
    * density, not as a constant: the round-9 fixed cap (3) kept its
    * sf0.01 rows (the adaptive rule computes exactly 3 there — 21 vs
    * 25 pairs) but silently emptied the pair set at sf0.1, where dfs
    * run ~2.7× higher (adaptive cap 19 keeps all 256 pairs while still
    * dropping the Σdf² tail). Semantics under the cap: intersection
    * counts keep only df≤cap shingles while set sizes stay FULL, so
    * capped Jaccard underestimates — boilerplate-only pairs fall out.
    * The oracle applies the identical integer cap rule before pairing;
    * PERF.md "Dedup family" records the capped path at scale. Scored
    * and gated in exact-integer ppm (r8 advice): the cap changes the
    * (c,na,nb) combinations vs x2, so x2's never-hit-a-rounding-tie
    * history doesn't transfer, and here the rounded value also gates
    * the ≥0.5 row set — [[Dedup.ngramJaccardPairsPpm]] keeps both
    * engines in long arithmetic end to end. */
  def x2bNgramJaccardCapped(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairsPpm(Tables.documents(s, d), "doc_id", "text",
        n = 3, thresholdPpm = 500000L, dfCap = Dedup.DfCap.AdaptiveAvg(2))
      .orderBy("ida", "idb")

  /** x2b's adaptive capped listing through the BOUNDED-STATE collector
    * ([[Dedup.DfCap.AdaptiveBounded]]): the density cap comes from a
    * count-only first pass (O(1) state per key) and the posting lists
    * are collected by `CappedCollectAgg`, so no key ever materializes
    * more than cap+1 entries of aggregation state — the deployment
    * shape for corpora whose df head is pathological (a single
    * boilerplate shingle at df ~10⁸ costs the plain shape a GB-scale
    * transient list). Row set is IDENTICAL to x2b's by construction
    * (same integer cap rule, same kept set — CappedCollectSpec pins
    * list-level equality), so the oracle is x2b's SQL verbatim. */
  def x2cJaccardBoundedState(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairsPpm(Tables.documents(s, d), "doc_id", "text",
        n = 3, thresholdPpm = 500000L, dfCap = Dedup.DfCap.AdaptiveBounded(2))
      .orderBy("ida", "idb")

  /** Increment-batch id offset for the x32 family: must clear the
    * corpus id domain at EVERY scale the fixture runs — MakeScale
    * replicas stride copies by 10⁸, so a small offset (an early
    * revision used 5·10⁶) collides with copy-≥1 corpus ids and the
    * oracle's id-threshold "new" test silently misclassifies
    * corpus-internal pairs on any replica. 5·10¹² clears a
    * 10,000-copy replica while keeping every packed id under the
    * pair-generator's 2⁴⁴ domain bound. */
  private val IncrementOffset = 5000000000000L

  /** Second increment id domain for x34's duplicate-submission rows
    * (the same re-crawl fetched twice in one batch) — above
    * [[IncrementOffset]] so the first fetch wins the within-batch
    * fingerprint rank, still under the pair generator's 2⁴⁴ bound. */
  private val ResubmitOffset = 6000000000000L

  /** Third increment id domain — x40's DAY-2 batch, arriving after
    * day 1's survivors were folded into the serving artifacts; above
    * both day-1 domains (pair orientation: day-2 ids are always the
    * larger side), still under the pair generator's 2⁴⁴ bound at
    * every replica scale. */
  private val Day2Offset = 7000000000000L

  /** EVERY declared arrival id-domain offset, by kind. A new arrival
    * kind MUST claim its offset here: IdDomainSpec asserts each entry
    * plus the largest supported replica corpus id stays inside the
    * pair generator's packed-id bound ([[operators.Dedup.PackedIdBound]])
    * and that adjacent domains can't overlap at full replica scale —
    * the guard that fails BEFORE a fourth domain at 8·10¹² silently
    * wraps packed ids. */
  private[graft] val ArrivalOffsets: Map[String, Long] = Map(
    "increment" -> IncrementOffset,
    "resubmit" -> ResubmitOffset,
    "day2" -> Day2Offset)

  /** X32 — INCREMENTAL near-dup: the daily-ingest recurrence. The
    * corpus is `documents`; the increment batch is a deterministic
    * 90%-prefix re-crawl of every ninth document (id +5·10¹² — the
    * re-crawled page whose tail changed, Jaccard ≈ 0.9 against its
    * source). [[Dedup.incrementalJaccardPairsPpm]] emits every capped
    * Jaccard≥0.5 pair TOUCHING the increment without ever generating a
    * corpus×corpus pair — the only affordable recurrence at corpus
    * scale (Σ df_new·df_total, linear in the batch, vs the full Σ df²)
    * — under the same density-adaptive cap and exact-integer ppm
    * scoring as x2b, stated over the union corpus so the oracle
    * restates cap and scores verbatim. Increment ids sit above the
    * whole corpus id domain at every replica scale (see
    * [[IncrementOffset]]), so "≥1 new side" is exactly
    * `idb ≥ 5·10¹²` in the oracle's ordered pairs. The identity
    * against the full-recompute listing is pinned by
    * IncrementalNearDupSpec. */
  def x32IncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.incrementalJaccardPairsPpm(docs, increment, "doc_id", "text",
        n = 3, thresholdPpm = 500000L, dfCap = Dedup.DfCap.AdaptiveAvg(2))
      .orderBy("ida", "idb")
  }

  /** x32's FULL-RECOMPUTE baseline, benchOnly: the identical row set
    * obtained the expensive way — the whole-union capped pair listing
    * (Σ df² over corpus+increment, corpus-internal pairs generated and
    * then thrown away by the ≥1-new filter). Exists so bench history
    * shows what the incremental stage saves at every scale; the row
    * identity to x32 is already pinned by IncrementalNearDupSpec's
    * restricted-recompute test, which is this exact query. */
  def x32fUnionRecompute(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.ngramJaccardPairsPpm(docs.unionByName(increment), "doc_id", "text",
        n = 3, thresholdPpm = 500000L, dfCap = Dedup.DfCap.AdaptiveAvg(2))
      .filter(col("idb") >= IncrementOffset)
      .orderBy("ida", "idb")
  }

  /** X33 — x32 SERVED FROM THE DURABLE POSTING INDEX: same increment
    * batch, same density-adaptive cap, same exact-integer scores, but
    * the corpus side is the per-shingle posting-list artifact
    * ([[Dedup.postingIndex]] — the durable bucketed table when
    * [[usePostingIndex]] is active, the session-persisted build
    * otherwise) instead of re-shingling `documents`. This is the
    * 100 TB daily recurrence made concrete: shingle ONLY the batch,
    * join it against the index on `_sh` with no corpus-side exchange,
    * fold the batch's postings back with
    * [[Dedup.appendToPostingIndex]]. Row-identical to x32 — the
    * oracle is x32's SQL verbatim, and IncrementalIndexSpec pins the
    * operator identity, append≡rebuild, and the no-build durable
    * read-back. */
  def x33IncrementalFromIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.incrementalJaccardPairsFromIndex(docsPostingIndex(s, d), increment,
        "doc_id", "text", n = 3, thresholdPpm = 500000L,
        dfCap = Dedup.DfCap.AdaptiveAvg(2),
        indexStats = docsPostingIndexStats(s, d))
      .orderBy("ida", "idb")
  }

  /** The posting-index BUILD cost as a first-class bench row (the
    * memoized-artifact lesson from x31f/x5cf: x33 serves from the memo
    * or the durable table, so bench history would never see an index
    * build regression without this). benchOnly: the index row set
    * itself is exercised through x33's oracle row; here the full build
    * is forced (no memo) and reduced to corpus-level stats. */
  def x33bIndexBuild(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    Dedup.postingIndex(docs, "doc_id", "text", n = 3)
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(size(col("_lst"))), lit(0L)).as("n_postings"))
  }

  /** X34 — the INCREMENTAL CURATION PIPELINE: x10's end-to-end chain
    * re-stated as the daily job a 100 TB deployment actually runs. The
    * corpus is `documents` (the already-curated snapshot — never
    * re-filtered, re-deduped, or re-paired against itself); the
    * increment is x32's re-crawl batch. Each batch doc gets a VERDICT:
    *
    *  1. score (language / quality / fingerprint, one generator-barrier
    *     projection — the x28 double-eval trap) and FILTER to
    *     `en ∧ quality ≥ 0.3`;
    *  2. `exact_dup` if its fingerprint already exists in the corpus
    *     (one anti-join-shaped probe on fp — the durable fp artifact a
    *     deployment would persist, computed inline here) or a
    *     smaller-id batch sibling claimed the fingerprint first;
    *  3. `near_dup` if the capped incremental pair listing
    *     ([[Dedup.incrementalJaccardPairsPpm]] — corpus-internal pairs
    *     never generated, Σ df_new·df_total not Σ df²) pairs it at
    *     Jaccard ≥ 0.5 with a corpus doc or a smaller-id surviving
    *     sibling (x10's drop-the-larger-id rule);
    *  4. `kept` otherwise, with the deterministic minstd 80/20 split.
    *
    * Every stage cost is O(batch) against durable corpus-side
    * artifacts except the inline corpus fp/posting scans this
    * self-contained form recomputes (x33 shows the posting side served
    * from its bucketed table; the fp side is the same contract).
    * The adaptive df cap is stated over corpus ∪ survivors, so the
    * DuckDB oracle restates cap, scores, and verdicts verbatim.
    * IncrementalCurationSpec pins the verdict column against the
    * expensive full-recompute restatement.
    *
    * The batch mixes the four arrival kinds a real crawl day has, so
    * every verdict branch is live in the oracle row AT EVERY SCALE:
    * changed re-crawls (x32's 90% prefix, `%9==4` at +5·10¹²),
    * UNCHANGED re-crawls (`%9==7`, full text → the corpus-fp exact
    * hit), duplicate submissions (`%36==4`, the same changed re-crawl
    * fetched twice — +6·10¹², fp absent from the corpus → the
    * within-batch `rn>1` hit), and BRAND-NEW pages (`%9==2`, the
    * source's words in reverse order — same vocabulary and stopword
    * mass, so language/quality survive, but reversed trigrams share no
    * shingles → `kept`). Without the new-page kind the kept branch is
    * scale-degenerate: at a 5× replica every changed re-crawl finds
    * its source (Jaccard ≈ 0.9 ≥ 0.5) and kept goes empty — the same
    * fixed-fixture trap as the df-cap lesson. Ids stay under the pair
    * generator's 2⁴⁴ packing bound at every replica scale, and exact
    * dups never reach the generator anyway. */
  def x34IncrementalCuration(s: SparkSession, d: String): DataFrame =
    incrementalCuration(s, d,
      curationCorpusFp(Tables.wide(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))),
      (docs, survivors) =>
        Dedup.incrementalJaccardPairsPpm(docs, survivors, "doc_id", "text",
          n = 3, thresholdPpm = 500000L, dfCap = Dedup.DfCap.AdaptiveAvg(2)))

  /** X34b — x34 SERVED FROM THE DURABLE PER-SNAPSHOT ARTIFACTS (x33's
    * pattern applied to the whole pipeline): identical verdicts — the
    * oracle is x34's SQL verbatim — but BOTH corpus-sized stages read
    * artifacts instead of re-deriving the corpus: the near-dup stage's
    * corpus side is one equi join against the per-shingle posting
    * index (no corpus re-shingle/re-shuffle — at 125×m most of x34's
    * cost, PERF.md «Incremental curation at scale»), and the exact-dup
    * probe joins the durable fingerprint set ([[docsCorpusFp]] — the
    * bucketed fp table when [[useCorpusFp]] is active, the
    * session-persisted build otherwise) instead of re-hashing every
    * corpus document. With both artifacts durable, the daily job's
    * cost tracks the BATCH in every stage. */
  def x34bCurationFromIndex(s: SparkSession, d: String): DataFrame =
    incrementalCuration(s, d, docsCorpusFp(s, d), (_, survivors) =>
      Dedup.incrementalJaccardPairsFromIndex(docsPostingIndex(s, d),
        survivors, "doc_id", "text", n = 3, thresholdPpm = 500000L,
        dfCap = Dedup.DfCap.AdaptiveAvg(2),
        indexStats = docsPostingIndexStats(s, d)))

  /** The corpus fingerprint set — the second durable per-snapshot
    * artifact (alongside the posting index); one map pass + distinct.
    * The durable form is [[corpusFpArtifact]]. */
  private[graft] def curationCorpusFp(docs: DataFrame): DataFrame =
    docs.select(operators.TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .distinct()

  /** The day's NEW fingerprints only — the O(batch) insert rows of the
    * fp-set fold: the batch's distinct fps anti-joined against the
    * corpus set (which, bucketed by fp, scans without an exchange).
    * This is what [[DurableArtifact.appendDelta]] inserts into the
    * durable fp table. */
  private[graft] def corpusFpDelta(fpSet: DataFrame,
      batch: DataFrame): DataFrame =
    curationCorpusFp(batch).join(fpSet, Seq("fp"), "left_anti")

  /** Fold a day's surviving batch into the corpus fingerprint set:
    * fp(C) ∪ (fp(B) \ fp(C)) ≡ fp(C ∪ B) exactly — the set is
    * append-only, so the fold costs one batch-sized anti join and
    * never re-hashes a corpus document (DurableArtifactsSpec pins
    * rebuild-equivalence; x40 serves day 2 from the folded set). */
  def appendToCorpusFp(fpSet: DataFrame, batch: DataFrame): DataFrame =
    fpSet.unionByName(corpusFpDelta(fpSet, batch))

  /** x34's batch + scoring + exact-flag chain (everything upstream of
    * the pair stage), probing `fpSet` for corpus-fp exact hits — x34
    * passes the inline recompute (self-contained oracle form), x34b
    * the durable artifact. */
  private def curationFlagged(s: SparkSession, d: String,
      fpSet: DataFrame): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val prefixText = array_join(slice(ws, lit(1), kWords), " ")
    val batch = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        prefixText.as("text"))
      .unionByName(docs.filter(col("doc_id") % 9 === 7)
        .select((col("doc_id") + IncrementOffset).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 36 === 4)
        .select((col("doc_id") + ResubmitOffset).as("doc_id"),
          prefixText.as("text")))
      .unionByName(docs.filter(col("doc_id") % 9 === 2)
        .select((col("doc_id") + IncrementOffset).as("doc_id"),
          array_join(reverse(ws), " ").as("text")))
    val scored = batch.select(col("doc_id"), col("text"),
        explode(array(struct(
          operators.TextAnalysis.langIdNative(col("text")).as("lang_detected"),
          operators.TextAnalysis.qualityScore(col("text")).as("quality"),
          operators.TextAnalysis.fingerprintMd5(col("text")).as("fp")))).as("sc"))
      .select(col("doc_id"), col("text"),
        col("sc.lang_detected").as("lang_detected"),
        col("sc.quality").as("quality"), col("sc.fp").as("fp"))
    val filt = scored.filter(col("lang_detected") === "en" &&
      col("quality") >= 0.3)
    val wFp = Window.partitionBy("fp").orderBy("doc_id")
    filt.withColumn("_rn", row_number().over(wFp))
      .join(fpSet.withColumn("_hit", lit(1)), Seq("fp"), "left")
      .withColumn("is_exact", col("_hit").isNotNull || col("_rn") > 1)
  }

  private def incrementalCuration(s: SparkSession, d: String,
      fpSet: DataFrame,
      pairStage: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    // flagged feeds TWO subtrees (the pair stage via survivors, and
    // the final verdict join) — without the cut the whole batch
    // scoring chain (langId + quality + md5 + the fp window/probe)
    // evaluates once per consumer (x40's dayVerdicts lesson;
    // measured ~1 s of x34b's 3.3 s at sf0.1). localCheckpoint, not
    // persist: the returned plan still consumes it (CLAUDE.md).
    val flagged = curationFlagged(s, d, fpSet).localCheckpoint()
    val survivors = flagged.filter(!col("is_exact"))
      .select(col("doc_id"), col("text"))
    // batch survivors vs corpus + smaller-id survivors; increment ids
    // top the id domain, so the dropped side is always idb
    val nearIds = pairStage(docs, survivors)
      .select(col("idb").as("doc_id")).distinct()
      .withColumn("_nd", lit(1))
    flagged.join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("_nd").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("verdict"),
        when(!col("is_exact") && col("_nd").isNull,
          when(pmod(operators.Sampling.minstdHash(col("doc_id")), lit(10)) < 8,
            lit("train")).otherwise(lit("eval"))).as("split"))
      .orderBy("doc_id")
  }

  /** X35 — incremental near-dup on the SKETCH path: x32's re-crawl
    * batch against the corpus via MinHash-LSH band buckets
    * ([[Dedup.incrementalMinhashLshPairs]] — the corpus bucket table is
    * never self-joined, candidates touch the batch by construction,
    * verification fetches only candidate ids' shingle sets). This is
    * the production-scale daily recurrence for the LSH family exactly
    * as x32/x33 are for exact Jaccard: banding cost tracks the batch,
    * and the banded + set tables are the persistable per-snapshot
    * artifacts. Oracle = the exact union pair listing restricted to
    * ≥1-new at 0.8 — same recall contract as x3 (1-(1-0.8⁴)³² ≈
    * 1-5·10⁻⁸), so the LSH path must reproduce the exact restricted
    * result. */
  def x35IncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.incrementalMinhashLshPairs(docs, increment, "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.8)
      .orderBy("ida", "idb")
  }

  /** X37 — INCREMENTAL containment: the directed-overlap score on the
    * incremental recurrence (x27b's |A∩B|/|A| ≥ 90% under the 4×
    * density-adaptive cap, x32's re-crawl batch, corpus-internal
    * pairs never generated). Catches the boilerplate-diluted re-crawl
    * as a SUB of its source even where Jaccard misses — at the
    * Σ df_new·df_total incremental cost. Both directions of each
    * touched pair are scored, so the output can point either way
    * (re-crawl ⊂ source and source ⊂ re-crawl both appear for the
    * 90% prefix). Cap and scores stated over the union corpus; the
    * oracle restates both verbatim. */
  def x37IncrementalContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.incrementalContainmentPairs(docs, increment, "doc_id", "text",
        n = 3, thresholdPct = 90, dfCap = Dedup.DfCap.AdaptiveAvg(4))
      .orderBy("id_sub", "id_super")
  }

  /** X37b — x37 SERVED FROM THE DURABLE POSTING INDEX (the SAME
    * artifact x33 serves Jaccard from — one per-snapshot index, every
    * incremental score reads it): shingle only the batch, one equi
    * join, the 4× adaptive cap restated from the index stats.
    * Row-identical to x37 (oracle verbatim, IncrementalIndexSpec). */
  def x37bContainmentFromIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.incrementalContainmentPairsFromIndex(docsPostingIndex(s, d),
        increment, "doc_id", "text", n = 3, thresholdPct = 90,
        dfCap = Dedup.DfCap.AdaptiveAvg(4),
        indexStats = docsPostingIndexStats(s, d))
      .orderBy("id_sub", "id_super")
  }

  /** X38 — INCREMENTAL fuzzy dedup: t5b's composition (capped shingle
    * candidates → exact levenshtein verify) on the incremental
    * recurrence — all edit-distance≤10 pairs TOUCHING x32's re-crawl
    * batch, with corpus-internal candidates never generated
    * (Σ df_new·df_total, not Σ df²). Exactly the round-11 claim for
    * the factored split-list core made concrete: a NEW incremental
    * score is [[Dedup.incrementalJaccardPairsPpm]] at the candidate
    * gate (300000 ppm, 2× adaptive cap over the union — t5b's
    * parameters restated incrementally) plus a verify join — no new
    * plumbing. The levenshtein runs only on candidate pairs (the
    * O(len²) stage is bounded by the capped candidate count), prefix
    * 60 chars like t5/t5b; the DuckDB oracle recomputes candidates
    * and verify over the union corpus restricted to ≥1-new. */
  def x38IncrementalFuzzy(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    val cand = Dedup.incrementalJaccardPairsPpm(docs, increment,
      "doc_id", "text", n = 3, thresholdPpm = 300000L,
      dfCap = Dedup.DfCap.AdaptiveAvg(2))
    val pfx = docs.unionByName(increment)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("p"))
    cand
      .join(pfx.toDF("ida2", "pa"), col("ida") === col("ida2"))
      .join(pfx.toDF("idb2", "pb"), col("idb") === col("idb2"))
      .select(col("ida"), col("idb"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= 10)
      .orderBy("ida", "idb")
  }

  /** X39 — INCREMENTAL cluster-map maintenance: the last corpus-sized
    * recurrence in the curation chain closed. x32 makes pair DISCOVERY
    * O(batch); this folds the day's new pairs into the durable x11
    * cluster map with [[Dedup.foldPairsIntoClusterMap]] — label
    * propagation runs only on the CONTRACTED touched-cluster graph,
    * and the corpus-sized map updates through one broadcast relabel
    * join (no corpus shuffle, no re-run of the snapshot's iterative
    * CC). The day's pairs are the exact incremental Jaccard ≥ 0.8
    * listing between x32's re-crawl batch and corpus ∪ batch
    * (uncapped, integer-ppm gate — c·10⁶ ≥ 8·10⁵·u differs from x11's
    * ROUND(·,6) ≥ 0.8 only within 1/(5u) < 5·10⁻⁷, unreachable for
    * integer counts at document set sizes). The oracle recomputes the
    * whole union map from scratch with x11's recursive CTE — fold ≡
    * full recompute IS the correctness statement. */
  def x39IncrementalClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    // pairs served FROM THE POSTING-INDEX ARTIFACT (r16): the daily
    // fold job reads the same per-snapshot index the other increment
    // jobs serve from instead of re-shingling the corpus per run —
    // row-identical under NoCap (IncrementalIndexSpec's from-index ≡
    // from-scratch row); x32 keeps the from-scratch listing as its
    // own declared row, and the fold below is unchanged.
    val newPairs = Dedup.incrementalJaccardPairsFromIndex(
      docsPostingIndex(s, d), increment, "doc_id", "text", n = 3,
      thresholdPpm = 800000L, dfCap = Dedup.DfCap.NoCap)
    Dedup.foldPairsIntoClusterMap(nearDupClusterMap(s, d), newPairs)
      .orderBy("doc_id")
  }

  /** X40 — SERVE → FOLD → SERVE: the daily job's full two-day loop
    * over the durable dedup artifacts. Day 1 curates a mixed batch
    * (resubmits `%27==1`, new pages `%36∈{2,11}` word-reversed,
    * re-crawl prefixes `%27==4`) against the snapshot artifacts — the
    * exact-dup
    * probe joins the fp set ([[docsCorpusFp]]), the near-dup stage
    * joins the posting index ([[docsPostingIndex]]) — then FOLDS the
    * survivors back into both ([[appendToCorpusFp]]; the index folds
    * through its DELTA layout — the O(batch) durable fold ST8 ships,
    * with [[Dedup.appendToPostingIndex]] as the compaction-time
    * canonical merge), and day 2's batch is curated
    * against the FOLDED artifacts: a resubmission of a day-1 kept page
    * (`%36==2`) is an exact dup ONLY IF the fp fold worked, a
    * re-crawl prefix of a day-1 kept page (`%36==11`) is a near dup
    * ONLY IF the index fold worked, and day-2 brand-new pages
    * (`%27==7` reversed) stay kept. Verdict rule both days: exact
    * first (fp ∈ served set), else near (the doc is the LARGER side
    * of an incremental Jaccard-ppm ≥ 0.5 pair — the family's
    * drop-idb orientation), else kept. Uncapped, so the whole
    * two-day chain is one lazy plan with no 1-row cap merges. */
  def x40ServeFoldServe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val prefixText = array_join(slice(ws, lit(1), kWords), " ")
    val revText = array_join(reverse(ws), " ")
    val b1 = docs.filter(col("doc_id") % 27 === 1)
        .select((col("doc_id") + IncrementOffset).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 36 === 2 ||
          col("doc_id") % 36 === 11)
        .select((col("doc_id") + IncrementOffset).as("doc_id"),
          revText.as("text")))
      .unionByName(docs.filter(col("doc_id") % 27 === 4)
        .select((col("doc_id") + IncrementOffset).as("doc_id"),
          prefixText.as("text")))
    val fp0 = docsCorpusFp(s, d)
    val idx0 = docsPostingIndex(s, d)
    // day-1 verdicts materialize ONCE (localCheckpoint): three
    // consumers (the output rows, the fp fold, the index fold) would
    // otherwise each re-run the day-1 pair stage
    val v1 = dayVerdicts(b1, fp0,
      Dedup.incrementalJaccardPairsFromIndex(idx0, b1, "doc_id", "text",
        n = 3, thresholdPpm = 500000L, dfCap = Dedup.DfCap.NoCap))
      .localCheckpoint()
    val s1 = v1.filter(col("verdict") === "kept")
      .select(col("doc_id"), col("text"))
    // the fold, O(batch) for both artifacts: new fps anti-joined in;
    // the index folds through its DELTA layout (the posting index
    // merges per-shingle rows, so its durable fold is a delta append
    // + deferred compaction — ST8's machinery — not a corpus-wide
    // full-outer rewrite; the delta serve is pinned ≡ canonical)
    val fp1 = appendToCorpusFp(fp0, s1)
    val idx1Deltas = idx0.unionByName(
      Dedup.postingIndex(s1, "doc_id", "text", n = 3))
    val b2 = docs.filter(col("doc_id") % 36 === 2)
        .select((col("doc_id") + Day2Offset).as("doc_id"),
          revText.as("text"))
      .unionByName(docs.filter(col("doc_id") % 36 === 11)
        .select((col("doc_id") + Day2Offset).as("doc_id"),
          array_join(slice(reverse(ws), lit(1), kWords), " ").as("text")))
      .unionByName(docs.filter(col("doc_id") % 27 === 7)
        .select((col("doc_id") + Day2Offset).as("doc_id"),
          revText.as("text")))
    val v2 = dayVerdicts(b2, fp1,
      Dedup.incrementalJaccardPairsFromIndexDeltas(idx1Deltas, b2,
        "doc_id", "text", n = 3, thresholdPpm = 500000L,
        dfCap = Dedup.DfCap.NoCap))
    v1.select(lit(1).as("day"), col("doc_id"), col("verdict"))
      .unionByName(v2.select(lit(2).as("day"), col("doc_id"),
        col("verdict")))
      .orderBy("day", "doc_id")
  }

  /** One curation day of x40: exact-dup probe against the served fp
    * set, near-dup = the batch doc is the larger (dropped) side of a
    * pair from the supplied incremental listing (day 1 reads the
    * canonical index, day 2 the day-1-folded delta layout),
    * exact-before-near precedence. */
  private def dayVerdicts(batch: DataFrame, fpSet: DataFrame,
      pairs: DataFrame): DataFrame = {
    val dropped = pairs
      .select(col("idb").as("doc_id")).distinct()
      .withColumn("_near", lit(1))
    batch
      .withColumn("fp", operators.TextAnalysis.fingerprintMd5(col("text")))
      .join(fpSet.withColumn("_hit", lit(1)), Seq("fp"), "left")
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        when(col("_hit").isNotNull, "exact_dup")
          .when(col("_near").isNotNull, "near_dup")
          .otherwise("kept").as("verdict"))
  }

  /** X41 — SERVE → FOLD → SERVE on the SKETCH path: x40's two-day
    * loop proof applied to the LSH band/set artifacts (the round-12
    * verdict's gap — [[Dedup.appendToLshArtifacts]] was pinned
    * append ≡ rebuild but no oracle row served day 2 from a FOLDED
    * LSH artifact). Day 1 curates a batch (brand-new reversed pages
    * `%36∈{2,11}`, re-crawl prefixes `%27==4`) against the snapshot
    * band/set tables ([[docsLshArtifacts]]); the kept pages FOLD into
    * both artifacts (a pure O(batch) append — planes and band layout
    * are corpus-independent); day 2's batch is served from the FOLDED
    * tables: a resubmission of a day-1 kept page (`%36==2`, identical
    * text) and a re-crawl prefix of one (`%36==11`) are near dups
    * ONLY IF the fold worked — reversed-word pages share no shingles
    * with the forward corpus, so nothing in the original snapshot can
    * catch them — while day-2 brand-new pages (`%27==7` reversed)
    * stay kept. Oracle = both days' exact-Jaccard listings restated
    * from scratch with day 2's corpus = documents ∪ day-1 survivors;
    * same recall contract as x35 (banding recall 1-(1-0.8⁴)³² ≈
    * 1-5·10⁻⁸ per pair, every candidate exact-verified). */
  def x41LshFoldServe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val prefixText = array_join(slice(ws, lit(1), kWords), " ")
    val revText = array_join(reverse(ws), " ")
    val pfxRevText = array_join(slice(reverse(ws), lit(1), kWords), " ")
    val b1 = docs.filter(col("doc_id") % 36 === 2 ||
        col("doc_id") % 36 === 11)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        revText.as("text"))
      .unionByName(docs.filter(col("doc_id") % 27 === 4)
        .select((col("doc_id") + IncrementOffset).as("doc_id"),
          prefixText.as("text")))
    val (banded0, sets0) = docsLshArtifacts(s, d)
    // day-1 verdicts materialize ONCE: two consumers (output rows,
    // the fold's survivor filter) — same localCheckpoint discipline
    // as x40
    val v1 = lshDayVerdicts(b1,
      Dedup.incrementalLshFromArtifacts(banded0, sets0, b1, "doc_id",
        "text", n = 3, numHashes = 128, bands = 32, threshold = 0.8))
      .localCheckpoint()
    val s1 = v1.filter(col("verdict") === "kept")
      .select(col("doc_id"), col("text"))
    val (banded1, sets1) = Dedup.appendToLshArtifacts(banded0, sets0,
      s1, "doc_id", "text", n = 3, numHashes = 128, bands = 32)
    val b2 = docs.filter(col("doc_id") % 36 === 2)
        .select((col("doc_id") + Day2Offset).as("doc_id"),
          revText.as("text"))
      .unionByName(docs.filter(col("doc_id") % 36 === 11)
        .select((col("doc_id") + Day2Offset).as("doc_id"),
          pfxRevText.as("text")))
      .unionByName(docs.filter(col("doc_id") % 27 === 7)
        .select((col("doc_id") + Day2Offset).as("doc_id"),
          revText.as("text")))
    val v2 = lshDayVerdicts(b2,
      Dedup.incrementalLshFromArtifacts(banded1, sets1, b2, "doc_id",
        "text", n = 3, numHashes = 128, bands = 32, threshold = 0.8))
    v1.select(lit(1).as("day"), col("doc_id"), col("verdict"))
      .unionByName(v2.select(lit(2).as("day"), col("doc_id"),
        col("verdict")))
      .orderBy("day", "doc_id")
  }

  /** One curation day of x41: near_dup = the batch doc is the larger
    * (dropped) side of a verified LSH pair from the supplied listing,
    * else kept — the sketch-path twin of x40's [[dayVerdicts]],
    * without the fp stage (x40 already proves that artifact's loop). */
  private def lshDayVerdicts(batch: DataFrame,
      pairs: DataFrame): DataFrame = {
    val dropped = pairs.select(col("idb").as("doc_id")).distinct()
      .withColumn("_near", lit(1))
    batch.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        when(col("_near").isNotNull, "near_dup")
          .otherwise("kept").as("verdict"))
  }

  /** X42 — SERVE → FOLD → SERVE on the VECTOR modality: the same
    * two-day proof for the probed embedding-bucket artifact
    * ([[Similarity.appendToEmbBuckets]]). Day 1 probes a mixed batch
    * (re-embeds `%3==1` at +0.001 — near dups of their source — and
    * brand-new NEGATED vectors `%3==2`, cosine −1 against everything
    * forward) against the snapshot bucket table; the kept vectors
    * fold in (pure O(batch) append — the hyperplanes are
    * corpus-independent); day 2 probes the FOLDED table: a re-embed
    * of a day-1 kept vector (`%3==2`, −x+0.001) is a near dup ONLY IF
    * the fold worked — nothing in the forward-vector snapshot sits
    * within 0.99 of a negated vector — while day-2 brand-new negated
    * vectors (`%3==0`) stay kept. Scores on the exact quantized-
    * decimal path (cos ≥ 0.99); oracle = both days' exact decimal
    * pair listings with day 2's corpus = vectors ∪ day-1 survivors —
    * same every-candidate-verified / near-parallel-recall
    * adjudication as x36. */
  def x42EmbFoldServe(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val corpus = raw.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val day1 = raw.filter(col("vec_id") % 3 === 1)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
      .unionByName(raw.filter(col("vec_id") % 3 === 2)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding").cast("array<double>"), x => -x)
            .as("embedding")))
    val day2 = raw.filter(col("vec_id") % 3 === 2)
      .select((col("vec_id") + 2000000).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => -x + lit(0.001)).as("embedding"))
      .unionByName(raw.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("embedding").cast("array<double>"), x => -x)
            .as("embedding")))
    // both days' batches in ONE bounded probe: when they fit
    // [[LocalGate]] (rows × 64 elements) they come back as a local
    // relation, and every step below takes its driver path — the
    // candidates and the rerank fetch only what they need, and the
    // verdicts and the day-1 survivors evaluate with no Spark job
    // (PERF.md "Small vector batches on the driver"); over the gate
    // the same chain runs distributed
    val days = LocalGate.localIfFits(
      day1.withColumn("_day", lit(1))
        .unionByName(day2.withColumn("_day", lit(2))), width = 64)
    val b1 = days.filter(col("_day") === 1).drop("_day")
    val b2 = days.filter(col("_day") === 2).drop("_day")
    val probed0 = docsEmbBuckets(s, d)
    val cand1 = Similarity.incrementalLshCandidates(probed0,
      b1.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12)
    val near1 = scaledCosOnPairs(corpus.unionByName(b1),
        cand1, "ida", "idb", 64)
      .filter(col("cos") >= 0.99)
    // day 1 feeds both the fold and the output: a distributed day is
    // cut once, a driver-path day is already a local relation
    val v1 = {
      val v = embDayVerdicts(b1, near1)
      if (LocalGate.isLocal(v)) v else v.localCheckpoint()
    }
    val s1 = v1.filter(col("verdict") === "kept")
      .select(col("vec_id"), col("embedding"))
    val probed1 = Similarity.appendToEmbBuckets(probed0,
      s1.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12)
    val cand2 = Similarity.incrementalLshCandidates(probed1,
      b2.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12)
    val near2 = scaledCosOnPairs(
        corpus.unionByName(s1).unionByName(b2),
        cand2, "ida", "idb", 64)
      .filter(col("cos") >= 0.99)
    val v2 = embDayVerdicts(b2, near2)
    v1.select(lit(1).as("day"), col("vec_id"), col("verdict"))
      .unionByName(v2.select(lit(2).as("day"), col("vec_id"),
        col("verdict")))
      .orderBy("day", "vec_id")
  }

  /** One curation day of x42 — the vector twin of [[lshDayVerdicts]]:
    * a batch vector is a near dup when it is some pair's `idb`. Pairs
    * off a driver path (a local relation of at most
    * [[LocalGate.InSetMaxIds]] distinct ids) test that as an `InSet`
    * over the batch, which a local batch evaluates with no Spark job;
    * other pairs through a left join on their distinct ids. */
  private def embDayVerdicts(batch: DataFrame,
      pairs: DataFrame): DataFrame = {
    val verdict = (near: Column) =>
      when(near, "near_dup").otherwise("kept").as("verdict")
    val localIds = Option.when(LocalGate.isLocal(pairs))(
        pairs.select(col("idb")).collect().map(_.get(0)).toSet)
      .filter(_.size <= LocalGate.InSetMaxIds)
    localIds.fold {
      val dropped = pairs.select(col("idb").as("vec_id")).distinct()
        .withColumn("_near", lit(1))
      batch.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("embedding"),
          verdict(col("_near").isNotNull))
    } { ids =>
      batch.select(col("vec_id"), col("embedding"),
        verdict(col("vec_id").isInCollection(ids)))
    }
  }

  /** X35b — x35 SERVED FROM THE PER-SNAPSHOT LSH ARTIFACTS
    * ([[docsLshArtifacts]]: the band-bucket table + the verification
    * set table — the DURABLE bucketed catalog tables when
    * [[useLshArtifacts]] is active, the session-persisted builds
    * otherwise): the daily job signatures and bands ONLY the batch —
    * the corpus is never re-shingled, re-signatured, or re-banded.
    * Row-identical to x35 (oracle verbatim; same builder, prebuilt
    * corpus side). */
  def x35bLshFromArtifact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + IncrementOffset).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    val (corpusBanded, corpusSets) = docsLshArtifacts(s, d)
    Dedup.incrementalLshFromArtifacts(corpusBanded, corpusSets, increment,
        "doc_id", "text", n = 3, numHashes = 128, bands = 32,
        threshold = 0.8)
      .orderBy("ida", "idb")
  }

  /** The LSH artifact BUILD cost as a first-class bench row (the
    * memoized-artifact lesson: x35b serves from the memo, so bench
    * history would never see a signature-build regression without
    * this). benchOnly, reduced to corpus-level stats. */
  def x35fLshSigsetBuild(s: SparkSession, d: String): DataFrame =
    Dedup.lshSigSet(
        Tables.wide(Tables.documents(s, d)).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3, numHashes = 128)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("_set"))), lit(0L)).as("n_postings"))

  /** MinHash(128)+LSH(32 bands × 4 rows) with exact verification. The
    * oracle is the exact-Jaccard pair set: precision is exact (each
    * candidate is re-verified), and at threshold 0.8 banding recall is
    * 1-(1-0.8^4)^32 ≈ 1-5e-8, so the LSH path must reproduce the exact
    * result. */
  def x3MinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.8)
      .orderBy("ida", "idb")

  /** SimHash(64) near-dups via 16-bit pigeonhole banding. xxhash64 has
    * no DuckDB equivalent → rows-only check; parity with exact Jaccard
    * is asserted in DedupSpec instead. */
  def x4Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3)
      .orderBy("ida", "idb")

  /** SimHash with the engine-portable md5-derived token hash (60 bits)
    * — the variant whose bit-majority, banding, and Hamming logic the
    * DuckDB oracle recomputes exactly, closing the rows-only gap x4's
    * xxhash64 leaves. */
  def x4bSimhashPortable(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDupsSig(Tables.documents(s, d), "doc_id", "text",
        md5Variant = true, nBits = 60, maxHamming = 3)
      .orderBy("ida", "idb")

  /** Near-dup clusters: connected components over the exact-Jaccard
    * ≥ 0.8 pair graph — (doc_id, cluster_id=min id in component), the
    * canonical-pick step after pairwise dedup. The oracle computes the
    * same components with a recursive transitive-closure CTE. */
  def x11DupClusters(s: SparkSession, d: String): DataFrame =
    nearDupClusterMap(s, d).orderBy("doc_id")

  /** The MATERIALIZED near-dup cluster map (doc_id → cluster_id over
    * the word-3-gram Jaccard ≥ 0.8 pair graph) that x11, x17 and x29
    * all consume. A real 100 TB pipeline writes this once per corpus
    * snapshot and every downstream stage reads the table; re-deriving
    * it per query would re-run the pair generation AND the iterative
    * label-propagation loop (driver-side actions — eager even at
    * DataFrame-construction time) once per consumer. The session memo
    * is the local-mode stand-in for that materialization: first caller
    * pays, the map stays persisted (it is O(docs) rows of two longs),
    * later callers — including re-invocations of the same query —
    * start from the cached result. Keyed by (session, dir) so tests
    * and multi-sf runs never cross-contaminate. */
  /** The cluster-map artifact: label propagation runs in the snapshot
    * job; every later consumer (canonical pick, leakage split — in
    * other sessions and other days) reads the bucketed table. Bucketed
    * by doc_id so downstream doc-keyed joins/aggregates start from a
    * hash-partitioned scan — at cluster scale the map-side exchange of
    * the biggest consumer disappears; ClusterMapSpec pins the
    * no-shuffle doc_id aggregate. (All the memo/conf/provenance
    * plumbing lives in [[DurableArtifact]], shared by every
    * per-snapshot artifact below.) */
  private[graft] val clusterMapArtifact = new DurableArtifact(
    "spark.graft.clusterMapTable", Seq("doc_id"),
    (s, d) => Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8))
      .select(col("node").as("doc_id"), col("cluster_id")),
    // the map's labels are a function of the pair gate: n-gram width,
    // threshold (0.8 = 800000 ppm — stated in ppm, the integer form
    // the engine's gates use), and the df-cap rule
    params = Map("n" -> "3", "thresholdPpm" -> "800000",
      "dfCap" -> "NoCap"),
    // the durable read applies the patch layer, so conf-resolved
    // consumers of a FOLDED map (ServeFoldedConf opt-in) see the
    // folded labels, never the stale base rows
    readTable = (s, t) => readClusterMap(s, t))

  /** Session conf key naming the durable cluster-map table (see
    * [[useClusterMap]]); a dir mismatch falls back to the build path
    * rather than serving another snapshot's clusters. */
  val ClusterMapTableConf: String = clusterMapArtifact.tableConf
  private[graft] def clusterMapBuilds = clusterMapArtifact.builds
  private[graft] def nearDupClusterMap(s: SparkSession, d: String): DataFrame =
    clusterMapArtifact.resolve(s, d)

  /** Point this session's cluster-map consumers at a written table
    * (writing it if absent or stamped for another dir). */
  def useClusterMap(s: SparkSession, d: String, table: String): Unit =
    clusterMapArtifact.use(s, d, table)

  /** Durable bucketed write of the cluster map — see
    * [[clusterMapArtifact]]. */
  def writeClusterMap(s: SparkSession, d: String, table: String,
      buckets: Int = 8): Unit =
    clusterMapArtifact.write(s, d, table, buckets)

  /** Per-row fold-epoch column — [[DurableArtifact.FoldEpochCol]],
    * shared by every durable artifact table since the epoch protocol
    * generalized (round 14): snapshot writes stamp 0, fold N's append
    * stamps N, readers filter `_fe <= committed epoch` — which is
    * what makes a fold's physical writes invisible until the single
    * properties flip (file listings may race; the row filter
    * cannot). The cluster map adds the patch layer on top. */
  private[graft] val FoldEpochCol: String = DurableArtifact.FoldEpochCol

  /** The cluster map's patch table for fold epoch `e` — the tiny
    * old-root → new-root relabel layer [[foldClusterMapDurable]]
    * maintains beside the corpus-sized base table. Epoch-suffixed so
    * a fold can stage the NEXT epoch's patch invisibly and sweep old
    * epochs one pass deferred (readers resolve the patch by the
    * committed epoch, never by "the latest table"). */
  private[graft] def clusterPatchTable(table: String, epoch: Int): String =
    s"${table}_patch_e$epoch"

  /** Table property flipped ATOMICALLY with the folds counter: "true"
    * iff the committed epoch has a (non-empty) patch table. Lets a
    * reader distinguish "no relabels ever" (absent patch is fine)
    * from "my epoch's patch was swept under me" (absent patch is a
    * stale plan held across ≥ 2 folds — fail loudly, never silently
    * serve unrelabeled base rows). */
  private[graft] val ClusterPatchLiveProp = "graft.clusterPatchLive"

  /** Read-back path for [[writeClusterMap]]'s table — no memo, no
    * rebuild: any session sharing the catalog (a fresh SparkSession,
    * a different day's job) consumes the written map directly.
    *
    * COMMIT-SAFE against a concurrent [[foldClusterMapDurable]]: the
    * reader takes the folds counter E and the patch-live marker from
    * ONE catalog fetch (they flip together in one statement), keeps
    * only base rows with fold epoch ≤ E, and applies exactly the
    * epoch-E patch table — so it sees the pre-fold map until the flip
    * and the complete post-fold map after it, never a mix, no matter
    * where between the fold's writes it planned. The relabel applies
    * through one broadcast join (the exact plan x39's in-memory fold
    * runs) and the base keeps its doc_id bucket layout (the patch
    * joins on cluster_id, broadcast side only). A reader that holds
    * its plan across TWO further folds can lose its patch table to
    * the deferred sweep — that read throws (stale-plan error) instead
    * of returning unrelabeled rows. */
  def readClusterMap(s: SparkSession, table: String): DataFrame = {
    val props = DurableArtifact.propsOf(s, table)
    val e = DurableArtifact.foldsIn(props)
    val base = DurableArtifact.upToEpoch(s.table(table), e)
      .select(col("doc_id"), col("cluster_id"))
    if (!props.get(ClusterPatchLiveProp).exists(_.toBoolean)) base
    else {
      val pt = clusterPatchTable(table, e)
      if (!s.catalog.tableExists(pt))
        throw new IllegalStateException(
          s"readClusterMap($table): fold epoch $e declares a live patch " +
            s"but $pt is gone — this plan was held across two or more " +
            "folds (the deferred sweep keeps exactly one prior epoch); " +
            "re-plan against the current epoch")
      Dedup.applyClusterRelabel(base,
        s.table(pt).select(col("old_cluster_id").as("_root"),
          col("new_cluster_id").as("_l")))
    }
  }

  /** Durable O(batch) persistence of a cluster-map fold — the
    * merge-style twin of [[DurableArtifact.appendDelta]] (which is
    * documented INVALID here: relabels mutate existing rows). The
    * day's new pairs reduce to [[Dedup.clusterFoldDelta]]'s
    * batch-sized delta; the brand-new nodes APPEND into the bucketed
    * base table (their rows never mutate), and the relabel map lands
    * in the tiny `<table>_patch_e<epoch>` side table, COMPOSED with any
    * already-stored patch so readers always apply exactly one level:
    *
    *  - stored patch P maps retired labels to current ones; the new
    *    relabel R is stated over CURRENT labels (the fold ran against
    *    the patched read), so the composition is P' = {r → R(l) or l
    *    for (r → l) ∈ P} ∪ R — and the key sets cannot collide
    *    because a retired label never becomes current again (labels
    *    are component minima; merges never split).
    *
    * Everything written is batch-sized: a nightly deployment persists
    * the fold at O(new pairs + touched clusters) instead of
    * rewriting the corpus map ([[writeClusterMap]]). Readers go
    * through [[readClusterMap]]; [[compactClusterMap]] periodically
    * folds the patch layer back into a canonical bucketed snapshot.
    * The base table's folds counter bumps, so snapshot-scoped
    * consumers fall back to building rather than silently reading
    * folded labels ([[DurableArtifact.ServeFoldedConf]]).
    *
    * COMMIT SAFETY (single writer, any number of concurrent readers):
    * the fold's two physical writes are both INVISIBLE when they land
    * — the next epoch's patch goes to an epoch-suffixed table readers
    * don't resolve yet, and the new-node rows carry fold epoch e+1
    * which readers filter out — and ONE `ALTER TABLE SET
    * TBLPROPERTIES` statement (folds counter + patch-live marker
    * together) is the single visibility flip. A reader planning
    * anywhere between the writes sees exactly the pre-fold map; after
    * the flip, exactly the post-fold map (DurableClusterFoldSpec
    * probes both interleave points). Superseded patch epochs sweep
    * ONE FOLD DEFERRED, so a reader is safe as long as it finishes
    * within one fold interval of planning — the same contract as the
    * stream layers' deferred compaction cleanup; a plan held across
    * two folds fails loudly in [[readClusterMap]] rather than serving
    * unrelabeled rows. Concurrent WRITERS are not supported (nightly
    * single-writer job); a fold that crashes mid-way either left only
    * invisible writes (retry just works — the staged patch is
    * overwritten) or a torn new-node append above the committed
    * epoch, which the next fold detects and refuses until
    * [[compactClusterMap]] discards it (the epoch-filtered read never
    * saw those rows).
    *
    * `autoCompactAtPatchRows` — the patch-compaction cadence: when
    * > 0 and the composed patch reaches that many rows, the fold runs
    * [[compactClusterMap]] inline (the nightly job's own maintenance
    * window — the overwrite is NOT concurrent-reader-safe, which is
    * exactly why the cadence lives here and not in a background
    * thread). CHOOSING THE THRESHOLD: the patch must stay broadcast-
    * small — the hard backstop is the driver union-find gate
    * (`require(broadcastable)` below, default 4M entries ≈ 64 MB) —
    * and every consumer pays one broadcast of the patch per read, so
    * compact well before that: 100k rows (~1.6 MB broadcast) keeps
    * the read tax negligible while making compaction rarer than one
    * in dozens of typical folds (relabels per day = clusters MERGED
    * that day, usually ≪ new docs). 0 = off (out-of-band maintenance
    * only, the default — a deployment that compacts on its own
    * schedule). */
  def foldClusterMapDurable(s: SparkSession, d: String, table: String,
      newPairs: DataFrame, autoCompactAtPatchRows: Int = 0): Unit = {
    // single-writer enforcement: the lease is claimed FIRST — before
    // the epoch read, the guards, and the driver-side patch staging. A
    // fold that read its epoch before acquiring could have a whole
    // sibling fold complete in between (no overlap, so the lease alone
    // wouldn't refuse it) and would then stage its patch at the STALE
    // epoch, overwriting the live one. Released atomically with the
    // flip; a thrown fold (including a failed guard below) releases in
    // the catch; a crashed JVM leaves it for compactClusterMap.
    val lease = DurableArtifact.acquireFoldLease(s, table)
    val (composedRows, e) = try {
    val e = DurableArtifact.foldsOf(s, table)
    clusterMapArtifact.requireFoldable(s, table, "foldClusterMapDurable",
      "writeClusterMap")
    // torn-append guard: rows stamped ABOVE the committed epoch mean a
    // previous fold crashed between its file append and its flip.
    // Appending again would duplicate those rows the moment the next
    // flip lands, so recovery is explicit: compactClusterMap rewrites
    // the base from the epoch-FILTERED read (discarding the torn rows)
    // and folding resumes cleanly. Min/max row-group stats prune the
    // probe to the newest files.
    require(s.table(table).filter(col(FoldEpochCol) > e).head(1).isEmpty,
      s"foldClusterMapDurable: $table carries rows above committed " +
        s"epoch $e — a crashed fold left a torn append; run " +
        "compactClusterMap(table) to discard it, then retry the fold")
    val delta = Dedup.clusterFoldDelta(readClusterMap(s, table), newPairs)
    require(delta.broadcastable,
      "foldClusterMapDurable: the relabel delta exceeded the driver " +
        s"union-find gate (${LocalGate.MaxRowsConf}) — a patch " +
        "layer that cannot broadcast cannot serve; compact and rewrite " +
        "the snapshot instead")
    val r = delta.relabel.collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val stored =
      if (s.catalog.tableExists(clusterPatchTable(table, e)))
        s.table(clusterPatchTable(table, e)).collect()
          .map(row => row.getLong(0) -> row.getLong(1)).toMap
      else Map.empty[Long, Long]
    val composed = stored.map { case (root, l) =>
      root -> r.getOrElse(l, l) } ++ r
    // 1. Stage the NEXT epoch's patch — invisible: readers resolve the
    //    patch by the committed epoch. A crashed earlier attempt's
    //    stale e+1 table is simply overwritten. The common pure-append
    //    day (no relabels ever — PERF.md "Durable cluster-map fold
    //    persist cost at 125×m" saw exactly this) writes no patch.
    if (composed.nonEmpty) {
      val pt = clusterPatchTable(table, e + 1)
      ClusterFoldHooks.beforeStagePatch()
      // the lease's set-then-verify admits the A-set/A-verify/B-set/
      // B-verify interleave where BOTH writers hold a verified token;
      // both would then stage THIS epoch's patch table, and the one
      // whose staging lands last wins silently — re-verify the token
      // right before the staging write so the interleaved loser dies
      // here instead of overwriting the recorded holder's staged patch
      // (appendDelta's epoch fence backstops the flip itself).
      DurableArtifact.requireLease(s, table, lease,
        s"foldClusterMapDurable: lost the fold lease on $table before " +
          "staging the patch — a concurrent fold interleaved; this fold " +
          "aborts without writing")
      DurableArtifact.dropOrphanWarehouseDir(s, pt)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("old_cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("new_cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(composed.toSeq.map { case (a, b) =>
          org.apache.spark.sql.Row(a, b) }: _*)
      s.createDataFrame(rows, schema).write.mode("overwrite")
        .format("parquet").saveAsTable(pt)
    }
    ClusterFoldHooks.afterPatchWrite()
    // 2. New-node files land stamped epoch e+1 (appendDelta's generic
    //    epoch protocol) — invisible: readers filter _fe <= e. 3. ONE
    //    properties statement (inside appendDelta) flips the folds
    //    counter AND the patch-live marker together — the single
    //    visibility point.
    clusterMapArtifact.appendDelta(s, d, table, delta.newNodes,
      extraProps = Map(ClusterPatchLiveProp -> composed.nonEmpty.toString),
      afterFilesWritten = () => ClusterFoldHooks.beforeFlip(),
      heldLease = Some(lease))
    (composed.size, e)
    } catch {
      case t: Throwable =>
        DurableArtifact.releaseFoldLease(s, table, lease)
        throw t
    }
    // 4. Deferred sweep: epochs ≤ e-1 drop; epoch e survives ONE more
    //    fold so a reader that planned just before the flip keeps its
    //    patch table (the StreamIndex deferred-cleanup discipline —
    //    safe for any reader that finishes within one fold interval).
    sweepClusterPatches(s, table, below = e)
    // 5. Auto-compaction cadence — see the parameter doc above.
    if (autoCompactAtPatchRows > 0 && composedRows >= autoCompactAtPatchRows)
      compactClusterMap(s, table)
  }

  /** Test seams for [[foldClusterMapDurable]]'s commit-safety spec:
    * the two interleave points where a concurrent reader must still
    * see the complete PRE-fold map — after the staged patch write,
    * and after the new-node files land but before the properties
    * flip. No-ops in production. */
  private[graft] object ClusterFoldHooks {
    @volatile var beforeStagePatch: () => Unit = () => ()
    @volatile var afterPatchWrite: () => Unit = () => ()
    @volatile var beforeFlip: () => Unit = () => ()
    def reset(): Unit = {
      beforeStagePatch = () => ()
      afterPatchWrite = () => ()
      beforeFlip = () => ()
    }
  }

  /** Drop committed-and-superseded patch epochs STRICTLY below
    * `below` (crash leftovers included — the sweep re-runs every
    * fold, so a fold that died between flip and sweep is caught by
    * the next one). */
  private def sweepClusterPatches(s: SparkSession, table: String,
      below: Int): Unit = {
    val prefix = s"${table}_patch_e"
    s.sql(s"SHOW TABLES LIKE '$prefix*'").collect()
      .map(_.getString(1))
      .flatMap(t => scala.util.Try(t.stripPrefix(prefix).toInt).toOption
        .map(t -> _))
      .filter(_._2 < below)
      .foreach { case (t, _) => s.sql(s"DROP TABLE IF EXISTS $t") }
  }

  /** Fold the patch layer back into a canonical bucketed snapshot —
    * the periodic maintenance pass (the patch stays broadcast-tiny
    * between compactions; this bounds how many folds accumulate) AND
    * the recovery step after a crashed fold: the artifact's
    * [[DurableArtifact.compactTable]] over the patched read, the
    * patch-live marker restated false, then ALL patch epochs drop.
    * Provenance (source dir, folds counter) is kept — compaction
    * changes layout, never content; [[rebaseClusterMap]] is the
    * deliberate path back to snapshot-serving status. UNLIKE the
    * fold, the overwrite is not concurrent-reader-safe: run it in the
    * single-writer job's own window (which is where
    * `autoCompactAtPatchRows` runs it). */
  def compactClusterMap(s: SparkSession, table: String): Unit = {
    clusterMapArtifact.compactTable(s, table, NoLivePatch)
    sweepClusterPatches(s, table, below = Int.MaxValue)
  }

  /** Return a compacted cluster-map table to SNAPSHOT-serving status
    * as the canonical artifact of corpus dir `d` — the artifact's
    * [[DurableArtifact.rebase]] (the caller asserts `d` IS the union
    * corpus the folded map now covers) with the patch-live marker
    * restated false, then the patch sweep. After it, conf-resolved
    * snapshot consumers serve the table directly again, zero rebuilds
    * (spec-pinned). */
  def rebaseClusterMap(s: SparkSession, d: String, table: String): Unit = {
    clusterMapArtifact.rebase(s, d, table, NoLivePatch)
    sweepClusterPatches(s, table, below = Int.MaxValue)
  }

  private val NoLivePatch = Map(ClusterPatchLiveProp -> "false")

  /** Eviction hook for the session memo. */
  def evictClusterMap(s: SparkSession, d: String): Unit =
    clusterMapArtifact.evict(s, d)

  // ——— durable posting index (the incremental near-dup artifact) ———
  // Same materialized-artifact contract as the cluster map: the
  // per-shingle packed posting lists ([[Dedup.postingIndex]]) are
  // built once per corpus snapshot, persisted as a catalog table
  // BUCKETED BY `_sh`, and every later increment job (x33/x37b/x34b,
  // and tomorrow's session) joins its batch against the table with no
  // corpus-side shuffle and no corpus re-shingle.
  private[graft] val postingIndexArtifact = new DurableArtifact(
    "spark.graft.postingIndexTable", Seq("_sh"),
    (s, d) => Dedup.postingIndex(
      Tables.wide(Tables.documents(s, d)).select(col("doc_id"), col("text")),
      "doc_id", "text", n = 3),
    // postings depend only on the shingle width; threshold/cap are
    // pair-time parameters applied by the consumer
    params = Map("n" -> "3"),
    // the density-cap stats pair, folded into the snapshot write and
    // stored with the table (VERDICT r16 item 5): the from-index
    // serves read two catalog numbers instead of re-aggregating the
    // corpus-sized index; any fold clears them (generic appendDelta
    // contract), so a folded table's readers keep the in-plan agg
    stats = Some(idx => {
      val r = idx.agg(
        coalesce(sum(size(col("_lst"))), lit(0L)).as("_so"),
        count(lit(1)).as("_co")).head()
      Map("so" -> r.getLong(0).toString, "co" -> r.getLong(1).toString)
    }))

  /** Session conf key naming the durable posting-index table; same
    * provenance rule as [[ClusterMapTableConf]] (dir mismatch falls
    * back to building rather than serving another snapshot's index). */
  val PostingIndexTableConf: String = postingIndexArtifact.tableConf
  /** Builds observed — IncrementalIndexSpec asserts the durable
    * read-back path never triggers one. */
  private[graft] def postingIndexBuilds = postingIndexArtifact.builds

  private[graft] def docsPostingIndex(s: SparkSession, d: String): DataFrame =
    postingIndexArtifact.resolve(s, d)

  /** The index-side 1-row cap stats (`_so` = Σ|posting lists|, `_co` =
    * #shingle rows), computed ONCE per (session, dir) and served as a
    * literal local frame — the stand-in for the deployment contract
    * the from-index doc states (the stats are folded into the index
    * build and stored with the table; they never change between the
    * appends they participate in). Without this every from-index
    * serve (x33/x34b/x37 — and every bench rep) re-aggregated the
    * corpus-sized index just to derive the same two numbers. Evicted
    * with the index ([[evictPostingIndex]]). */
  private val postingIndexStatsMemo = new SessionMemo[(Long, Long)]()
  private[graft] def docsPostingIndexStats(s: SparkSession,
      d: String): Option[DataFrame] = {
    // Memoize ONLY the plain session-build resolution; the cap stats
    // must track exactly what the serve reads. Under ServeFoldedConf
    // the table's content may include folded batches — in-plan agg.
    // A conf-named table serves the stats from ITS OWN catalog stamp
    // (written with the snapshot, cleared by any fold —
    // servedSnapshotStats gates on the same provenance checks the
    // serve itself applies), falling back to the in-plan aggregate
    // whenever the stamp is absent or the serve would not read the
    // pure snapshot table.
    if (s.conf.get(DurableArtifact.ServeFoldedConf, "false").toBoolean)
      None
    else if (s.conf.getOption(PostingIndexTableConf).isDefined)
      postingIndexArtifact.servedSnapshotStats(s, d).flatMap { m =>
        for (so <- m.get("so"); co <- m.get("co"))
          yield s.range(1).select(lit(so.toLong).as("_so"),
            lit(co.toLong).as("_co"))
      }
    else {
      val (so, co) = postingIndexStatsMemo(s, d) {
        val r = docsPostingIndex(s, d).agg(
          coalesce(sum(size(col("_lst"))), lit(0L)).as("_so"),
          count(lit(1)).as("_co")).head()
        (r.getLong(0), r.getLong(1))
      }
      Some(s.range(1).select(lit(so).as("_so"), lit(co).as("_co")))
    }
  }

  /** Point this session's increment jobs at a written index table:
    * writes it if absent or mismatched (the snapshot job), then sets
    * [[PostingIndexTableConf]] so [[x33IncrementalFromIndex]] and any
    * other from-index caller reads the bucketed table from here on. */
  def usePostingIndex(s: SparkSession, d: String, table: String): Unit =
    postingIndexArtifact.use(s, d, table)

  /** Eviction hook mirroring [[evictClusterMap]]; also drops the
    * memoized cap stats (they are a pure function of the index). */
  def evictPostingIndex(s: SparkSession, d: String): Unit = {
    postingIndexStatsMemo.evict(s, d)
    postingIndexArtifact.evict(s, d)
  }

  // ——— durable LSH artifacts (the x35b corpus side) ———
  // The band-bucket table and the per-doc verification set table, both
  // derived once per snapshot from ONE Dedup.lshSigSet pass (the
  // shared upstream is memoized so the two builds don't each re-run
  // the signature aggregation; x35f benches that pass un-memoized).
  // Durable twins: the banded table bucketed by the band-hash join
  // key, the set table by the verification-join id.
  private val lshSigSetMemo = new SessionMemo[DataFrame](_.unpersist())
  private def docsLshSigSet(s: SparkSession, d: String): DataFrame =
    lshSigSetMemo(s, d)(Dedup.lshSigSet(
      Tables.wide(Tables.documents(s, d)).select(col("doc_id"), col("text")),
      "doc_id", "text", n = 3, numHashes = 128).persist())

  private[graft] val lshBandedArtifact = new DurableArtifact(
    "spark.graft.lshBandedTable", Seq("_bh"),
    (s, d) => Dedup.lshBanded(docsLshSigSet(s, d), 128, 32),
    params = Map("n" -> "3", "numHashes" -> "128", "bands" -> "32"))
  private[graft] val lshSetsArtifact = new DurableArtifact(
    "spark.graft.lshSetsTable", Seq("_id"),
    (s, d) => docsLshSigSet(s, d).select(col("_id"), col("_set")),
    params = Map("n" -> "3", "numHashes" -> "128"))

  private[graft] def docsLshArtifacts(
      s: SparkSession, d: String): (DataFrame, DataFrame) =
    (lshBandedArtifact.resolve(s, d), lshSetsArtifact.resolve(s, d))

  /** Point this session's x35b at written LSH artifact tables
    * (`<base>_banded`, `<base>_sets`), writing them if absent or
    * mismatched — the LSH snapshot job. */
  def useLshArtifacts(s: SparkSession, d: String, base: String): Unit = {
    lshBandedArtifact.use(s, d, s"${base}_banded")
    lshSetsArtifact.use(s, d, s"${base}_sets")
  }

  /** Eviction hook for the LSH artifact memos (both tables and the
    * shared sigSet upstream). */
  def evictLshArtifacts(s: SparkSession, d: String): Unit = {
    lshBandedArtifact.evict(s, d)
    lshSetsArtifact.evict(s, d)
    lshSigSetMemo.evict(s, d)
  }

  // ——— durable corpus fingerprint set (the x34b exact-dup probe) ———
  // One distinct md5 per corpus document — the second per-snapshot
  // curation artifact alongside the posting index. Bucketed by fp so
  // the exact-dup probe join reads the corpus side with no exchange.
  private[graft] val corpusFpArtifact = new DurableArtifact(
    "spark.graft.corpusFpTable", Seq("fp"),
    (s, d) => curationCorpusFp(
      Tables.wide(Tables.documents(s, d)).select(col("doc_id"), col("text"))),
    params = Map("fp" -> "md5"))

  private[graft] def docsCorpusFp(s: SparkSession, d: String): DataFrame =
    corpusFpArtifact.resolve(s, d)

  /** Point this session's x34b at a written fp-set table. */
  def useCorpusFp(s: SparkSession, d: String, table: String): Unit =
    corpusFpArtifact.use(s, d, table)

  /** Eviction hook for the fp-set memo. */
  def evictCorpusFp(s: SparkSession, d: String): Unit =
    corpusFpArtifact.evict(s, d)

  // ——— durable embedding bucket table (the x36 corpus side) ———
  // The radius-1-probed hyperplane buckets of the vector corpus
  // ([[Similarity.probedBuckets]]) — probing folded INTO the artifact
  // so the daily re-embed batch never maps over the corpus. Bucketed
  // by the bucket code, the candidate join's key.
  private[graft] val embBucketsArtifact = new DurableArtifact(
    "spark.graft.embBucketTable", Seq("_bucket"),
    (s, d) => Similarity.probedBuckets(
      Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12),
    params = Map("dim" -> "64", "nPlanes" -> "12", "multiProbe" -> "true"))

  private[graft] def docsEmbBuckets(s: SparkSession, d: String): DataFrame =
    embBucketsArtifact.resolve(s, d)

  /** Point this session's x36 at a written probed-bucket table. */
  def useEmbBuckets(s: SparkSession, d: String, table: String): Unit =
    embBucketsArtifact.use(s, d, table)

  /** Eviction hook for the embedding-bucket memo. */
  def evictEmbBuckets(s: SparkSession, d: String): Unit =
    embBucketsArtifact.evict(s, d)

  /** Incremental dedup: an incoming batch is anti-joined against the
    * existing corpus on the content fingerprint — the shape of every
    * "only ingest what we haven't seen" pipeline step. Left-anti join
    * on a fingerprint key; batches derived deterministically from
    * doc_id parity. */
  def x7IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val (incoming, existing) = incrementalBatches(s, d)
    incoming.join(existing, incoming("fp") === col("fp_e"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Deterministic batch split: existing = even doc_ids; incoming = odd
    * originals plus re-submitted copies of the evens (shifted ids) —
    * so the anti join keeps genuinely-new docs and the semi join
    * reports the resubmissions. */
  private def incrementalBatches(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .union(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("fp")))
    val existing = docs.filter(col("doc_id") % 2 === 0)
      .select(col("fp").as("fp_e"))
    (incoming, existing)
  }

  /** Cross-batch overlap: semi join — incoming docs whose content
    * already exists in the corpus half (the "what would dedup drop"
    * report). */
  def x8CrossBatchOverlap(s: SparkSession, d: String): DataFrame = {
    val (incoming, existing) = incrementalBatches(s, d)
    incoming.join(existing, incoming("fp") === col("fp_e"), "left_semi")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Fuzzy dedup, the production composition: cheap shingle-Jaccard
    * candidates (threshold 0.3) verified with exact edit distance on
    * the 60-char prefix — candidates come from the shuffle-bounded
    * shingle join, the O(len²) levenshtein only runs on candidate
    * pairs. The oracle recomputes both stages exactly in SQL. */
  def t5EditPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cand = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.3)
    val pfx = docs.select(col("doc_id"), substring(col("text"), 1, 60).as("p"))
    cand
      .join(pfx.toDF("ida2", "pa"), col("ida") === col("ida2"))
      .join(pfx.toDF("idb2", "pb"), col("idb") === col("idb2"))
      .select(col("ida"), col("idb"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= 10)
      .orderBy("ida", "idb")
  }

  /** T5's PRODUCTION form — the x2b remedy applied to the fuzzy-dedup
    * composition: the candidate pair stage runs under the
    * density-adaptive df cap ([[Dedup.DfCap.AdaptiveAvg]] — see x2b
    * for why a fixed small cap degenerates off its tuning SF),
    * bounding the Σdf² term that makes uncapped t5 the suite's largest
    * super-linear shape under heavy duplication (25× bench evidence
    * in PERF.md), and the candidate gate is exact-integer ppm
    * (`c·10⁶ ≥ 300000·union`) instead of a rounded double ratio, so no
    * boundary tie can flip the candidate set between engines. The
    * verify stage is unchanged: exact levenshtein on the 60-char
    * prefix, emitted only for candidates. */
  def t5bEditPairsCapped(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cand = Dedup.ngramJaccardPairsPpm(docs, "doc_id", "text",
      n = 3, thresholdPpm = 300000L, dfCap = Dedup.DfCap.AdaptiveAvg(2))
    val pfx = docs.select(col("doc_id"), substring(col("text"), 1, 60).as("p"))
    cand
      .join(pfx.toDF("ida2", "pa"), col("ida") === col("ida2"))
      .join(pfx.toDF("idb2", "pb"), col("idb") === col("idb2"))
      .select(col("ida"), col("idb"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= 10)
      .orderBy("ida", "idb")
  }

  // ------------------------------------------- similarity search

  /** Brute-force cosine top-10 for 8 query vectors against the whole
    * corpus — exact DECIMAL(9,6) arithmetic on the quantized-long
    * path (bit-equal decimal-relational reference kept for the spec). */
  def x5AnnCosineTopK(s: SparkSession, d: String): DataFrame =
    x5AnnCosineTopKImpl(s, d, decimalRef = false)

  private[graft] def x5AnnCosineTopKImpl(s: SparkSession, d: String,
      decimalRef: Boolean): DataFrame = {
    val scored =
      if (decimalRef) {
        val e = expandDecimal(Tables.embeddings(s, d))
        val seeds = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qa"), col("i").as("si"), col("v").as("sv"))
        val dots = broadcast(seeds)
          .join(e, col("si") === col("i") && col("vec_id") =!= col("qa"))
          .groupBy(col("qa"), col("vec_id").as("vb"))
          .agg(sum(col("sv") * col("v")).as("dot"))
        val norms = e.groupBy("vec_id").agg(sum(col("v") * col("v")).as("n2"))
        dots
          .join(norms.toDF("na_id", "na"), col("qa") === col("na_id"))
          .join(norms.toDF("nb_id", "nb"), col("vb") === col("nb_id"))
          .select(col("qa").as("query_id"), col("vb").as("neighbor_id"),
            round(col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
              .as("cos"))
      } else {
        val e = quantizedVectors(Tables.embeddings(s, d))
        val seeds = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qa"), col("q").as("_sq"),
            col("n2").as("_sn2"))
        broadcast(seeds).join(e, col("vec_id") =!= col("qa"))
          .select(col("qa").as("query_id"), col("vec_id").as("neighbor_id"),
            scaledCos(sdot(col("_sq"), col("q")), col("_sn2"), col("n2"))
              .as("cos"))
      }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .drop("rn")
      .orderBy("query_id", "neighbor_id")
  }

  /** Exact DECIMAL(9,6)-quantized cosine restricted to a given pair
    * set, on the quantized-long path: two narrow id joins attach each
    * side's (q, n2), one native integer dot per pair — the rerank stage
    * every approximate candidate generator shares (the streaming vector
    * modality, [[graft.streaming.StreamEmbed]], included), minus the
    * relational detour. `raw` carries (vec_id, embedding) of `dim`
    * elements, the pairs carry the two id columns. */
  private[graft] def scaledCosOnPairs(raw: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, dim: Int): DataFrame =
    localScaledCos(raw, pairs, aCol, bCol, dim).getOrElse {
      val vecs = quantizedVectors(raw)
      val va = vecs.select(col("vec_id").as("_pa"), col("q").as("_qa"),
        col("n2").as("_na"))
      val vb = vecs.select(col("vec_id").as("_pb"), col("q").as("_qb"),
        col("n2").as("_nb"))
      pairs
        .join(va, col(aCol) === col("_pa"))
        .join(vb, col(bCol) === col("_pb"))
        .select(col(aCol), col(bCol),
          scaledCos(sdot(col("_qa"), col("_qb")), col("_na"), col("_nb"))
            .as("cos"))
    }

  /** [[scaledCosOnPairs]]' driver path, taken when the pairs are
    * already a local relation (a driver-path candidate set) with long
    * ids and everything fits [[LocalGate]] — `(ids + 2 × pairs) × dim`
    * collected elements: one filtered scan fetches only the candidate
    * ids' vectors ([[LocalGate.filterToIds]]) and quantizes them in
    * that job with [[quantize]] (no [[Tables.wide]] fan-out), and the pairs
    * are scored by projecting the SAME `scaled_dot` / `scaledCos`
    * Columns over a local relation of (pair, both vectors), which the
    * optimizer evaluates (ConvertToLocalRelation) with no Spark job.
    * Quantization stays in the fetch job's own `quantize_decimal6`, so
    * every value is the distributed plan's. A vec_id fetched twice
    * falls back to the joins, whose multiplicity it would change. */
  private def localScaledCos(raw: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, dim: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val s = pairs.sparkSession
    val ids2 = pairs.select(col(aCol), col(bCol))
    val eligible = ids2.schema.fields.forall(_.dataType == LongType) &&
      raw.schema("vec_id").dataType == LongType && LocalGate.isLocal(ids2)
    if (!eligible) return None
    val pairRows = ids2.collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = pairRows.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    if ((ids.size + 2L * pairRows.length) * dim > LocalGate.maxRows(s))
      return None
    val vecs = quantize(LocalGate.filterToIds(
      raw.select(col("vec_id"), col("embedding")), "vec_id", ids))
    val fetched = LocalGate.collectIfFits(vecs, width = dim)
      .getOrElse(return None)
      .filter(r => !r.isNullAt(0))
    val byId = fetched.iterator.map(r => r.getLong(0) -> r).toMap
    if (byId.size < fetched.length) return None
    val qType = vecs.schema("q").dataType.asInstanceOf[ArrayType]
    val scored = pairRows.iterator.flatMap { case (a, b) =>
      for (va <- byId.get(a); vb <- byId.get(b))
        yield org.apache.spark.sql.Row(a, b, va.get(1), va.get(2), vb.get(1),
          vb.get(2))
    }.toSeq
    val local = s.createDataFrame(java.util.Arrays.asList(scored: _*),
      StructType(Seq(StructField(aCol, LongType), StructField(bCol, LongType),
        StructField("_qa", qType), StructField("_na", LongType),
        StructField("_qb", qType), StructField("_nb", LongType))))
    Some(local.select(col(aCol), col(bCol),
      scaledCos(sdot(col("_qa"), col("_qb")), col("_na"), col("_nb"))
        .as("cos")))
  }

  /** Exact-decimal cosine restricted to a given pair set: dots and
    * norms from the relational (vec_id, i, v) layout, computed ONLY on
    * the `(aCol, bCol)` pairs — the REFERENCE rerank the spec pins
    * [[scaledCosOnPairs]] against. */
  private def decimalCosOnPairs(e: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val ea = e.toDF("_pa", "ia", "_wa")
    val eb = e.toDF("_pb", "ib", "_wb")
    val dots = pairs
      .join(ea, col(aCol) === col("_pa"))
      .join(eb, col(bCol) === col("_pb") && col("ia") === col("ib"))
      .groupBy(col(aCol), col(bCol))
      .agg(sum(col("_wa") * col("_wb")).as("dot"))
    val norms = e.groupBy("vec_id").agg(sum(col("v") * col("v")).as("n2"))
    dots
      .join(norms.toDF("na_id", "na"), col(aCol) === col("na_id"))
      .join(norms.toDF("nb_id", "nb"), col(bCol) === col("nb_id"))
      .select(col(aCol), col(bCol),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("cos"))
  }

  /** The LSH ANN scale path, held to the exact answer: multi-table
    * hyperplane LSH (r=4 planes × L=16 tables, radius-1 multiprobe)
    * generates candidates, the exact-decimal rerank picks top-10 —
    * and the oracle is x5's brute-force SQL, so a hash match proves
    * the bucketed path reproduces the exact result on this corpus
    * (recall measured 1.000 at sf0.001/0.01/0.1 — see AnnRecall;
    * same contract shape as x3's MinHash-LSH vs exact Jaccard). */
  def x5bAnnLshTopK(s: SparkSession, d: String): DataFrame =
    x5bAnnLshTopKImpl(s, d, decimalRef = false)

  private[graft] def x5bAnnLshTopKImpl(s: SparkSession, d: String,
      decimalRef: Boolean): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cand = Similarity.lshCandidatePairsMulti(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, nPlanes = 4, nTables = 16, multiProbe = true)
      .select(col("query_id").as("qa"), col("neighbor_id").as("vb"))
    val scored = (if (decimalRef)
        decimalCosOnPairs(expandDecimal(emb), cand, "qa", "vb")
      else scaledCosOnPairs(emb, cand, "qa", "vb", 64))
      .select(col("qa").as("query_id"), col("vb").as("neighbor_id"), col("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .drop("rn")
      .orderBy("query_id", "neighbor_id")
  }

  /** The IVF ANN scale path under a recall contract: probed k-means
    * cells (nLists=8, nProbe=5, fixed seed) against the brute-force
    * top-10, reporting per-query truth size and a corpus-level
    * recall ≥ 0.7 flag (measured 0.89–0.98 across sfs — AnnRecall;
    * k-means cells are data-adaptive, so unlike x5b the result is not
    * bit-reproducible from SQL and the contract is the floor, not the
    * exact set). */
  def x5cAnnIvfRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
        nLists = 8, nProbe = 5, corpusKey = Some(d))
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    val hits = brute.join(ivf,
      col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
      "left")
    val perQuery = hits.groupBy("query_id")
      .agg(count(lit(1)).as("n_true"), count(col("n2")).as("_n_hit"))
    val overall = perQuery.agg(
      (sum(col("_n_hit")) >= sum(col("n_true")) * 0.7).as("recall_ok"))
    perQuery.crossJoin(broadcast(overall))
      .select(col("query_id"), col("n_true"), col("recall_ok"))
      .orderBy("query_id")
  }

  /** Embedding near-dup pairs: originals (vec_id<200) ∪ perturbed
    * copies, all pairs with cosine ≥ 0.99 — exact decimal math. */
  def x6EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    x6EmbeddingNearDupImpl(s, d, decimalRef = false)

  private[graft] def x6EmbeddingNearDupImpl(s: SparkSession, d: String,
      decimalRef: Boolean): DataFrame = {
    val all = x6Corpus(s, d)
    val scored =
      if (decimalRef) {
        val e = expandDecimal(all)
        val a = e.toDF("ida", "ia", "va")
        val b = e.toDF("idb", "ib", "vb")
        val dots = a.join(b, col("ia") === col("ib") && col("ida") < col("idb"))
          .groupBy("ida", "idb").agg(sum(col("va") * col("vb")).as("dot"))
        val norms = e.groupBy("vec_id").agg(sum(col("v") * col("v")).as("n2"))
        dots
          .join(norms.toDF("na_id", "na"), col("ida") === col("na_id"))
          .join(norms.toDF("nb_id", "nb"), col("idb") === col("nb_id"))
          .select(col("ida"), col("idb"),
            round(col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
              .as("cos"))
      } else {
        val e = quantizedVectors(all)
        val a = e.select(col("vec_id").as("ida"), col("q").as("_qa"),
          col("n2").as("_na"))
        val b = e.select(col("vec_id").as("idb"), col("q").as("_qb"),
          col("n2").as("_nb"))
        a.join(broadcast(b), col("ida") < col("idb"))
          .select(col("ida"), col("idb"),
            scaledCos(sdot(col("_qa"), col("_qb")), col("_na"), col("_nb"))
              .as("cos"))
      }
    scored.filter(col("cos") >= 0.99).orderBy("ida", "idb")
  }

  /** x6/x6b's shared fixture corpus: originals (vec_id<200) plus
    * perturbed copies. */
  private def x6Corpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .union(copies)
  }

  /** The near-dup scale path held to x6's exact answer: hyperplane-LSH
    * bucketing (map-only, radius-1 probes) generates candidate pairs
    * over the same originals ∪ perturbed-copies corpus, the
    * exact-decimal rerank applies the 0.99 threshold — oracle is x6's
    * SQL, so a hash match proves the bucketed equi-join path loses no
    * pair that the O(n²) cartesian finds. Near-dup pairs are nearly
    * parallel vectors (cos ≥ 0.99), so bucket agreement is near-certain
    * and the candidate set is a true superset. */
  def x6bNearDupLsh(s: SparkSession, d: String): DataFrame =
    x6bNearDupLshImpl(s, d, decimalRef = false)

  private[graft] def x6bNearDupLshImpl(s: SparkSession, d: String,
      decimalRef: Boolean): DataFrame = {
    val all = x6Corpus(s, d)
    val cand = Similarity.lshNearDupCandidates(
      all.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12, multiProbe = true)
    (if (decimalRef) decimalCosOnPairs(expandDecimal(all), cand, "ida", "idb")
     else scaledCosOnPairs(all, cand, "ida", "idb", 64))
      .filter(col("cos") >= 0.99)
      .orderBy("ida", "idb")
  }

  /** X36 — incremental near-dup on the VECTOR modality: the daily
    * re-embed batch (every third base vector, perturbed — the model
    * refresh that re-encodes part of the corpus) against the corpus
    * via hyperplane-LSH buckets, with the corpus bucket table NEVER
    * self-joined ([[Similarity.incrementalLshCandidates]]: one equi
    * join of the probed corpus artifact against the batch's raw
    * buckets + the batch's own probed self-join; probing is folded
    * into the artifact so the batch never maps over the corpus), then
    * the exact quantized rerank at 0.99 on candidates only. Completes
    * the incremental recurrence family across all three dedup
    * modalities (exact/sketch text: x32-x35; vectors: here). Oracle =
    * the exact decimal pair listing over the union restricted to
    * ≥1-new — same every-candidate-verified / near-parallel-recall
    * adjudication as x6b. */
  def x36IncrementalEmbedNearDup(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val increment = raw.filter(col("vec_id") % 3 === 1)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    val corpus = raw.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // the probed corpus artifact — the durable bucketed table when
    // useEmbBuckets is active, the session-persisted build otherwise
    val corpusProbed = docsEmbBuckets(s, d)
    val cand = Similarity.incrementalLshCandidates(corpusProbed,
      increment.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dim = 64, nPlanes = 12)
    scaledCosOnPairs(corpus.unionByName(increment),
        cand, "ida", "idb", 64)
      .filter(col("cos") >= 0.99)
      .orderBy("ida", "idb")
  }

  /** The ~1M-vector stress corpus of the embStress bench rows: each
    * base embedding replicated 500× with a deterministic per-copy
    * one-dimension perturbation — the scale where the vector
    * recurrence's artifact-vs-recompute gap is measurable (at the
    * fixture's 200 vectors every path is stage-latency bound). */
  private def embStressCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(499))).as("k"))
      .select((col("vec_id") * 1000 + col("k")).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === pmod(col("k"), lit(64)),
            x + col("k").cast("float") / 10000).otherwise(x))
          .cast("array<float>").as("embedding"))
      .repartition(s.sparkContext.defaultParallelism)
  }

  // the memoized persisted probed-bucket artifact over the stress
  // corpus — prebuilt per snapshot in a deployment, so the serve row
  // times the daily job (rep 1 pays the one-time build; Bench reports
  // the min of 3 reps = the warm serve)
  private val embStressArtifactMemo = new SessionMemo[DataFrame](_.unpersist())
  private def embStressArtifact(s: SparkSession, d: String): DataFrame =
    embStressArtifactMemo(s, d)(Similarity.probedBuckets(
      embStressCorpus(s, d), "vec_id", "embedding", dim = 64, nPlanes = 12)
      .persist())

  /** The vector recurrence's ~0.1% re-embed batch over
    * [[embStressCorpus]], served by the x36s bench row. */
  private def embStressIncrement(s: SparkSession, d: String): DataFrame =
    embStressCorpus(s, d).filter(pmod(col("vec_id"), lit(997)) === 0)
      .select((col("vec_id") + 1000000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f))
          .cast("array<float>").as("embedding"))

  /** The vector-recurrence SCALE path as bench history (the r10
    * verdict's gap: x36's bench row is fixture-constant, so the
    * 2.0-vs-6.3 s evidence at ~1M vectors lived only in PERF.md):
    * serves the stress batch's candidate generation from the
    * memoized probed-bucket artifact — the daily job, corpus never
    * mapped over. benchOnly: the candidate semantics are pinned by
    * IncrementalEmbedSpec at fixture scale; this row exists to track
    * the SERVE cost at the scale where it separates from the
    * recompute. */
  def x36sEmbStressServe(s: SparkSession, d: String): DataFrame =
    Similarity.incrementalLshCandidates(embStressArtifact(s, d),
        embStressIncrement(s, d), "vec_id", "embedding",
        dim = 64, nPlanes = 12)
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("idb")), lit(0L)).as("idb_sum"))

  /** The probed-bucket artifact BUILD at stress scale, un-memoized —
    * the snapshot job's cost, visible in bench history like
    * x33b/x35f (sums over the bucket codes so column pruning can't
    * skip the hyperplane math). */
  def x36sfEmbStressBuild(s: SparkSession, d: String): DataFrame =
    Similarity.probedBuckets(embStressCorpus(s, d), "vec_id", "embedding",
        dim = 64, nPlanes = 12)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("_bucket")), lit(0L)).as("bucket_sum"))

  /** The corpus fingerprint-set BUILD (x34b's second durable artifact)
    * as a first-class bench row — one md5 map pass + distinct over the
    * corpus, un-memoized (x34b serves from the memo/table). */
  def x34fFpBuild(s: SparkSession, d: String): DataFrame =
    curationCorpusFp(Tables.wide(Tables.documents(s, d))
        .select(col("doc_id"), col("text")))
      .agg(count(lit(1)).as("n_fps"))

  /** The PRODUCTION ANN path, benched as itself: multi-table LSH with
    * the native codegen'd cosine rerank (no per-dimension explode, no
    * decimal relational layout — the shape that runs at 100 TB). x5b
    * holds these candidates to x5's exact oracle through the decimal
    * rerank; this twin exists so the driver's bench times the fused
    * float loop, not the oracle-parity form. Same fixture contract as
    * x5/x5b (8 query vectors, top-10); NativeTwinSpec pins its answer
    * set to x5b's and its cosines to the decimal path within 2e-6
    * (DECIMAL(9,6) quantization bound), which is why it is benchOnly —
    * the float-vs-quantized cosine differs in the 6th decimal, so no
    * bit-identical SQL oracle can exist. */
  def x5nAnnLshNative(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    Similarity.lshTopKMulti(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", dim = 64, k = 10, nPlanes = 4, nTables = 16,
        multiProbe = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** The production embedding near-dup path benched as itself:
    * hyperplane-LSH bucketing + native cosine rerank at the 0.99
    * threshold over x6's originals ∪ perturbed-copies corpus — x6b
    * proves this candidate generator exact via the decimal rerank;
    * this twin times the fused float scoring (benchOnly for the same
    * 6th-decimal reason as x5n; NativeTwinSpec pins the pair set). */
  def x6nNearDupNative(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    val all = base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .union(copies)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    Similarity.lshNearDupPairs(all, "vec_id", "embedding",
        dim = 64, threshold = 0.99, nPlanes = 12, multiProbe = true)
      .select(col("ida"), col("idb"), round(col("cos"), 6).as("cos"))
      .orderBy("ida", "idb")
  }

  /** Deterministic sampling: a 10% hash-mod cut of the corpus, then a
    * per-language stratified cap of 20 docs — both keyed on the row
    * (engine-portable arithmetic hash), so the oracle picks the exact
    * same rows. rand()/df.sample() could never hash-match. */
  def x9HashSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val cut = operators.Sampling.hashSample(docs, "doc_id", 10, Seq(0))
    operators.Sampling.stratifiedTopK(cut, "lang", "doc_id", 20)
      .select(col("doc_id"), col("lang"), col("strat_rank"))
      .orderBy("doc_id")
  }

  /** X23 — quality-weighted Bernoulli sampling with Horvitz-Thompson
    * reweighting: each document keeps with probability ∝ a length-based
    * quality weight (milli-units, clamped [1,999]), decided by the same
    * engine-portable minstd hash as x9 so the cut is reproducible on
    * any engine and any partitioning; kept rows carry the exact-integer
    * inverse-probability weight for unbiased token accounting. The
    * weighted-mixture cousin of x9's uniform split — map-only. */
  def x23WeightedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    operators.Sampling
      .weightedBernoulli(docs, "doc_id", expr("n_chars DIV 3"))
      .select(col("doc_id"), col("lang"), col("w_milli"),
        col("inv_w_micro"))
      .orderBy("doc_id")
  }

  /** X24 — PageRank as a corpus quality signal: the classic
    * link-authority score web-scale training pipelines attach to every
    * crawled page (a Common-Crawl-style quality feature). Graph:
    * deterministic 3-out-regular links over the doc-id universe
    * (dst = (a·id + b) mod N for three (a,b) pairs). Rank arithmetic
    * is ALL integer at 1e15 scale — damping 85/100 and the per-edge
    * share p/3 via integer division — so four unrolled power
    * iterations are bit-identical in any engine; no doubles, no
    * convergence nondeterminism.
    *
    * Scale shape: each iteration is one shuffled equi-join
    * (edges ⋈ ranks on src) + one hash aggregate on dst + a left join
    * back to the node set — PageRank's canonical distributed cost. At
    * real scale the edge list is persisted pre-partitioned by src and
    * ranks checkpoint every few rounds (lineage bound, as
    * Dedup.connectedComponents does); with a fixed 4 rounds the plan
    * chain is linear and needs neither. Corpus stats (N) are a 1-row
    * broadcast. */
  def x24Pagerank(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val stats = docs.agg(count(lit(1)).as("n"))
    val nodes = docs.crossJoin(broadcast(stats))
    val edges = Seq((2L, 1L), (3L, 7L), (5L, 13L)).map { case (a, b) =>
      nodes.select(col("doc_id").as("src"),
        pmod(col("doc_id") * a + b, col("n")).as("dst"))
    }.reduce(_ unionByName _)
    var ranks = nodes.select(col("doc_id"),
      expr("1000000000000000 DIV n").as("p"))
    for (_ <- 1 to 4) {
      val contrib = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy("dst").agg(sum(expr("p DIV 3")).as("c"))
      ranks = nodes
        .join(contrib, nodes("doc_id") === contrib("dst"), "left")
        .select(nodes("doc_id"),
          (expr("150000000000000 DIV n") +
            expr("(85 * coalesce(c, 0)) DIV 100")).as("p"))
    }
    val indeg = edges.groupBy("dst").agg(count(lit(1)).as("in_deg"))
    ranks.join(indeg, ranks("doc_id") === indeg("dst"), "left")
      .select(ranks("doc_id"), col("p").as("rank_scaled"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("rank_scaled").desc, col("doc_id"))
      .limit(20)
  }

  /** X31 — BPE vocabulary learning: the LLM-tokenizer training loop
    * (byte-pair encoding, Sennrich et al. 2016) run distributed. Eight
    * merge rounds: count adjacent symbol pairs weighted by word
    * frequency, adopt the most frequent pair (ties → lexicographically
    * smallest pair string), apply it to every word, repeat. Output is
    * the learned merge table — the artifact a tokenizer ships.
    *
    * Scale shape (the classic BPE reduction): ONE linear pass builds
    * the distinct-word histogram, then every round operates on the
    * VOCAB-sized working set (distinct words ≈ 1e6-1e8 at web scale,
    * not corpus-sized), weighting pair counts by the histogram. Per
    * round: a map-only native pair explode
    * ([[org.apache.spark.sql.graft.WordShingleMulti]]) + hash
    * aggregate + TakeOrdered(1) (map-side partial top-1, no global
    * sort), then a map-only native merge
    * ([[org.apache.spark.sql.graft.BpeMerge]] — left-to-right
    * non-overlapping, the left==right run semantics regex replace
    * cannot express). The argmax per round is an inherent driver-side
    * action (the merge RULE is global state, like x25's candidate
    * set); the histogram is persisted so the corpus is scanned once
    * and each round's lineage replays only cheap vocab-sized maps.
    * Restricting to lowercase-alpha tokens keeps charset semantics
    * engine-portable (no surrogate-pair split divergence).
    *
    * The DuckDB oracle restates each round independently: pair counts
    * via zipped list slices, the merge via a `list_reduce` fold whose
    * token-boundary append rule is exactly BpeMerge's semantics. */
  def x31BpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeMergeTable(s, d).toDF("round", "left_sym", "right_sym", "merged",
      "pair_count").orderBy("round")
  }

  /** The learned merge table, session-memoized per corpus dir — a
    * tokenizer is trained ONCE per corpus snapshot and then applied
    * everywhere (x31 presents it, x31b tokenizes with it); the
    * learning loop is driver-side iterative actions, exactly the
    * shared-subtree class the nearDupClusterMap memo exists for. The
    * value is a tiny driver-side Seq (8 rows), so nothing is released
    * beyond dropping stopped sessions' keys. */
  private val bpeMemo =
    new SessionMemo[Seq[(Int, String, String, String, Long)]]()
  private[graft] def bpeMergeTable(
      s: SparkSession, d: String): Seq[(Int, String, String, String, Long)] =
    bpeMemo(s, d)(buildBpeMerges(s, d))

  /** The unmemoized learning loop (BpeSpec exercises this directly to
    * assert rerun determinism without the memo shortcut). */
  private[graft] def buildBpeMerges(
      s: SparkSession, d: String): Seq[(Int, String, String, String, Long)] = {
    import org.apache.spark.sql.graft.{BpeMerge, ColumnShim, WordShingleMulti}
    def pairsOf(c: Column): Column =
      ColumnShim.column(WordShingleMulti(ColumnShim.expression(c), 2))
    def mergeStep(sym: Column, l: String, r: String): Column =
      ColumnShim.column(BpeMerge(ColumnShim.expression(sym),
        ColumnShim.expression(lit(l)), ColumnShim.expression(lit(r))))
    val words = Tables.wide(Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("w"))
      // \A..\z, not ^..$: Java's $ matches BEFORE a trailing newline,
      // DuckDB's RE2 does not — anchor hard so both engines agree even
      // if a future corpus generation embeds newlines in text
      .filter(col("w").rlike("\\A[a-z]+\\z"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("sym"))
      .persist()
    try {
      var syms = words
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= 8 && !exhausted) {
        val top = syms
          .select(col("cnt"), explode(pairsOf(col("sym"))).as("pair"))
          .groupBy("pair").agg(sum(col("cnt")).as("pc"))
          .orderBy(col("pc").desc, col("pair").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          val sep = pair.indexOf(' ')
          val (l, r) = (pair.substring(0, sep), pair.substring(sep + 1))
          merges += ((round, l, r, l + r, top(0).getLong(1)))
          syms = syms.withColumn("sym", mergeStep(col("sym"), l, r))
          round += 1
        }
      }
      merges.result()
    } finally words.unpersist()
  }

  /** X31b — BPE ENCODING with the learned merge table: the apply side
    * of x31 (a tokenizer is trained once, then tokenizes every
    * corpus). Token accounting per document — alpha-token count,
    * char mass, post-merge BPE token count, and exact integer
    * chars-per-token ppm (the compression ratio a tokenizer ships).
    *
    * Scale shape: the 8 learned merges fold into ONE nested native
    * projection ([[org.apache.spark.sql.graft.BpeMerge]] ×8) applied
    * to the DISTINCT-WORD table (vocab-sized), which then broadcast
    * joins the corpus's exploded words — the corpus-linear work is
    * one explode + one broadcast lookup + one hash agg; no per-doc
    * merge application (words repeat; the vocab is where the merge
    * cost belongs — same reduction as x31's learning side). */
  def x31bBpeEncode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.{BpeMerge, ColumnShim}
    def mergeStep(sym: Column, l: String, r: String): Column =
      ColumnShim.column(BpeMerge(ColumnShim.expression(sym),
        ColumnShim.expression(lit(l)), ColumnShim.expression(lit(r))))
    val merges = bpeMergeTable(s, d).map { case (_, l, r, _, _) => (l, r) }
    // the oracle builds its vocab through all 8 merge CTEs
    // unconditionally; a corpus too degenerate to learn 8 merges must
    // fail loudly here, not silently diverge from the oracle
    require(merges.size == 8,
      s"x31b: learned ${merges.size} BPE merges but the oracle assumes 8 " +
        "— corpus has too few distinct adjacent pairs")
    val docs = Tables.wide(Tables.documents(s, d))
    val docWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      // \A..\z: see buildBpeMerges — engine-agreement anchor
      .filter(col("w").rlike("\\A[a-z]+\\z"))
    val init = rtrim(regexp_replace(col("w"), "(.)", "$1 "))
    val encoded = merges.foldLeft(init) { case (c, (l, r)) => mergeStep(c, l, r) }
    val vocab = docWords.select(col("w")).distinct()
      .select(col("w"), length(col("w")).cast("long").as("w_chars"),
        size(split(encoded, " ")).cast("long").as("w_tok"))
    docWords.join(broadcast(vocab), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_chars")).as("n_chars"),
        sum(col("w_tok")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        expr("n_chars * 1000000 DIV n_bpe_tokens").as("chars_per_token_ppm"))
      .orderBy("doc_id")
  }

  /** The full corpus-curation pipeline in one composed query — the
    * end-to-end shape this engine exists for: detect language and
    * filter to English → quality-score floor → exact dedup (keep the
    * smallest id per normalized fingerprint) → near-dup removal (drop
    * any doc with an exact-Jaccard ≥ 0.8 neighbor of smaller id among
    * the survivors; pair properties are per-pair, so the global pair
    * set restricted to survivors equals pairs computed on survivors) →
    * deterministic 80/20 hash split. Every stage is one of the
    * operators proven individually; the oracle restates the chain. */
  def x10CorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
    // generator barrier around the scoring projection: the filter
    // below consumes lang_detected/quality, and without the barrier
    // predicate pushdown inlines BOTH expensive expressions into a
    // per-row Filter under the Project (each evaluated twice per row,
    // in every consumer of this subtree — the x28/x26 trap)
    val scored = docs.select(col("doc_id"), col("text"),
        explode(array(struct(
          TextAnalysis.langIdNative(col("text")).as("lang_detected"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp")))).as("sc"))
      .select(col("doc_id"), col("text"), col("sc.lang_detected").as("lang_detected"),
        col("sc.quality").as("quality"), col("sc.fp").as("fp"))
    val filt = scored.filter(col("lang_detected") === "en" &&
      col("quality") >= 0.3)
    // keep-min-per-fingerprint as a rank-1 window, NOT an agg +
    // self-join: same kept rows, but ONE scoring subtree instead of
    // two (the join shape re-evaluated langId/quality/fingerprint on
    // both sides), WindowGroupLimit bounds it map-side, and the fp
    // exchange canonicalizes identically under both downstream
    // consumers (pair generation + anti-join probe) so it is
    // exchange-reuse eligible — with the scoring barrier above,
    // measured 4.4-5.0 → 3.5-3.9 s at sf0.1 (the remainder is the
    // shingle pair generation, the pipeline's honest dominant stage)
    val wFp = Window.partitionBy("fp").orderBy("doc_id")
    val exactDeduped = filt
      .withColumn("_rn", row_number().over(wFp))
      .filter(col("_rn") === 1)
      .drop("_rn")
    val dupPairs = Dedup.ngramJaccardPairs(exactDeduped, "doc_id", "text",
        n = 3, threshold = 0.8)
      .select(col("idb").as("doc_id"))
    val nearDeduped = exactDeduped.join(dupPairs, Seq("doc_id"), "left_anti")
    nearDeduped.select(col("doc_id"), col("quality"),
        when(pmod(operators.Sampling.minstdHash(col("doc_id")), lit(10)) < 8,
          lit("train")).otherwise(lit("eval")).as("split"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- text analysis

  def t1TextStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Tables.wide(Tables.documents(s, d)).select(
        col("doc_id"),
        length(t).cast("bigint").as("n_chars_measured"),
        TextAnalysis.wordCount(t).as("n_words"),
        TextAnalysis.tokenCountBpeIsh(t).as("n_tokens"),
        TextAnalysis.qualityScore(t).as("quality"))
      .orderBy("doc_id")
  }

  def t2LangId(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    // native one-pass profile counting (LangProfileId /
    // MultiPatternHitCount); the relational length-replace forms stay
    // in TextAnalysis as the spec-diffed reference. en_score keeps the
    // oracle's DOUBLE type — the native BIGINT count is the same value
    // integer-exactly.
    Tables.wide(Tables.documents(s, d)).select(
        col("doc_id"),
        TextAnalysis.langIdNative(t).as("lang_detected"),
        TextAnalysis.langIdCharNgramNative(t).as("lang_detected_ngram"),
        TextAnalysis.langScoreNative(t, "en").cast("double").as("en_score"),
        col("lang").as("lang_declared"))
      .orderBy("doc_id")
  }

  def t3Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.wide(Tables.documents(s, d)).select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id")

  /** JSON metadata extraction from the events props column — schemaful
    * (from_json struct) and path-based (get_json_object) access, then a
    * grouped rollup. The JSON parse is codegen'd and map-only. */
  def t4JsonProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        from_json(col("props"), lit("k BIGINT")).getField("k").as("k2"))
      .filter(col("k") === col("k2")) // both access paths agree
      .groupBy((col("k") % 10).as("k_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_bucket", "event_type")

  /** PII scrubbing under a hash oracle: deterministic synthetic PII
    * (an email on every doc_id%3==0, a phone on %3==1) appended to the
    * corpus, redacted by the RE2-simple pattern bank, with per-doc
    * match counts and the scrubbed text's md5 — map-only, the
    * pre-training privacy pass. */
  def t6PiiScrub(s: SparkSession, d: String): DataFrame = {
    val withPii = Tables.wide(Tables.documents(s, d)).select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")).as("text"))
    withPii.select(
        col("doc_id"),
        TextAnalysis.countPattern(col("text"), TextAnalysis.EmailPattern)
          .as("n_emails"),
        TextAnalysis.countPattern(col("text"), TextAnalysis.PhonePattern)
          .as("n_phones"),
        md5(TextAnalysis.scrubPii(col("text"))).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** Fixed-window document chunking with overlap (32-word windows,
    * 24-word stride) — the context-window packing/RAG-chunking shape:
    * one explode per doc, chunk count scales with words not documents,
    * chunk identity pinned by md5 so the oracle proves exact window
    * boundaries and overlap. */
  def t7Chunking(s: SparkSession, d: String): DataFrame = {
    val chunkW = 32
    val stride = 24
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nChunks =
      (floor(greatest(size(col("ws")) - 1, lit(0)).cast("double") / stride)
        .cast("int") + 1)
    docs
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("ws"), col("chunk_id") * stride + 1, lit(chunkW)).as("ch"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ch")).cast("bigint").as("n_words"),
        md5(array_join(col("ch"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Boilerplate n-gram report: word-3-grams appearing in ≥5 distinct
    * documents (the CCNet/RefinedWeb repeated-boilerplate detection
    * step). Per-doc-distinct grams aggregate to document frequency in
    * one shuffle. At 100 TB the df count runs on the native shingle
    * HASHES with the string form joined back only for qualifying grams
    * — here the string gram IS the report, so the string path is the
    * honest fixture-scale form. */
  def x12BoilerplateNgrams(s: SparkSession, d: String): DataFrame =
    Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(TextAnalysis.wordShinglesNative(col("text"), 3)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= 5)
      .orderBy("gram")

  /** Benchmark decontamination (the GPT-3/PaLM 13-gram rule): flag any
    * corpus document sharing a 13-gram with the benchmark set
    * (doc_id%97==0 plus synthesized verbatim quotes of it, so the
    * signal is non-trivially exercised). Benchmark grams broadcast —
    * eval sets are tiny next to the corpus — and grams travel as
    * native 64-bit shingle hashes, never strings. */
  def x13Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val quoted = bench.select((col("doc_id") + 1000000).as("doc_id"),
      concat(lit("quoth "), col("text")).as("text"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0).union(quoted)
    Decontaminate.overlapCounts(corpus, bench).orderBy("doc_id")
  }

  /** x13's exact result through the Bloom-prefilter scale path
    * ([[Decontaminate.overlapCountsBloom]]): benchmark grams shipped
    * as an O(bits) sketch, corpus grams dropped map-side, survivors
    * exact-verified by a (non-broadcast) join — so the same oracle
    * holds bit-for-bit while the shuffled volume is O(matches), the
    * posture that survives a benchmark set too large to broadcast. */
  def x13bDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val quoted = bench.select((col("doc_id") + 1000000).as("doc_id"),
      concat(lit("quoth "), col("text")).as("text"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0).union(quoted)
    Decontaminate.overlapCountsBloom(corpus, bench,
        expectedGrams = 1L << 16, fpp = 0.01)
      .orderBy("doc_id")
  }

  /** Gopher-style per-document quality signals: mean word length
    * (closed-form from text length — single-space corpus, no explode),
    * long-word fraction, and 2-/3-gram repetition ratios
    * (1 − distinct/total, the repeated-text detector). The n-gram
    * distinct counts ride the native shingle hasher (map-only); only
    * the word-length histogram pays an explode, aggregated in the same
    * shuffle. Every ratio is a single rounded division so any engine
    * reproduces it bit-for-bit. */
  def t8QualitySignals(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
    val n = TextAnalysis.wordCount(col("text"))
    val base = docs.select(col("doc_id"), n.as("n"),
      round((length(col("text")) - n + 1).cast("double") / n.cast("double"), 6)
        .as("mean_word_len"),
      size(TextAnalysis.wordShingleHashesNative(col("text"), 2)).cast("bigint")
        .as("d2"),
      size(TextAnalysis.wordShingleHashesNative(col("text"), 3)).cast("bigint")
        .as("d3"))
    val longWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id")
      .agg(sum(when(length(col("w")) > 7, 1L).otherwise(0L)).as("n_long"))
    base.join(longWords, Seq("doc_id"))
      .select(col("doc_id"), col("mean_word_len"),
        round(col("n_long").cast("double") / col("n").cast("double"), 6)
          .as("frac_long_words"),
        when(col("n") > 1,
          round(lit(1.0) - col("d2").cast("double") /
            (col("n") - 1).cast("double"), 6)).otherwise(lit(0.0))
          .as("rep_2gram"),
        when(col("n") > 2,
          round(lit(1.0) - col("d3").cast("double") /
            (col("n") - 2).cast("double"), 6)).otherwise(lit(0.0))
          .as("rep_3gram"))
      .orderBy("doc_id")
  }

  /** Vocabulary build + document encoding — the tokenize-to-ids step
    * of every pretraining pipeline: global word counts → top-30 vocab
    * (rank by count desc, word asc; everything else is UNK=0) →
    * each document re-encoded as its id sequence, integrity-pinned by
    * an md5 over the ordered ids. Vocab construction is a distributed
    * top-K (sort+limit, tiny result) so the single-partition ranking
    * window only ever sees K rows; the encode join broadcasts the
    * vocab — at 100 TB this is one explode + one broadcast join. */
  def x14VocabEncode(s: SparkSession, d: String): DataFrame = {
    val words = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val top = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(30)
    val vocab = top.withColumn("id",
      row_number().over(Window.orderBy(col("cnt").desc, col("w").asc)))
    words.join(broadcast(vocab.select("w", "id")), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("id"), lit(0)).as("id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_unk"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(struct(col("pos"), col("id")))),
            x => x.getField("id")))).as("ids_md5"))
      .orderBy("doc_id")
  }

  /** Model-based quality scoring — the fasttext-classifier shape every
    * production quality filter takes: hashed bag-of-words features
    * (4096 buckets, portable md5-60 bucketing) × per-bucket weights,
    * mean-pooled into a document score and thresholded into a
    * keep/drop label. Weights here are a deterministic function of the
    * bucket (stand-ins for trained ones) and stay INTEGER MILLIS
    * through the aggregation — exact, order-free partial sums, one
    * double division at the end. Explode + single hash-agg: the same
    * map-side-combine plan a trained scorer would run at 100 TB. */
  def t9QualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    toks.select(col("doc_id"),
        TextAnalysis.weightMilli(
          TextAnalysis.featureBucket(col("w"), 4096)).as("wm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("wm")).as("sum_milli"))
      // mean-pooled score as an EXACT integer at micro precision:
      // floor(sum_milli/(n_tok·1000)·1e6) via integer division on a
      // positive-shifted numerator (|score| ≤ 1, so +10 clears the
      // sign; floor == truncate for positives, so Spark's `div` and
      // DuckDB's `//` agree). A rounded double here is a trap: the
      // exact rational lands ON the 6-dp rounding boundary whenever
      // n_tok is 2-5-smooth, and Spark (decimal HALF_UP) and DuckDB
      // (binary nearbyint) break those ties differently — found at
      // sf0.1, invisible at smaller fixtures.
      .select(col("doc_id"), col("n_tok"),
        expr("(sum_milli * 1000 + n_tok * 10000000) div n_tok - 10000000")
          .as("score_micro"),
        when(col("sum_milli") > 0, 1).otherwise(0).as("label"))
      .orderBy("doc_id")
  }

  /** T11 — BM25 top-k retrieval over the corpus for a fixed term
    * query: the text-retrieval shape (quality-biased selection,
    * hard-negative mining, dedup-aux search) of a training-data
    * pipeline. Okapi BM25 with k1 = 6/5, b = 3/4 and the log-free
    * rational idf (N − df + ½)/(df + ½); with those fractions each
    * per-(doc, term) score collapses to ONE exact integer ratio
    *   44·tf·total·(2N−2df+1) / ((2df+1)·(20·total·tf + 6·total + 18·dl·N))
    * emitted at micro precision via positive integer division in
    * DECIMAL(38,0) — floor == truncate, bit-identical in Spark and
    * DuckDB; no log, no doubles, no rounding ties. The doc score is
    * the exact integer sum of per-term micro scores.
    *
    * Scale shape: tokenize → postings explode (the one big shuffle,
    * keyed doc_id), doc lengths from the same postings, corpus stats
    * as a 1-row broadcast, df computed over the 5 query terms only
    * (tiny, broadcast), score join keyed on doc_id, top-20 through a
    * deterministic sort+limit (TakeOrderedAndProject — per-partition
    * top-k then a 20-row merge, never a global sort). */
  def t11Bm25TopK(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("spark", "join", "window", "stream", "hash")
    val tok = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
    val qtf = tok.filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    val big = (c: Column) => c.cast("decimal(38,0)")
    qtf
      .join(broadcast(docFreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (big(lit(2) * col("n_docs") - lit(2) * col("df") + lit(1)) *
          big(lit(44) * col("tf")) * big(col("total")) * big(lit(1000000L)))
          .as("a"),
        (big(lit(2) * col("df") + lit(1)) *
          (big(lit(20)) * big(col("total")) * big(col("tf")) +
            big(lit(6)) * big(col("total")) +
            big(lit(18)) * big(col("dl")) * big(col("n_docs")))).as("b"))
      .select(col("doc_id"), expr("a DIV b").as("score_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("terms_hit"),
        sum(col("score_micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(20)
  }

  /** X25 — exact heavy hitters via sketch-then-verify: tokens whose
    * corpus share is ≥ 2% (cnt·50 ≥ N), the frequent-items profile a
    * curation pipeline runs to spot boilerplate vocabulary and
    * tokenizer hot spots. Pass 1 is a Misra-Gries(k=64) typed
    * aggregate — map-side bounded state, O(k) merge, no token shuffle —
    * whose key set provably contains every ≥2% term (undercount
    * ≤ N/65 < N/50; see [[graft.functions.MisraGriesAgg]]). Pass 2
    * re-scans and exact-counts ONLY tokens matching the ≤64 broadcast
    * candidates, then applies the threshold — so the result is exact
    * and deterministic even though the sketch's candidate set is
    * order-dependent. At 100 TB the verify shuffle carries hot terms
    * only, never the full vocabulary. */
  def x25HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.wide(Tables.documents(s, d))
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
    val mg = graft.functions.MisraGriesAgg.misraGries(64)
    // candidate rows each carry the exact total, so the verify pass
    // needs exactly one broadcast join (sketch subtree evaluated once)
    val sketch = tok.agg(mg(col("term")).as("st"))
      .select(col("st.total").as("total"), explode(col("st.keys")).as("term"))
    tok.join(broadcast(sketch), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"), max(col("total")).as("total"))
      .filter(col("cnt") * 50 >= col("total"))
      .select(col("term"), col("cnt"),
        expr("cnt * 1000000 div total").as("share_ppm"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** ST6's batch twin — union-of-shards Misra-Gries heavy hitters,
    * driver-visible: terms hash-shard into 4 groups (the SAME
    * xxhash64-seed-42 shard function
    * [[graft.streaming.StreamHeavyHitters.shardOf]] uses — parity
    * asserted term-for-term in StreamHeavyHittersSpec), each shard
    * folds its own MG(64) sketch (exactly the per-shard state the
    * streaming query maintains across micro-batches), the shard
    * candidate sets union, and the exact
    * broadcast recount applies the 2% threshold. A term lives in one
    * shard, so its undercount is ≤ shardTotal/(k+1) ≤ total/65 <
    * total/50 — the union provably contains every true heavy hitter,
    * which is why this query can share x25's oracle VERBATIM: the
    * sharded sketch (streaming state layout) and the single-sketch
    * batch pass must admit the same final set. The 4-row shard sketch
    * merges through one single-row agg (whitelisted SinglePartition:
    * O(shards·k) state) so the sketch subtree evaluates once and
    * candidates carry the exact global total, as x25. */
  /** ST7's batch twin — per-key streaming admission control,
    * driver-visible: the ABSOLUTE-cap prefix-cut budget
    * ([[graft.streaming.StreamBudget]]) applied to the event stream
    * in (event-time, id) order, rolled up per key. The batch window
    * and the streaming `flatMapGroupsWithState` form compute the SAME
    * running total (admitted or not, every arrival counts — the x20
    * arithmetic with a constant cap instead of a mass fraction), so
    * row-level parity is asserted in StreamBudgetSpec including state
    * carried across triggers, and this aggregate twin gives the
    * oracle row. Tokens are exact integer 1e-4 units of `value` —
    * no double sums anywhere near the cap boundary. */
  def st7BudgetTwin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_type").as("key"),
      col("event_id").as("doc_id"),
      (col("value").cast("decimal(18,4)") * 10000).cast("bigint").as("n_tok"),
      col("ts"))
    StreamBudget.batch(ev, 50000000L)
      .groupBy("key")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tok")).otherwise(0L)).as("admitted_tok"),
        max(col("cum_tok")).as("total_tok"))
      .orderBy("key")
  }

  def st6HeavyHittersBatch(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.wide(Tables.documents(s, d))
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
    val mg = graft.functions.MisraGriesAgg.misraGries(64)
    val sharded = tok
      .withColumn("shard", pmod(xxhash64(col("term")), lit(4)))
      .groupBy("shard").agg(mg(col("term")).as("st"))
    val sketch = sharded
      .agg(sum(col("st.total")).as("total"),
        flatten(collect_list(col("st.keys"))).as("keys"))
      .select(col("total"),
        explode(array_distinct(col("keys"))).as("term"))
    tok.join(broadcast(sketch), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"), max(col("total")).as("total"))
      .filter(col("cnt") * 50 >= col("total"))
      .select(col("term"), col("cnt"),
        expr("cnt * 1000000 div total").as("share_ppm"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** T12 — top-3 TF-IDF keywords per document: the keyword-extraction
    * shape (topic tagging, index-term selection, per-doc metadata
    * enrichment) over the corpus. Rational idf = N/df with no log and
    * no doubles: score_micro = ⌊tf·N·10⁶/df⌋ computed in DECIMAL(38,0)
    * — positive integer division, floor == truncate, bit-identical in
    * Spark and DuckDB. Ranking is deterministic (score desc, term asc).
    *
    * Scale shape: one postings shuffle keyed (doc_id, term) for tf, a
    * term-keyed agg for df whose exchange AQE reuses from the tf
    * subtree, N as a 1-row broadcast, and the per-doc top-3 through a
    * rank window that WindowGroupLimit bounds map-side — no global
    * sort, no unbounded partition. */
  def t12TfidfKeywords(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = tok.agg(count_distinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("term").asc)
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"),
        expr("""cast(cast(tf as decimal(38,0)) * cast(n_docs as decimal(38,0))
                * 1000000 div cast(df as decimal(38,0)) as bigint)""")
          .as("score_micro"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("score_micro"))
      .orderBy("doc_id", "rank")
  }

  /** X28 — per-domain crawl budget: the composition a web-curation
    * pipeline actually runs — canonicalize URLs (x26's core, without
    * its presentation sort), then admit at most K=50 canonical URLs
    * per registered domain in deterministic minstd order (reproducible
    * "which pages does this domain get to keep" selection, same
    * admit-order machinery as the x20 token budget).
    *
    * Scale shape: the admit decision is a `rn <= 50` FILTER directly
    * over the rank window, which InferWindowGroupLimit turns into a
    * WindowGroupLimit — each map task keeps at most 50 rows per domain
    * BEFORE the reg_domain exchange, so a crawler-trap mega-domain
    * (half of any real crawl) never funnels its whole URL set through
    * one reducer's sort. Per-domain totals come from a plain groupBy
    * joined back (AQE reuses the canonical-URL exchange for both
    * branches). The admit order being a hash (not crawl order) keeps
    * the kept set stable across recrawls. */
  def x28DomainBudget(s: SparkSession, d: String): DataFrame = {
    val core = x26Core(s, d, barrier = true)
    val w = Window.partitionBy("reg_domain")
      .orderBy(graft.operators.Sampling.minstdHash(col("min_key")),
        col("canonical_url"))
    val admitted = core
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50)
      .groupBy("reg_domain")
      .agg(count(lit(1)).as("n_admitted"),
        sum(col("n_raw")).as("admitted_raw"))
    // `min(min_key) * 0` is a value-neutral reference that keeps
    // min_key ALIVE in this branch's copy of the canonical-URL
    // aggregate: without it column pruning drops the min(k) aggregate
    // here (the window branch keeps it for its sort key), the two
    // subtrees stop canonicalizing equal, ReuseExchange can't fire,
    // and the whole URL-parse+dedup pass runs twice (measured 5.2 s →
    // 2.9 s at sf0.1). Catalyst has no ×0 simplification (null
    // semantics), so the guard survives optimization.
    val totals = core.groupBy("reg_domain")
      .agg((count(lit(1)) + min(col("min_key")) * 0).as("n_urls"),
        sum(col("n_raw")).as("total_raw"))
    totals.join(admitted, Seq("reg_domain"))
      .select(col("reg_domain"), col("n_urls"), col("n_admitted"),
        col("admitted_raw"), col("total_raw"))
      .orderBy("reg_domain")
  }

  /** X29 — leakage-free train/val/test split: the assignment unit is
    * the NEAR-DUP CLUSTER (x11's connected components over the Jaccard
    * ≥ 0.8 pair graph), not the document — a near-duplicate of a
    * training document must never land in eval, or the eval measures
    * memorization. Singleton docs are their own cluster; the split is
    * a deterministic minstd hash of the cluster id (80/10/10), so the
    * partition is reproducible and recomputable from ids alone. The
    * output audits the split per side — doc/cluster counts, how many
    * multi-doc clusters each side holds — and recomputes the leakage
    * proof honestly: max_cluster_span = max over clusters of distinct
    * splits touched, pinned at 1 by the oracle (a doc-keyed split
    * would show 2+).
    *
    * Scale shape: the split consumes the once-materialized
    * [[nearDupClusterMap]] (x11's proven machinery) instead of
    * re-deriving the pair graph per query; the
    * singleton fill is an UNHINTED left join (the component map can be
    * a large fraction of a real crawl — AQE broadcasts only when it
    * fits); split tagging is map-only arithmetic; the audit is one
    * cluster-keyed agg joined back plus a 3-row final agg. */
  def x29LeakageSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val comp = nearDupClusterMap(s, d)
    // deliberately UNHINTED: the component map is every doc in any
    // dup pair — often a large fraction of a real crawl, far past any
    // broadcast budget; AQE broadcasts when the round's stats say it
    // fits and falls back to a shuffle join when they don't
    val assigned = docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val h = pmod(Sampling.minstdHash(col("cluster_id")), lit(10L))
    // ONE explicit cluster_id exchange feeds both the span audit and
    // the per-doc join — the same shared-stage device as
    // [[capHalfPerCluster]]: without it the pair graph + components
    // (the heavy ~3 s subtree) computes once per consumer; with it
    // AQE reuses the materialized stage (measured 5.2 s → 2.6 s warm
    // at sf0.1). The `min(doc_id) * 0` guard keeps doc_id alive in
    // the audit branch so both copies canonicalize equal — x28's
    // device, same reason.
    val tagged = assigned.withColumn("split",
        when(h <= 7, "train").when(h === 8, "val").otherwise(lit("test")))
      .repartition(col("cluster_id"))
    val spans = tagged.groupBy("cluster_id")
      .agg((count_distinct(col("split")) + min(col("doc_id")) * 0)
        .as("n_splits"),
        count(lit(1)).as("cluster_size"))
    tagged.join(spans, Seq("cluster_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters"),
        count_distinct(when(col("cluster_size") >= 2, col("cluster_id")))
          .as("n_dup_clusters"),
        max(col("n_splits")).as("max_cluster_span"))
      .orderBy("split")
  }

  /** T13 — token-rarity quality signal: each document's mean corpus
    * frequency share across its tokens (a unigram-LM surprisal proxy
    * with NO logs — rarer vocabulary ⇒ lower mean share) plus its
    * count of rare tokens (share < 0.5%). All integer: per-token
    * share_ppm = ⌊cnt·10⁶/total⌋, per-doc mean = ⌊Σshare/n_tok⌋ —
    * positive integer division everywhere, engine-portable, no
    * rounding ties. Scale shape: one term-keyed shuffle builds the
    * vocabulary counts, tokens re-join on term. The vocab join is
    * deliberately UNHINTED: a natural-language vocabulary is tiny and
    * AQE broadcasts it, but the adversarial crawl case (unique-token
    * spam — random strings, hashes, base64 blobs) makes the
    * vocabulary O(corpus) and AQE falls back to a shuffle join on the
    * same term key the vocabulary aggregation already used — correct
    * at any vocabulary size, never an OOM (the x29 honesty pattern;
    * T13DegenerateSpec exercises the every-token-unique corpus).
    * Terms are capped at 64 chars IN BOTH ENGINES (tokenization
    * semantics, not a hint): an unbounded "token" — a megabyte blob
    * with no delimiter, the other spam axis — would otherwise become
    * the shuffle row. Total is a 1-row broadcast; there is
    * deliberately NO corpus-wide rank window (that would be one task
    * sorting the vocabulary) — share-of-total gives the same ordering
    * signal shuffle-free. */
  def t13TokenRarity(s: SparkSession, d: String): DataFrame =
    t13TokenRarityOn(Tables.wide(Tables.documents(s, d)))

  /** t13's body over an arbitrary (doc_id, text) corpus — shared with
    * the degenerate-corpus spec. */
  private[graft] def t13TokenRarityOn(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "" && length(col("term")) <= 64)
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    val stats = tok.agg(count(lit(1)).as("total"))
    tok.join(vocab, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("cnt * 1000000 div total").as("share_ppm"),
        when(col("cnt") * 200 < col("total"), 1L).otherwise(0L).as("is_rare"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        expr("sum(share_ppm) div count(1)").as("mean_share_ppm"),
        sum(col("is_rare")).as("n_rare"))
      .orderBy("doc_id")
  }

  /** T14 — bigram LM quality score, the CCNet-style language-model
    * filter with no log table: score every document by how PREDICTABLE
    * its word bigrams are under the corpus's own bigram model.
    * p(w2|w1) is approximated per bigram as c(w1,w2)/c(w1·) over
    * observed bigram starts, carried as an exact integer ppm (the
    * t13 no-log surprisal trick — ratios as `x·10⁶ div y`, never a
    * double until nothing is left to divide), plus the count of
    * corpus-novel bigrams (c=1 — hapax transitions, the gibberish
    * signal). Scale shape: tokenize map-side; the re-index and `lead`
    * windows are doc-keyed (per-task state bounded by one document —
    * uniform key by construction); the bigram/context vocabularies are
    * plain hash aggregates; the per-doc rollup is one more. Docs with
    * fewer than two kept tokens have no bigrams and are absent from
    * the output in both engines. */
  def t14BigramLm(s: SparkSession, d: String): DataFrame =
    t14BigramLmOn(Tables.wide(Tables.documents(s, d)))

  /** t14's body over an arbitrary (doc_id, text) corpus — shared with
    * the degenerate-corpus spec. */
  private[graft] def t14BigramLmOn(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("i", "term")))
      .filter(col("term") =!= "" && length(col("term")) <= 64)
    // consecutive KEPT tokens: re-index after the empty/length filter
    // so a dropped token doesn't break a bigram in one engine only
    val wSeq = Window.partitionBy("doc_id").orderBy("i")
    val big = tok
      .withColumn("nxt", lead(col("term"), 1).over(wSeq))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("term").as("w1"), col("nxt").as("w2"))
    val uni = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    big.join(bi, Seq("w1", "w2")).join(uni, Seq("w1"))
      .select(col("doc_id"),
        expr("c12 * 1000000 div c1").as("cond_ppm"),
        when(col("c12") === 1, 1L).otherwise(0L).as("is_novel"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(cond_ppm) div count(1)").as("mean_cond_ppm"),
        sum(col("is_novel")).as("n_novel"))
      .orderBy("doc_id")
  }

  /** X27 — containment (asymmetric) near-dup pairs: snippet docs (the
    * first ⌈0.4·nwords⌉ words of every 20th document, the quote /
    * boilerplate-wrapper shape) are planted in the corpus; the operator
    * must find each snippet ≥90%-contained in its source even though
    * their symmetric Jaccard is far below any dedup threshold. All
    * thresholds and scores are exact integers; ⌈0.4n⌉ is the integer
    * form (2n+4) div 5 so no engine ever touches 0.4 as a double. */
  def x27ContainmentPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 2 + 4) div 5 as int)")
    val snippets = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    Dedup.containmentPairs(docs.unionByName(snippets), "doc_id", "text",
        n = 3, thresholdPct = 90)
      .orderBy("id_sub", "id_super")
  }

  /** X27b — capped containment, the production form of x27 (see
    * [[x2bNgramJaccardCapped]] for why the Σdf² pair stage must be
    * capped on duplication-heavy corpora, and why the cap is
    * density-adaptive, not a constant). Containment is MORE
    * cap-sensitive than Jaccard: the denominator is the SUB side's
    * full set size while the intersection drops df>cap shingles, so a
    * snippet whose source spawned many copies loses containment
    * evidence — hence the larger multiplier (4× average df; at sf0.01
    * that computes to 6, keeping the planted-snippet recall the fixed
    * cap=5 had, while 2× would halve it). */
  def x27bContainmentCapped(s: SparkSession, d: String): DataFrame =
    x27CappedCore(s, d, Dedup.DfCap.AdaptiveAvg(4))

  /** x27b's adaptive capped containment listing through the
    * BOUNDED-STATE collector — the containment twin of
    * [[x2cJaccardBoundedState]]: cap+1 longs of state per key, density
    * cap from a count-only first pass, row set identical to x27b by
    * construction (same integer cap rule — CappedCollectSpec pins the
    * containment path too), oracle = x27b's SQL verbatim.
    *
    * MEASURED VERDICT (PERF.md «sign flips», 125×m): under
    * containment's generous 4× cap the collector is 4.3× SLOWER than
    * the list filter — the over-cap mass it avoids building shrinks
    * while the typed-aggregator tax on kept postings doubles — the
    * opposite sign from x2c's tight-2×-cap win. x27b stays the
    * shipped default at every measured scale; this shape exists as
    * the worst-case MEMORY bound (a df-10⁸ boilerplate shingle costs
    * cap+1 longs of aggregation state instead of a GB-scale list). */
  def x27cContainmentBoundedState(s: SparkSession, d: String): DataFrame =
    x27CappedCore(s, d, Dedup.DfCap.AdaptiveBounded(4))

  /** x27's snippet-augmented corpus (docs ∪ 40%-prefix snippets of
    * every 20th doc). */
  private def x27Corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 2 + 4) div 5 as int)")
    val snippets = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    docs.unionByName(snippets)
  }

  private def x27CappedCore(s: SparkSession, d: String,
      cap: Dedup.DfCap): DataFrame =
    Dedup.containmentPairs(x27Corpus(s, d), "doc_id", "text",
        n = 3, thresholdPct = 90, dfCap = cap)
      .orderBy("id_sub", "id_super")

  /** X26 — URL canonicalization + URL-level dedup: the first pass of a
    * web-crawl curation pipeline. Messy URL variants (scheme/host case,
    * explicit default ports, shuffled query-param order, utm_* tracking
    * params, fragments, trailing slashes) are synthesized
    * deterministically from order keys, then collapsed through
    * [[graft.functions.UrlFunctions.canonicalUrl]] — so the oracle can
    * state the expected canonical form directly from the same key
    * arithmetic (clean-room ground truth) and a hash match proves the
    * parser actually recovers it from the messy string. Map-only until
    * the final group-by-canonical (the dedup shuffle itself). */
  def x26UrlCanonical(s: SparkSession, d: String): DataFrame =
    x26Core(s, d, barrier = false).orderBy("canonical_url")

  /** The pre-sort core of x26 — shared with x28 so downstream
    * compositions don't inherit the standalone query's global ORDER BY
    * (whose range-partition sampling would re-execute the URL-parse
    * subtree; see the sort-placement trap in CLAUDE.md). `barrier`
    * wraps the parse in a Generate so downstream JOIN-inferred
    * IsNotNull filters can't push below the projection and inline the
    * whole regex parse into a per-row Filter — needed by x28 (which
    * joins on reg_domain), skipped by the join-free standalone x26
    * (the explode costs ~0.5 s at sf0.1 and buys it nothing). */
  private def x26Core(s: SparkSession, d: String,
      barrier: Boolean): DataFrame = {
    import graft.functions.UrlFunctions._
    val k = col("o_orderkey")
    val scheme = element_at(
      array(lit("http"), lit("HTTP"), lit("https"), lit("HTTPS")),
      (k % 4 + 1).cast("int"))
    val hostBase = concat(lit("www.example"), (k % 7).cast("string"), lit(".com"))
    val host = when(k % 3 === 0, hostBase)
      .when(k % 3 === 1, upper(hostBase))
      .otherwise(concat(lit("Www.Example"), (k % 7).cast("string"), lit(".Com")))
    val port = when(k % 5 === 0,
        when(k % 4 >= 2, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit(""))
    val path = concat(lit("/catalog/item-"), (k % 13).cast("string"),
      when(k % 3 === 0, lit("/")).otherwise(lit("")))
    val idp = concat(lit("id="), (k % 11).cast("string"))
    val params = when(k % 2 === 0,
        concat(lit("utm_source=news&"), idp, lit("&ref=mail")))
      .otherwise(concat(lit("ref=mail&"), idp,
        when(k % 3 === 1, lit("&utm_campaign=x")).otherwise(lit(""))))
    val frag = when(k % 7 === 0, concat(lit("#sec"), (k % 3).cast("string")))
      .otherwise(lit(""))
    val messy = concat(scheme, lit("://"), host, port, path, lit("?"), params, frag)
    val raw = Tables.orders(s, d).select(k.as("k"), messy.as("url"))
    // canonicalParts = ONE native byte-level parse per row producing
    // both fields (the relational composition re-scanned the URL with
    // five regexes per consumer; PERF.md round 9 — x26 1.5→sub-second)
    val parsed =
      if (barrier)
        raw.select(col("k"), explode(array(canonicalParts(col("url")))).as("cu"))
          .select(col("k"), col("cu.canonical_url").as("canonical_url"),
            col("cu.reg_domain").as("reg_domain"))
      else
        raw.select(col("k"),
          canonicalParts(col("url")).getField("canonical_url").as("canonical_url"),
          canonicalParts(col("url")).getField("reg_domain").as("reg_domain"))
    parsed
      .groupBy("canonical_url", "reg_domain")
      .agg(count(lit(1)).as("n_raw"), min(col("k")).as("min_key"))
  }

  /** Keep-best-of-cluster — the dedup finale real pipelines run
    * instead of keep-min-id: near-dup clusters (connected components
    * over the Jaccard ≥ 0.8 pair graph, as x11) each elect the member
    * with the highest model quality score (t9's exact integer-milli
    * sum; ties → smallest doc_id). Election is a per-cluster top-1
    * window — WindowGroupLimit keeps it map-bounded, and clusters are
    * small by construction (near-dup cliques), so no partition can
    * blow up. */
  def x17ClusterCanonical(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
    val clusters = nearDupClusterMap(s, d)
    val quality = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        TextAnalysis.weightMilli(
          TextAnalysis.featureBucket(col("w"), 4096)).as("wm"))
      .groupBy("doc_id").agg(sum(col("wm")).as("sum_milli"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("sum_milli").desc, col("doc_id").asc)
    // n_members via a plain groupBy, NOT a count(*) over the same
    // window partition — an unbounded windowed count alongside the
    // row_number would block WindowGroupLimit from pruning the top-1
    val members = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(members, Seq("cluster_id"))
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("sum_milli").as("kept_quality_milli"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Sequence packing manifest — concat-and-chunk at seqLen=256: each
    * document's global token offset (distributed two-pass prefix scan,
    * NOT a single-task global window — see [[Packing.globalOffsets]])
    * and the range of fixed-length training sequences it spans. The
    * oracle states the same running sum as a plain window, which DuckDB
    * can afford at fixture scale; the Spark side must produce identical
    * offsets from the bucketed scan, which is exactly the property
    * worth pinning. */
  def x15SequencePack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), TextAnalysis.wordCount(col("text")).as("n_tok"))
    Packing.packManifest(docs, "n_tok", "doc_id", 256)
      .select(col("doc_id"), col("n_tok"), col("start_off"),
        col("first_seq"), col("last_seq"), col("n_seqs"))
      .orderBy("doc_id")
  }

  /** Mixture up/down-sampling — reweighting a corpus by per-language
    * target ratios (en 0.4×, de 1.0×, es 1.7×, fr 2.0×, zh 2.5×): the
    * integer part replicates, the fractional part keeps a deterministic
    * hash share of documents (minstd mod 1000 — engine-portable,
    * reproducible across runs/cluster sizes, membership joinable).
    * Map-only: a `when` ladder for the weights, one `explode(sequence)`
    * for the copies — no shuffle at all until a consumer asks for one,
    * which is what lets the reweight ride along with the scan at
    * 100 TB. */
  def x16MixtureUpsample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
    val base = when(col("lang") === "en", 0)
      .when(col("lang") === "de", 1).when(col("lang") === "es", 1)
      .when(col("lang") === "fr", 2).when(col("lang") === "zh", 2)
      .otherwise(1)
    val fracThousand = when(col("lang") === "en", 400)
      .when(col("lang") === "es", 700).when(col("lang") === "zh", 500)
      .otherwise(0)
    val h = pmod(Sampling.minstdHash(col("doc_id")), lit(1000L))
    docs.withColumn("repeats",
        (base + when(h < fracThousand, 1).otherwise(0)).cast("bigint"))
      .filter(col("repeats") > 0)
      .select(col("doc_id"), col("lang"), col("repeats"),
        explode(sequence(lit(1L), col("repeats"))).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** Duplicated-passage removal — exact substring dedup at fixed
    * 16-word chunk granularity (the RefinedWeb/CCNet step that strips
    * passages repeated ACROSS documents, which whole-document dedup
    * cannot see). Every chunk md5 is grouped once, the global first
    * occurrence (smallest (doc_id, chunk_id)) survives, later copies
    * drop; per-document counts plus an order-preserving digest of the
    * kept chunk stream come back. Scale shape: one explode, one
    * hash-partitioned groupBy on the chunk hash, one join back on the
    * same hash — no corpus-wide window, no driver state. The first
    * occurrence is min over (doc_id, chunk_id) packed into one long
    * (doc_id << 32 | chunk_id — lexicographic for doc_id < 2^31,
    * chunks-per-doc < 2^32, both honest id-space bounds): min(struct)
    * would force SortAggregate with a full map-side sort of the chunk
    * stream, min(long) stays a HashAggregate with map-side combine.
    * The ordered digest sorts a per-document array of a few chunks
    * (collect_list → array_sort → transform), not the corpus: the
    * interpreted-HOF cost is O(chunks-per-doc) once per group, off the
    * hot path. */
  def x19PassageDedup(s: SparkSession, d: String): DataFrame = {
    val W = 16
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nChunks =
      (floor(greatest(size(col("ws")) - 1, lit(0)).cast("double") / W)
        .cast("int") + 1)
    val chunks = docs
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        md5(array_join(slice(col("ws"), col("chunk_id") * W + 1, lit(W)), " "))
          .as("h"))
      .withColumn("packed",
        shiftleft(col("doc_id"), 32).bitwiseOR(col("chunk_id").cast("long")))
    val first = chunks.groupBy("h").agg(min(col("packed")).as("fmin"))
    chunks.join(first, Seq("h"))
      .withColumn("kept", col("packed") === col("fmin"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_id"), col("h"))))),
            x => x.getField("h")),
          ",")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Per-source token-budget cap — the mixture step that caps every
    * source at 50% of its token mass, admitting documents in
    * deterministic minstd-hash order (a reproducible shuffle: reruns,
    * engines, and cluster sizes all agree, unlike rand()). The running
    * token total is a window partitioned BY SOURCE, so per-task window
    * state is one source's rows, never the corpus (the keyless case
    * needs [[graft.operators.Packing.globalOffsets]] instead); source
    * totals are one agg broadcast back (O(sources) rows). */
  def x20SourceBudget(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        TextAnalysis.wordCount(col("text")).as("n_tok"),
        Sampling.minstdHash(col("doc_id")).as("h"))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = docs.groupBy("source").agg(sum("n_tok").as("total_tokens"))
    docs.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .join(broadcast(totals), Seq("source"))
      .withColumn("kept", col("cum_tok") * 2 <= col("total_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
        max(col("total_tokens")).as("total_tokens"))
      .orderBy("source")
  }

  /** X30 — language-balanced token budget: the multilingual mixture
    * step a training-data pipeline runs right after language ID — cap
    * every DETECTED language at 50% of its token mass, admitting
    * documents in deterministic minstd order. This is x20's proven
    * budget machinery with the mixture key produced by the engine
    * itself (t2's stopword language ID) instead of a source label:
    * langID is map-only, so the composition adds NO shuffle beyond
    * x20's one language-keyed exchange. Language is the canonical
    * HOT-key mixture axis ('en' is half of any web crawl) — the safe
    * case for the running-frame budget window (per-task state is one
    * running sum after the per-language sort; an unbounded frame here
    * would buffer half the crawl — the x22 lesson, pinned by
    * PlanLintSpec for this family). */
  def x30LanguageBudget(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"),
        TextAnalysis.langIdNative(col("text")).as("lang"),
        TextAnalysis.wordCount(col("text")).as("n_tok"),
        Sampling.minstdHash(col("doc_id")).as("h"))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = docs.groupBy("lang").agg(sum("n_tok").as("total_tokens"))
    docs.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .join(broadcast(totals), Seq("lang"))
      .withColumn("kept", col("cum_tok") * 2 <= col("total_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
        max(col("total_tokens")).as("total_tokens"))
      .orderBy("lang")
  }

  /** X30b — x30's budget cap with the running sum computed by
    * [[graft.operators.Packing.keyedOffsets]], the two-pass
    * range-sharded prefix scan, instead of one `partitionBy(lang)`
    * window. Because the admit order is a uniform minstd-hash order,
    * range shards of the hash preserve it exactly — the output is
    * BIT-IDENTICAL to x30 (same oracle SQL), while the hot language's
    * sort splits across `shards` tasks instead of funnelling through
    * one reducer ('en' ≈ half of any real crawl; x22c had to trade
    * the kept set for this bound — here the hash order gives it away
    * free). PERF.md "x30 fraction-cap skew proof" prices both shapes
    * on a 15M-row corpus with one language owning 50%; at local[32]
    * the extra exchange makes this the slower twin, at 1000 executors
    * the per-task bound is what keeps the job out of spill/OOM
    * territory — the x22c trade, minus the semantic price. */
  def x30bLanguageBudgetSharded(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"),
        TextAnalysis.langIdNative(col("text")).as("lang"),
        TextAnalysis.wordCount(col("text")).as("n_tok"),
        Sampling.minstdHash(col("doc_id")).as("h"))
    val totals = docs.groupBy("lang").agg(sum("n_tok").as("total_tokens"))
    Packing.keyedOffsets(docs, "lang", "n_tok", "h", "doc_id",
        outCol = "off", numShards = 8)
      .withColumn("cum_tok", col("off") + col("n_tok"))
      .join(broadcast(totals), Seq("lang"))
      .withColumn("kept", col("cum_tok") * 2 <= col("total_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
        max(col("total_tokens")).as("total_tokens"))
      .orderBy("lang")
  }

  /** Topic balancing (SemDeDup-lite) — assign every embedding to its
    * nearest deterministic centroid (every 20th vector), then cap each
    * topic cluster at 50% membership in reproducible minstd order: the
    * step that keeps one topic from dominating a training mix. Scoring
    * is exact DECIMAL(9,6) arithmetic on the quantized-long native
    * path (broadcast quantized centroids, one fused integer dot per
    * pair — order-independent integer sums, engine-identical,
    * bit-equal to the relational decimal explode it replaced:
    * ScaledVectorSpec); assignment is a top-1 window per vector
    * (WindowGroupLimit-eligible), the cap the shared
    * [[capHalfPerCluster]] stage (running-frame rank + groupBy count
    * joined back — no unbounded window frame). The remaining 100 TB
    * caveat is the oracle CODEBOOK, not the scorer: every-20th-vector
    * centroids grow with the corpus (O(n²/400) pairs — a determinism
    * device); the deployment form holds K fixed with fitted centers —
    * [[x22dTopicFitted]] / Similarity.ivfTopK, spec-tested +
    * stress-measured. This query pins the SEMANTICS all paths must
    * produce. */
  def x22TopicBalance(s: SparkSession, d: String): DataFrame =
    x22TopicBalanceImpl(s, d, decimalRef = false)

  /** Both exact scorers behind one body: the quantized-long path (the
    * shipped query) and the decimal-relational reference it must equal
    * bit-for-bit (ScaledVectorSpec). Only the `scored` stage differs —
    * assignment window and cap stage are shared verbatim. */
  private[graft] def x22TopicBalanceImpl(s: SparkSession, d: String,
      decimalRef: Boolean): DataFrame = {
    val scored =
      if (decimalRef) {
        val e = expandDecimal(Tables.embeddings(s, d))
        val cents = e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("c_id"), col("i"), col("v").as("cv"))
        val dots = e.join(cents, Seq("i"))
          .groupBy(col("vec_id"), col("c_id"))
          .agg(sum(col("v") * col("cv")).as("dot"))
        val norms = e.groupBy("vec_id").agg(sum(col("v") * col("v")).as("n2"))
        val cnorms = norms.select(col("vec_id").as("c_id"), col("n2").as("cn2"))
        dots.join(norms, "vec_id").join(cnorms, "c_id")
          .select(col("vec_id"), col("c_id"),
            round(col("dot").cast("double") /
              (sqrt(col("n2").cast("double")) * sqrt(col("cn2").cast("double"))),
              6).as("cos"))
      } else {
        // same codebook, scored by the broadcast quantized centroids:
        // n·K fused integer loops, no per-dimension shuffle
        val e = quantizedVectors(Tables.embeddings(s, d))
        val cents = e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("c_id"), col("q").as("_cq"),
            col("n2").as("_cn2"))
        e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("c_id"),
            scaledCos(sdot(col("q"), col("_cq")), col("n2"), col("_cn2"))
              .as("cos"))
      }
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("c_id").asc)
    val assigned = scored.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cluster_id"))
    capHalfPerCluster(assigned)
  }

  /** Shared x22-family cap stage — keep the first ⌊n/2⌋ members of
    * every cluster in reproducible minstd order. Scale shape: cluster
    * sizes are NOT bounded by construction (a hot topic is the normal
    * case in a crawl), so the per-cluster count comes from a plain
    * groupBy JOINED BACK (the x17/x28 pattern) rather than an
    * unbounded `count(*)` window frame — that frame forces the
    * reducer to buffer a hot cluster's entire membership before
    * emitting a single row, while `row_number` alone is a running
    * frame that streams straight off the sort. The `min(vec_id) * 0`
    * guard keeps vec_id alive in the count branch so both consumers
    * of `assigned` canonicalize equal and ReuseExchange computes the
    * (expensive) assignment subtree once — same device, same reason
    * as x28's n_urls guard. The residual cost is the hot cluster's
    * sort itself; PERF.md "x22-family cap stage" measures it against
    * the old windowed-count shape with one centroid owning 40% of the
    * assignments. */
  private[graft] def capHalfPerCluster(assigned: DataFrame): DataFrame = {
    // ONE explicit exchange of the raw assignment rows by cluster_id
    // feeds BOTH consumers: the count aggregates straight off the
    // shuffle output (no second shuffle — the partitioning already
    // satisfies the groupBy), and the rank window sorts the same
    // stage's output (AQE reuses the materialized stage, so the
    // expensive assignment subtree — the n·K scoring join + top-1
    // window — runs exactly once). A plain assigned.groupBy would
    // partial-aggregate BELOW its exchange and the two exchanges
    // would stop canonicalizing equal.
    val spread = assigned.repartition(col("cluster_id"))
    val counts = spread.groupBy("cluster_id")
      .agg((count(lit(1)) + min(col("vec_id")) * 0).as("n_members"))
    val wCap = Window.partitionBy("cluster_id")
      .orderBy(Sampling.minstdHash(col("vec_id")), col("vec_id"))
    // counts is O(clusters) rows of two longs — a fixed-K codebook at
    // production scale — so the per-row n_members attach is an
    // explicit broadcast, never a shuffle. The cap condition lives
    // INSIDE the aggregate (conditional sums), not a filter + second
    // join back: every cluster keeps its output row (n_kept = 0 for
    // singletons) without a left join, and the aggregate streams over
    // the window's sorted output with O(1) state per cluster.
    spread.withColumn("pos", row_number().over(wCap))
      .join(broadcast(counts), Seq("cluster_id"))
      .groupBy("cluster_id")
      .agg(max(col("n_members")).as("n_members"),
        sum(when(col("pos") * 2 <= col("n_members"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("pos") * 2 <= col("n_members"), col("vec_id"))
          .otherwise(0L)).as("kept_id_sum"))
      .orderBy("cluster_id")
  }

  /** x22's FLOAT assignment path benched as itself: centroids as
    * whole broadcast arrays, scoring through the native codegen'd
    * float cosine. Since the oracle form moved to the quantized-long
    * path the two share one physical shape (broadcast + fused per-row
    * loop) and differ only in arithmetic — float multiply-add here vs
    * exact integer there. The cap stage is
    * byte-identical to x22 (integer minstd admit order), so once the
    * per-vector argmax agrees the whole output is integer-equal; the
    * argmax from float cosines can flip only when a vector's top two
    * centroids sit within the DECIMAL(9,6) quantization bound (~2e-6),
    * so the twin is benchOnly and NativeTwinSpec asserts output
    * equality against x22 on the fixture corpus rather than betting a
    * driver oracle row on no near-tie ever appearing. (The fixture's
    * every-20th-vector centroids grow with the corpus — an oracle
    * determinism device; a real 100 TB deployment broadcasts a FIXED-K
    * k-means codebook, which is exactly [[Similarity.ivfTopK]]'s
    * trained-assignment machinery.) */
  def x22bTopicBalanceNative(s: SparkSession, d: String): DataFrame =
    capHalfPerCluster(x22NativeAssigned(s, d))

  /** x22b/x22c's shared native assignment: broadcast codebook + fused
    * codegen'd float cosine, top-1 window per vector. */
  private[graft] def x22NativeAssigned(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.wide(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("_cv"))
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        round(Similarity.cosine(col("embedding"), col("_cv")), 6).as("cos"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cluster_id"))
  }

  /** x22's SHARDED cap — the scale escape hatch for the one residual
    * cost capHalfPerCluster accepts: the hot cluster's admit-rank sort
    * runs in ONE task (6M rows in PERF.md's 40%-hot fixture). Here
    * the sort key is a hash, so the cap can shard: members split into
    * `shards` deterministic minstd buckets, each bucket keeps
    * ⌊n_shard/2⌋ in the same minstd order, and the per-task sort is
    * bounded by the largest SHARD, not the largest cluster. The price
    * is semantic: per-shard floors keep between ⌊n/2⌋−shards/2 and
    * ⌊n/2⌋ members (never more), and the kept SET differs from the
    * global-order cap — so this is a benchOnly variant with its
    * contract spec-pinned (NativeTwinSpec), not an oracle row.
    * Measured honestly: at local[32] on the 40%-hot fixture it costs
    * ~20% MORE wall-clock than the global cap (25-30 s vs 19-23 s) —
    * all 32 threads share one machine, so total CPU work dominates
    * and sharding only adds hashing + a second small shuffle. Its
    * value is the per-TASK bound: the largest sort drops from the
    * largest cluster (6M rows here; unbounded in a crawl) to the
    * largest shard (1/8th), which is what keeps a 1000-executor job
    * out of single-task spill/OOM territory. A deployment picks it
    * from a topic profile, not by default. */
  def x22cTopicBalanceSharded(s: SparkSession, d: String): DataFrame =
    capHalfPerClusterSharded(x22NativeAssigned(s, d), shards = 8)

  /** x22's FITTED-codebook form — the SemDeDup shape a production
    * deployment actually runs: a fixed-K k-means codebook trained on a
    * 10% hash sample (the [[Similarity.fitCodebook]] machinery x5c's
    * IVF already stress-measured at 1M vectors), map-only
    * nearest-centroid assignment, then the identical capHalfPerCluster
    * stage. Differs from x22/x22b deliberately: their every-20th-vector
    * codebook GROWS with the corpus (an oracle determinism device) —
    * this one holds K fixed, which is what makes the broadcast-codebook
    * assignment O(n·K) at any corpus size. benchOnly: k-means cluster
    * ids aren't portable to a SQL oracle; FittedTopicSpec pins the
    * contract (exact partition of the corpus, cap arithmetic, seed
    * determinism, and fitted distortion beating an untrained codebook
    * of the same K). */
  def x22dTopicFitted(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.wide(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
    val model = Similarity.memoCodebook(d, emb, "vec_id", "embedding",
      nLists = 16, seed = 42L, trainFraction = 10)
    capHalfPerCluster(
      Similarity.fittedAssignments(emb, "vec_id", "embedding", model))
  }

  private[graft] def capHalfPerClusterSharded(assigned: DataFrame,
      shards: Int): DataFrame = {
    val spread = assigned
      .withColumn("shard",
        pmod(Sampling.minstdHash(col("vec_id")), lit(shards.toLong)))
      .repartition(col("cluster_id"), col("shard"))
    val counts = spread.groupBy("cluster_id", "shard")
      .agg((count(lit(1)) + min(col("vec_id")) * 0).as("n_shard"))
    val wCap = Window.partitionBy("cluster_id", "shard")
      .orderBy(Sampling.minstdHash(col("vec_id")), col("vec_id"))
    spread.withColumn("pos", row_number().over(wCap))
      .join(broadcast(counts), Seq("cluster_id", "shard"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("pos") * 2 <= col("n_shard"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("pos") * 2 <= col("n_shard"), col("vec_id"))
          .otherwise(0L)).as("kept_id_sum"))
      .orderBy("cluster_id")
  }

  /** Record-linkage name matching — Jaro-Winkler scoring (native
    * codegen'd expression, DuckDB-pinned semantics) over the DISTINCT
    * name vocabulary with first-token blocking: the classic
    * dedupe-entities shape — never all-pairs on rows, distinct first
    * (names repeat heavily), then pairs only within a block (equi join
    * on the block key — a shuffle Catalyst plans like any other),
    * transposition-aware scoring on the survivors. Complements t5's
    * levenshtein (edit count) with the similarity measure linkage
    * pipelines actually rank by. */
  def t10NameMatch(s: SparkSession, d: String): DataFrame =
    t10Pairs(Tables.part(s, d).select(col("p_name")))
      .orderBy("name_a", "name_b")

  /** t10's blocked pair generator: sorted-neighborhood within
    * first-token blocks (Hernández-Stolfo): names rank alphabetically
    * per block and each name pairs only with its next w=8 neighbors,
    * generated by exploding the rank range and equi-joining on
    * (blk, rn) — so candidate pairs are ≤ w·n BY
    * CONSTRUCTION, linear in the vocabulary, where the plain
    * single-key block join grows quadratically (TPC-H first tokens are
    * ~90 colors; every corpus 10× grows those blocks 10×). Alphabetic
    * neighbors are exactly the shared-prefix pairs Jaro-Winkler
    * up-weights, which is why this is the standard linkage blocking.
    * The per-block rank window is a sort, not a pairing — O(b log b)
    * against the O(b²) it replaces (PERF.md "t10 blocking"). */
  private def t10Pairs(nameRows: DataFrame, w: Int = 8): DataFrame = {
    val names = nameRows.select(col("p_name")).distinct()
      .withColumn("blk", split(col("p_name"), " ").getItem(0))
    val ranked = names.withColumn("rn",
      row_number().over(Window.partitionBy("blk").orderBy("p_name")))
    // rank order IS alphabetical order, so name_a < name_b holds by
    // construction (rn_b > rn_a)
    val probes = ranked.select(col("blk"), col("p_name").as("name_a"),
      explode(sequence(col("rn") + 1, col("rn") + w)).as("rn"))
    probes.join(
        ranked.select(col("blk"), col("p_name").as("name_b"), col("rn")),
        Seq("blk", "rn"))
      .withColumn("sim",
        round(TextAnalysis.jaroWinkler(col("name_a"), col("name_b")), 6))
      .filter(col("sim") >= 0.5)
      .select(col("name_a"), col("name_b"), col("sim"))
  }

  // ---------------------------------------------------- multimodal

  /** Binary-payload plumbing: byte length, content hash, frame-sample
    * count — the codec-independent part a real image/audio pipeline
    * shares. Real image decode is oracle-checked in [[m1bImageDecode]];
    * audio/video feature extraction stays stubbed (see Multimodal). */
  def m1MultimodalStub(s: SparkSession, d: String): DataFrame = {
    val m = Multimodal.asMedia(Tables.wide(Tables.documents(s, d)), "text", "image/fake")
    m.select(
        col("doc_id"),
        length(col("content")).cast("bigint").as("n_bytes"),
        sha2(col("content"), 256).as("sha256_hex"),
        size(Multimodal.sampleFrames(col("content"), 64, 16)).cast("bigint")
          .as("n_frames"),
        length(Multimodal.resizeStub(256)(col("content"))).cast("bigint")
          .as("n_resized_bytes"))
      .orderBy("doc_id")
  }

  /** M1b — REAL image decode, oracle-checked: one tiny PNG per
    * document is encoded DISTRIBUTED (typed mapPartitions →
    * `javax.imageio`, real PNG streams), landed as a parquet binary
    * column (the m2b corpus layout), read back, and decoded by
    * [[Multimodal.decodeImages]] — `Dataset.mapPartitions` with typed
    * encoders, no `df.rdd` hop. Every decoded property (width, height,
    * red-channel pixel sum) is closed-form in doc_id
    * ([[Multimodal.syntheticPng]]), so the DuckDB oracle restates them
    * with pure arithmetic: a hash match proves the bytes on disk are
    * real decodable PNGs AND the decode read the pixels the encoder
    * wrote. The payload byte length is deliberately NOT an oracle
    * column — PNG stream size is encoder-implementation-defined. */
  def m1bImageDecode(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_png")
    val ids = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id").cast("long"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
    Multimodal.encodePngs(ids).toDF()
      .write.mode("overwrite").parquet(dir)
    Multimodal.decodeImages(s.read.parquet(dir), "doc_id", "content")
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("pix_sum"))
      .orderBy("doc_id")
  }

  /** M3 — per-frame manifest: the frame-sampling access plan a video
    * pipeline materializes BEFORE any decode — one row per (doc,
    * frame) with the byte range (offset/length at stride 64, frame 16)
    * a reader would fetch, the presentation timestamp derived from the
    * metadata byte-rate (asMedia's duration_ms = bytes × 40), and an
    * md5 over the exact frame slice so the oracle proves every
    * emitted range addresses the right bytes. Map-only (narrow sort →
    * explode → per-row slice hash, v1's sort-before-project shape);
    * the decode that would consume these ranges stays behind the
    * documented codec stub. */
  def m3FrameManifest(s: SparkSession, d: String): DataFrame = {
    val nFrames =
      (greatest(floor((length(col("content")) - 16).cast("double") / 64)
        .cast("int"), lit(0)) + 1)
    Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .select(col("doc_id"), col("content"),
        explode(sequence(lit(0), nFrames - 1)).as("frame_idx"))
      .select(col("doc_id"),
        col("frame_idx").cast("bigint").as("frame_idx"),
        (col("frame_idx") * 64).cast("bigint").as("byte_off"),
        lit(16L).as("frame_len"),
        (col("frame_idx") * 64 * 40).cast("bigint").as("pts_ms"),
        md5(expr("substring(content, frame_idx * 64 + 1, 16)"))
          .as("frame_md5"))
  }

  /** M3b — REAL video-frame decode, oracle-checked: the decode m3's
    * manifest was planning for. One GVC1 container per document
    * (magic + frame count + length-prefixed REAL PNG frames,
    * [[Multimodal.syntheticVideo]]) is encoded distributed, landed as
    * a parquet binary column, read back, and demuxed+pixel-decoded by
    * [[Multimodal.decodeVideoFrames]] at stride 2 — even frames get a
    * full PNG decode, odd frames are byte-skipped (the keyframe
    * sampling pattern: skipped frames cost a seek, not a codec pass).
    * Every decoded property is closed-form in (doc_id, frame_idx)
    * (frame f decodes syntheticPng(doc_id·16+f)), so the DuckDB
    * oracle restates width/height/pixel-sum with pure arithmetic — a
    * hash match proves the container bytes demux correctly AND the
    * frame pixels decode to what the encoder wrote. */
  def m3bVideoDecode(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_gvc")
    val ids = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id").cast("long"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
    Multimodal.encodeVideos(ids).toDF()
      .write.mode("overwrite").parquet(dir)
    Multimodal.decodeVideoFrames(s.read.parquet(dir), "doc_id", "content",
        stride = 2)
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("pix_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  /** M4 — REAL audio decode, oracle-checked: the last multimodal
    * modality, same death as m1b's images and m3b's video. One tiny
    * WAV per document (RIFF header + 16-bit mono PCM,
    * [[Multimodal.syntheticWav]]) is encoded DISTRIBUTED through the
    * JDK's `javax.sound.sampled` codec, landed as a parquet binary
    * column, read back, and decoded by [[Multimodal.decodeAudio]] —
    * `Dataset.mapPartitions` with typed encoders, no `df.rdd` hop.
    * Every decoded property (sample count, signed sample sum, rate) is
    * closed-form in doc_id (`s(i) = (id·31+i·7) mod 2001 − 1000` over
    * `40 + id%23` samples), so the DuckDB oracle restates the decode
    * with pure arithmetic: a hash match proves the bytes on disk are
    * real decodable WAV streams AND the decode read the samples the
    * encoder wrote. Payload byte length is deliberately NOT an oracle
    * column (RIFF chunk layout is encoder-implementation-defined). */
  def m4AudioDecode(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_wav")
    val ids = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id").cast("long"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
    Multimodal.encodeWavs(ids).toDF()
      .write.mode("overwrite").parquet(dir)
    Multimodal.decodeAudio(s.read.parquet(dir), "doc_id", "content")
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("sample_sum"),
        col("sample_rate"))
      .orderBy("doc_id")
  }

  /** Real multimodal ingestion boundary: one opaque binary file per
    * document written distributed (mapPartitions-style foreach, no
    * driver collect), read back through Spark's `binaryFile` source —
    * (path, length, content) per file, the way image/audio corpora
    * actually arrive — with identity recovered from the filename and
    * content integrity proven by sha256 against the original rows. */
  def m2BinaryFileIngest(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_binfiles")
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%09d.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      }
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
          .cast("bigint").as("doc_id"),
        col("length").as("n_bytes"),
        sha2(col("content"), 256).as("sha256_hex"))
      .orderBy("doc_id")
  }

  /** The corpus-scale batched layout next to m2's one-file-per-doc
    * demo: payloads stay a parquet binary column, the writer packs
    * many payloads per file with partition count derived from payload
    * bytes (file-metadata sizing — repartitionByPayloadBytes), and the
    * same sha256 integrity oracle proves losslessness. Write
    * amplification is O(files), not O(rows) — the layout a 100 TB
    * media corpus actually uses (m2's per-row files are a filesystem
    * metadata scale-killer; this is the fix, oracle-checked). */
  def m2bBatchedIngest(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_binbatch")
    val media = Multimodal.asMedia(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "text", "text/fake")
      .select(col("doc_id"), col("content"))
    Multimodal.repartitionByPayloadBytes(media, "content",
        targetBytes = 1L << 20)
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .select(col("doc_id"),
        length(col("content")).cast("bigint").as("n_bytes"),
        sha2(col("content"), 256).as("sha256_hex"))
      .orderBy("doc_id")
  }

  /** Skew-resistant join under oracle check: a deliberately Zipf-ish
    * probe (40% of each copy's lineitem rows land on its hot key)
    * joined to a ~15× fan-out build side through the salted (key,
    * salt) join — merge hint keeps the exchange real (broadcast would
    * hide the skew), the salt spreads the hot key over 8 reducers.
    * Result is the plain join's aggregate, so the oracle recomputes it
    * directly; the salted-vs-naive wall-time ratio is in PERF.md
    * "Skew resistance".
    *
    * The key is derived from the WITHIN-COPY id (`id mod 1e8`, the
    * MakeScale replication stride) offset into a per-copy 997-key
    * domain: at the base corpus this is exactly `pmod(id, 997)` with
    * hot key 0, and on an N× replica every copy reproduces the SAME
    * fixture in a disjoint key range — hot-key multiplicity is fixed
    * per copy, so join output grows LINEARLY in N. (The pre-round-10
    * form keyed on the raw id: replica offsets collided mod 997 and
    * the hot key grew N× on BOTH sides — output quadratic in copies, a
    * fixture artifact that swamped the plan being measured.) */
  def j6bSkewSalted(s: SparkSession, d: String): DataFrame = {
    val S = 100000000L // MakeScale id stride per copy
    def copyKey(id: Column, hot: Boolean): Column = {
      val local = pmod(id, lit(S))
      val base =
        if (hot)
          when(pmod(local, lit(10)) < 4, lit(0L))
            .otherwise(pmod(local, lit(997)))
        else pmod(local, lit(997))
      // long `/` is double division in Spark; (id-local) is an exact
      // multiple of S and the copy index is tiny, so floor+cast is
      // exact and the multiply cannot overflow under ANSI
      floor((id - local) / lit(S)).cast("long") * lit(997L) + base
    }
    val probe = Tables.lineitem(s, d).select(
      copyKey(col("l_orderkey"), hot = true).as("k"),
      col("l_quantity").cast("decimal(18,4)").as("qty"))
    val build = Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(copyKey(col("o_orderkey"), hot = false).as("k"),
        col("o_orderkey"))
    operators.Skew.saltedJoin(probe, build.hint("merge"), "k", factor = 8)
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("qty")), 2).cast("double").as("sum_qty"))
      .orderBy("k")
  }

  /** Incremental corpus upsert: the stored snapshot merged with a CDC
    * change batch (revised docs, brand-new docs, tombstones) under
    * latest-revision-wins — one `max_by` hash aggregate, shuffle
    * O(keys), no join, no per-group sort (operators.Upsert). The
    * change batch is derived deterministically from the corpus: every
    * 5th doc gets a rev-2 rewrite, every 20th of those a tombstone,
    * every 7th doc a brand-new twin. */
  def x18IncrementalUpsert(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val base = docs
      .select(col("doc_id"), lit(1).as("rev"), col("text"),
        lit(false).as("deleted"))
    val changes = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit(2).as("rev"),
        concat(lit("rev2 "), col("text")).as("text"),
        (col("doc_id") % 20 === 0).as("deleted"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), lit(1).as("rev"),
          concat(lit("new "), col("text")).as("text"),
          lit(false).as("deleted")))
    operators.Upsert.mergeLatest(base, changes, "doc_id", "rev",
        tombstoneCol = Some("deleted"))
      .select(col("doc_id"), col("rev"), md5(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- streaming

  /** Tumbling-window stats — the transform shared verbatim with the
    * Structured Streaming path (see EventWindows + StreamingSpec). */
  def st1EventWindow(s: SparkSession, d: String): DataFrame =
    EventWindows.tumblingStats(Tables.events(s, d))
      .select(col("window_start").cast("string").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Gap-based sessionization (12h gap) — batch window formulation;
    * the flatMapGroupsWithState streaming path produces the same
    * sessions (EventSessionsSpec). */
  def st2Sessionize(s: SparkSession, d: String): DataFrame =
    EventSessions.sessionizeBatch(Tables.events(s, d), gapMinutes = 720)

  /** Ingest curation (batch form of the streaming pipeline): map-only
    * quality gate → content fingerprint → keep-min-id dedup with dup
    * counts. The streaming twin (same `StreamCurate.scored` stage +
    * `dropDuplicatesWithinWatermark`) is parity-checked in
    * StreamCurateSpec — this row pins the batch semantics the stream
    * must converge to. */
  def st4StreamCurate(s: SparkSession, d: String): DataFrame =
    StreamCurate.batch(Tables.wide(Tables.documents(s, d)),
        "doc_id", "text", 0.3)
      .orderBy("doc_id")

  /** ST10 — streaming cluster-map maintenance, driver-visible: the
    * corpus streams through [[graft.streaming.StreamClusters]] in
    * three deterministic triggers (doc_id mod 3 — the REAL ST8 commit
    * layout and the REAL per-trigger folds, in a scratch dir), and
    * the output is the final composed [[StreamClusters.clusterView]].
    * Under NoCap the union of per-trigger pair emissions equals the
    * batch pair listing (ST8's exactly-once identity), so the
    * composed per-trigger folds must equal the from-scratch cluster
    * map of the whole corpus — the oracle recomputes exactly that
    * with x11's recursive CTE over the integer-ppm ≥ 0.8 pair gate
    * (every streamed pair passes the ppm gate, so the oracle states
    * the same integer rule — no ROUND(·,6) tie to adjudicate). The
    * view materializes (localCheckpoint) before the scratch dir is
    * removed. */
  def st10StreamClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_st10").toString
    try {
      (0 until 3).foreach { b =>
        val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
          .as(org.apache.spark.sql.Encoders.product[NdDoc])
        val _ = StreamNearDup.pairBatch(batch, b.toLong, dir, n = 3,
          thresholdPpm = 800000L, dfCap = Dedup.DfCap.NoCap)
        StreamClusters.foldCommitted(s, dir)
      }
      StreamClusters.clusterView(s, dir).localCheckpoint()
        .orderBy("doc_id")
    } finally graft.streaming.StreamIndex.deleteTree(dir)
  }

  /** ST11 — STREAM BOOTSTRAP from durable snapshot artifacts,
    * driver-visible: two thirds of the corpus plays the EXISTING
    * curated corpus whose snapshot artifacts (posting index, cluster
    * map) a nightly job already built; [[graft.streaming
    * .StreamBootstrap]] materializes those artifacts AS the stream's
    * `index/c=`/`cmap/c=` snapshot layers — pure map-only copies,
    * O(artifact bytes), no corpus re-pairing (the cost a seedless
    * adoption pays: the whole corpus pair listing again in trigger 0,
    * PERF.md "Stream adoption cost") — and the remaining third
    * streams through as the day's live trigger, pairing against the
    * seeded index and folding into the seeded map. The composed view
    * must therefore equal the from-scratch cluster map of the WHOLE
    * corpus: the oracle is st10's recursive-CTE rebuild verbatim
    * (seeded ≡ streamed-from-scratch is additionally pinned
    * trigger-by-trigger in StreamBootstrapSpec). Artifacts are built
    * here with the stream's own parameters (3-gram, 800000 ppm,
    * NoCap) — the seeding contract. */
  def st11BootstrapStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.wide(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val snapshot = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
    val live = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_st11").toString
    try {
      // the index is the seed's physical artifact AND the pair
      // listing's posting source: materialize it once (localCheckpoint)
      // and derive the cluster map from it — the from-text forms
      // shingled the snapshot corpus twice (once for the index copy,
      // once inside ngramJaccardPairsPpm; jaccardPairsPpmFromIndex is
      // row-identical under NoCap by construction)
      val index = Dedup.postingIndex(snapshot, "doc_id", "text", n = 3)
        .localCheckpoint()
      val cmap = Dedup.connectedComponents(
          Dedup.jaccardPairsPpmFromIndex(index, 800000L))
        .select(col("node").as("doc_id"), col("cluster_id"))
      StreamBootstrap.seedNearDup(dir, snapshot, index, Some(cmap),
        graft.streaming.StreamParams.neardup(3, 800000L, Dedup.DfCap.NoCap))
      val _ = StreamNearDup.pairBatch(
        live.as(org.apache.spark.sql.Encoders.product[NdDoc]), 0L, dir,
        n = 3, thresholdPpm = 800000L, dfCap = Dedup.DfCap.NoCap)
      StreamClusters.foldCommitted(s, dir)
      StreamClusters.clusterView(s, dir).localCheckpoint()
        .orderBy("doc_id")
    } finally graft.streaming.StreamIndex.deleteTree(dir)
  }

  /** ST12 — STREAMING vector-modality admission, driver-visible: the
    * live-ingest twin of x36 ([[graft.streaming.StreamEmbed]]). The
    * vector corpus streams in as trigger 0 (its buckets accumulate as
    * the `ebkt` deltas), the daily re-embed batch as trigger 1 —
    * candidate-paired against the accumulated buckets (the corpus is
    * never re-hashed or self-joined) and reranked with the exact
    * quantized-decimal cosine at 0.99. Trigger 1's emitted pairs must
    * therefore equal x36's restricted recompute VERBATIM — the oracle
    * is x36's exact decimal listing, shared ([[embedIncrementOracle]]);
    * the union-of-triggers ≡ full-recompute identity and the
    * crash/replay story are pinned by StreamEmbedSpec. */
  def st12StreamEmbed(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.embeddings(s, d).filter(col("vec_id") < 200)
    val corpus = raw.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val increment = raw.filter(col("vec_id") % 3 === 1)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_st12").toString
    try {
      val enc = org.apache.spark.sql.Encoders
        .product[graft.streaming.EmbDoc]
      val _ = graft.streaming.StreamEmbed.pairBatch(corpus.as(enc), 0L, dir)
      val _2 = graft.streaming.StreamEmbed.pairBatch(
        increment.as(enc), 1L, dir)
      s.read.parquet(s"$dir/pairs/b=1").localCheckpoint()
        .orderBy("ida", "idb")
    } finally graft.streaming.StreamIndex.deleteTree(dir)
  }

  /** Bootstrap a stream dir's layers from the DURABLE SNAPSHOT TABLES
    * — [[graft.streaming.StreamBootstrap.seedNearDup]] fed with the
    * commit-safe table reads: the posting index through the
    * epoch-consistent filter, the cluster map through the patch-aware
    * [[readClusterMap]] — so a table read mid-fold seeds exactly its
    * committed view, never a torn one. The stream's parameters
    * (n/thresholdPpm/dfCap — what every later trigger must run) are
    * VERIFIED against each table's recorded build params (an n=4
    * index refuses to seed an n=3 stream — the silent-wrong-verdict
    * class) and recorded as the dir's `_params` marker. */
  def seedStreamFromTables(s: SparkSession, baseDir: String,
      corpus: DataFrame, indexTable: String,
      cmapTable: Option[String] = None, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap): Unit = {
    val sp = graft.streaming.StreamParams.neardup(n, thresholdPpm, dfCap)
    graft.streaming.StreamParams.requireTableCompatible(s, indexTable, sp)
    cmapTable.foreach(
      graft.streaming.StreamParams.requireTableCompatible(s, _, sp))
    StreamBootstrap.seedNearDup(baseDir, corpus,
      DurableArtifact.epochRead(s, indexTable),
      cmapTable.map(t => readClusterMap(s, t)), sp)
  }

  /** BY-REFERENCE twin of [[seedStreamFromTables]]: the snapshot
    * layers land as POINTERS to the durable tables instead of
    * physical copies — O(metadata) adoption (at 100 TB the posting
    * index is itself roughly corpus-sized, so the physical seed's
    * copy is an artifact-sized rewrite this skips). The corpus enters
    * by reference too (`corpusTable`, epoch-read; must expose exactly
    * (doc_id, text)). Same params verification; the pointers freeze
    * each table's fold state — fold/rebase a source table before the
    * stream's first compaction and reads fail loudly
    * ([[graft.streaming.StreamIndex.readDir]]'s fence). */
  def seedStreamFromTablesByRef(s: SparkSession, baseDir: String,
      corpusTable: String, indexTable: String,
      cmapTable: Option[String] = None, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap): Unit = {
    val sp = graft.streaming.StreamParams.neardup(n, thresholdPpm, dfCap)
    (Seq(corpusTable, indexTable) ++ cmapTable).foreach(
      graft.streaming.StreamParams.requireTableCompatible(s, _, sp))
    val corpusCols = DurableArtifact.epochRead(s, corpusTable).columns.toSeq
    require(corpusCols == Seq("doc_id", "text"),
      s"seedStreamFromTablesByRef: corpus table $corpusTable reads as " +
        s"$corpusCols — the stream's corpus layer is exactly " +
        "(doc_id, text); project a view/table with that shape")
    StreamBootstrap.seedNearDupByRef(s, baseDir, corpusTable, indexTable,
      cmapTable, sp)
  }

  /** The ST9 twin of [[seedStreamFromTables]]: bootstrap an admission
    * stream dir from the durable EXACT-SURVIVOR posting-index table
    * and the corpus fingerprint table (the [[corpusFpArtifact]]
    * family), both through the epoch-consistent read — a mid-fold fp
    * table seeds exactly its committed set. Same params contract. */
  def seedAdmissionFromTables(s: SparkSession, baseDir: String,
      corpus: DataFrame, indexTable: String, fpTable: String,
      n: Int = 3, thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap): Unit = {
    val sp = graft.streaming.StreamParams.admission(n, thresholdPpm, dfCap)
    graft.streaming.StreamParams.requireTableCompatible(s, indexTable, sp)
    graft.streaming.StreamParams.requireTableCompatible(s, fpTable, sp)
    StreamBootstrap.seedAdmission(baseDir, corpus,
      DurableArtifact.epochRead(s, indexTable),
      DurableArtifact.epochRead(s, fpTable), sp)
  }

  /** The ST12 seed convenience: bootstrap a vector-admission stream
    * dir from the durable PROBED-BUCKET table (the [[embBucketsArtifact]]
    * family, epoch-read) plus a vector-corpus table, by-ref — O(metadata)
    * adoption. The bucket table's recorded build params
    * (dim/nPlanes/multiProbe) are verified against the stream's; the
    * corpus table must read as exactly (vec_id, embedding) with DOUBLE
    * elements (ST12's exact-rerank contract). */
  def seedEmbedFromTablesByRef(s: SparkSession, baseDir: String,
      corpusTable: String, bucketTable: String, dim: Int = 64,
      nPlanes: Int = 12, cosThresholdPpm: Long = 990000L): Unit = {
    val sp = graft.streaming.StreamParams.embed(dim, nPlanes,
      cosThresholdPpm)
    Seq(corpusTable, bucketTable).foreach(
      graft.streaming.StreamParams.requireTableCompatible(s, _, sp))
    val corpusCols = DurableArtifact.epochRead(s, corpusTable).columns.toSeq
    require(corpusCols == Seq("vec_id", "embedding"),
      s"seedEmbedFromTablesByRef: corpus table $corpusTable reads as " +
        s"$corpusCols — the stream's corpus layer is exactly " +
        "(vec_id, embedding); project a view/table with that shape")
    StreamBootstrap.seedEmbedByRef(s, baseDir, corpusTable, bucketTable, sp)
  }

  /** The ST9 by-ref twin — see [[seedStreamFromTablesByRef]]. */
  def seedAdmissionFromTablesByRef(s: SparkSession, baseDir: String,
      corpusTable: String, indexTable: String, fpTable: String,
      n: Int = 3, thresholdPpm: Long = 500000L,
      dfCap: Dedup.DfCap = Dedup.DfCap.NoCap): Unit = {
    val sp = graft.streaming.StreamParams.admission(n, thresholdPpm, dfCap)
    Seq(corpusTable, indexTable, fpTable).foreach(
      graft.streaming.StreamParams.requireTableCompatible(s, _, sp))
    val corpusCols = DurableArtifact.epochRead(s, corpusTable).columns.toSeq
    require(corpusCols == Seq("doc_id", "text"),
      s"seedAdmissionFromTablesByRef: corpus table $corpusTable reads " +
        s"as $corpusCols — the stream's corpus layer is exactly " +
        "(doc_id, text); project a view/table with that shape")
    StreamBootstrap.seedAdmissionByRef(s, baseDir, corpusTable,
      indexTable, fpTable, sp)
  }

  /** ST5 — stream-static dimension enrichment (batch twin): events
    * left-joined to the customer dimension (broadcast — no state
    * store, no watermark; the static side re-plans per micro-batch),
    * rolled up per nation with an explicit unmatched bucket (-1) for
    * the late-dimension case. StreamEnrichSpec proves the MemoryStream
    * run of the same body converges to this result. */
  def st5StreamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    StreamEnrich.withDimension(Tables.events(s, d), dim,
        "user_id", "c_custkey")
      .groupBy(coalesce(col("c_nationkey"), lit(-1L)).as("nation"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_value"))
      .orderBy("nation")
  }

  // ======================================================== oracles

  /** Exact word-3-gram Jaccard pair set as a composable CTE body
    * (no final ORDER BY): `SELECT ida, idb, jaccard` filtered at
    * %THRESH%. */
  private val jaccardPairsCte =
    """WITH words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM documents)
      |), sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2)
      |SELECT ida, idb, jaccard FROM (
      |  SELECT ida, idb, ROUND(CAST(c AS DOUBLE)/(sa.n+sb.n-c),6) AS jaccard
      |  FROM inter JOIN sizes sa ON sa.doc_id=ida
      |             JOIN sizes sb ON sb.doc_id=idb) t
      |WHERE jaccard >= %THRESH%""".stripMargin

  private val jaccardPairsSql = jaccardPairsCte + "\nORDER BY ida, idb"

  /** Capped variant of [[jaccardPairsCte]]: shingles with doc-frequency
    * above %CAP% are dropped before pairing (the `maxDocFreq` stop-
    * shingle cap), intersection counts shrink, set sizes stay full —
    * the exact DuckDB statement of Dedup.coShinglePairs' posting-list
    * length filter. Scored in exact-integer ppm with an integer
    * membership gate (`c·10⁶ ≥ %THRESHPPM%·(union)`) — no double
    * ratio, no rounding tie (see [[Dedup.ngramJaccardPairsPpm]]);
    * `//` is floor division, == truncation for these positives. */
  private val jaccardPairsCappedCte =
    """WITH words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM documents)
      |), sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2
      |), df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  JOIN df ON df.shingle = a.shingle
      |  WHERE df.df <= %CAP%
      |  GROUP BY 1,2)
      |SELECT ida, idb, (c*1000000)//(sa.n+sb.n-c) AS jaccard_ppm
      |FROM inter JOIN sizes sa ON sa.doc_id=ida
      |           JOIN sizes sb ON sb.doc_id=idb
      |WHERE c*1000000 >= %THRESHPPM%*(sa.n+sb.n-c)""".stripMargin

  private val jaccardPairsCappedSql =
    jaccardPairsCappedCte + "\nORDER BY ida, idb"

  // The full capped pair listing over corpus ∪ increment, restricted
  // to pairs touching the increment — increment ids are the top of the
  // id domain, so "≥1 new side" ⇔ the LARGER pair id is new
  // (idb ≥ 5·10¹²). Same cap rule and ppm arithmetic as x2b, stated
  // over the union corpus. Shared verbatim by x32 (from-scratch) and
  // x33 (served from the posting index) — identical row sets by
  // construction, pinned by IncrementalNearDupSpec/IncrementalIndexSpec.
  private val incrementalNearDupSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 5000000000000 AS doc_id,
      |    array_to_string(
      |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id % 9 = 4),
      |words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM corpus)),
      |sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  JOIN df ON df.shingle = a.shingle
      |  WHERE df.df <= (SELECT 2*SUM(df)//COUNT(*) FROM df)
      |    AND b.doc_id >= 5000000000000
      |  GROUP BY 1,2)
      |SELECT ida, idb, (c*1000000)//(sa.n+sb.n-c) AS jaccard_ppm
      |FROM inter JOIN sizes sa ON sa.doc_id=ida
      |           JOIN sizes sb ON sb.doc_id=idb
      |WHERE c*1000000 >= 500000*(sa.n+sb.n-c)
      |ORDER BY ida, idb""".stripMargin

  // x38: t5b's candidate-then-verify over the incremental recurrence
  // — the same union corpus / cap / restriction CTEs as the x32
  // oracle, the candidate gate at t5b's 300000 ppm, and the exact
  // levenshtein verify on 60-char prefixes of the union corpus texts.
  private val incrementalFuzzySql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 5000000000000 AS doc_id,
      |    array_to_string(
      |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id % 9 = 4),
      |words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM corpus)),
      |sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  JOIN df ON df.shingle = a.shingle
      |  WHERE df.df <= (SELECT 2*SUM(df)//COUNT(*) FROM df)
      |    AND b.doc_id >= 5000000000000
      |  GROUP BY 1,2),
      |cand AS (
      |  SELECT ida, idb
      |  FROM inter JOIN sizes sa ON sa.doc_id=ida
      |             JOIN sizes sb ON sb.doc_id=idb
      |  WHERE c*1000000 >= 300000*(sa.n+sb.n-c))
      |SELECT p.ida, p.idb,
      | levenshtein(substr(ca.text,1,60), substr(cb.text,1,60)) AS dist
      |FROM cand p
      |JOIN corpus ca ON ca.doc_id = p.ida
      |JOIN corpus cb ON cb.doc_id = p.idb
      |WHERE levenshtein(substr(ca.text,1,60), substr(cb.text,1,60)) <= 10
      |ORDER BY ida, idb""".stripMargin

  // The x39 oracle recomputes the WHOLE union cluster map from
  // scratch (x11's recursive transitive closure), so fold ≡ full
  // recompute is the hash-matched statement. Corpus-internal edges
  // use x11's ROUND(·,6) ≥ 0.8 rule, increment-touching edges
  // (idb ≥ 5·10¹² — increment ids top the domain) the engine's
  // exact-integer ppm gate; the two rules agree except within
  // 1/(5u) < 5·10⁻⁷ of the threshold, unreachable for integer
  // counts at document shingle-set sizes.
  private val incrementalClustersSql =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 5000000000000 AS doc_id,
      |    array_to_string(
      |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id % 9 = 4),
      |words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM corpus)),
      |sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |pairs AS (
      |  SELECT ida, idb
      |  FROM inter JOIN sizes sa ON sa.doc_id=ida
      |             JOIN sizes sb ON sb.doc_id=idb
      |  WHERE CASE WHEN idb >= 5000000000000
      |        THEN c*1000000 >= 800000*(sa.n+sb.n-c)
      |        ELSE ROUND(CAST(c AS DOUBLE)/(sa.n+sb.n-c),6) >= 0.8 END),
      |edges AS (SELECT ida AS src, idb AS dst FROM pairs
      |          UNION SELECT idb, ida FROM pairs),
      |reach(node, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst)
      |SELECT node AS doc_id, MIN(label) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // The x40 oracle restates BOTH curation days from scratch: day 2's
  // corpus is documents ∪ day-1 survivors, so a hash match proves the
  // engine's folded artifacts served exactly the union corpus. The
  // larger-side-new restriction (idb ≥ the day's offset) is exact
  // because each day's ids top the id domain.
  private val serveFoldServeSql = {
    val fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    val rev = "array_to_string(list_reverse(string_split(text,' ')), ' ')"
    val pfx =
      """array_to_string(
        |    (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |    ' ')""".stripMargin
    val pfxRev =
      """array_to_string(
        |    (list_reverse(string_split(text,' ')))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |    ' ')""".stripMargin
    s"""WITH b1 AS (
      |  SELECT doc_id + 5000000000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 27 = 1
      |  UNION ALL
      |  SELECT doc_id + 5000000000000, $rev
      |  FROM documents WHERE doc_id % 36 = 2 OR doc_id % 36 = 11
      |  UNION ALL
      |  SELECT doc_id + 5000000000000, $pfx
      |  FROM documents WHERE doc_id % 27 = 4),
      |fp0 AS (SELECT DISTINCT $fp AS fp FROM documents),
      |c1 AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM b1),
      |w1 AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM c1)),
      |sh1 AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM w1 a JOIN w1 b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |            JOIN w1 c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      |sz1 AS (SELECT doc_id, COUNT(*) n FROM sh1 GROUP BY 1),
      |i1 AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh1 a JOIN sh1 b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  WHERE b.doc_id >= 5000000000000
      |  GROUP BY 1,2),
      |nd1 AS (
      |  SELECT DISTINCT idb AS doc_id
      |  FROM i1 JOIN sz1 sa ON sa.doc_id=ida JOIN sz1 sb ON sb.doc_id=idb
      |  WHERE c*1000000 >= 500000*(sa.n+sb.n-c)),
      |v1 AS (
      |  SELECT b.doc_id, b.text,
      |    CASE WHEN f.fp IS NOT NULL THEN 'exact_dup'
      |         WHEN nd1.doc_id IS NOT NULL THEN 'near_dup'
      |         ELSE 'kept' END AS verdict
      |  FROM b1 b
      |  LEFT JOIN fp0 f
      |    ON f.fp = md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))
      |  LEFT JOIN nd1 ON nd1.doc_id = b.doc_id),
      |s1 AS (SELECT doc_id, text FROM v1 WHERE verdict = 'kept'),
      |fp1 AS (SELECT fp FROM fp0 UNION SELECT $fp FROM s1),
      |b2 AS (
      |  SELECT doc_id + 7000000000000 AS doc_id, $rev AS text
      |  FROM documents WHERE doc_id % 36 = 2
      |  UNION ALL
      |  SELECT doc_id + 7000000000000, $pfxRev
      |  FROM documents WHERE doc_id % 36 = 11
      |  UNION ALL
      |  SELECT doc_id + 7000000000000, $rev
      |  FROM documents WHERE doc_id % 27 = 7),
      |c2 AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM s1
      |       UNION ALL SELECT doc_id, text FROM b2),
      |w2 AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM c2)),
      |sh2 AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM w2 a JOIN w2 b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |            JOIN w2 c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      |sz2 AS (SELECT doc_id, COUNT(*) n FROM sh2 GROUP BY 1),
      |i2 AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh2 a JOIN sh2 b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  WHERE b.doc_id >= 7000000000000
      |  GROUP BY 1,2),
      |nd2 AS (
      |  SELECT DISTINCT idb AS doc_id
      |  FROM i2 JOIN sz2 sa ON sa.doc_id=ida JOIN sz2 sb ON sb.doc_id=idb
      |  WHERE c*1000000 >= 500000*(sa.n+sb.n-c)),
      |v2 AS (
      |  SELECT b.doc_id,
      |    CASE WHEN f.fp IS NOT NULL THEN 'exact_dup'
      |         WHEN nd2.doc_id IS NOT NULL THEN 'near_dup'
      |         ELSE 'kept' END AS verdict
      |  FROM b2 b
      |  LEFT JOIN fp1 f
      |    ON f.fp = md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))
      |  LEFT JOIN nd2 ON nd2.doc_id = b.doc_id)
      |SELECT 1 AS day, doc_id, verdict FROM v1
      |UNION ALL
      |SELECT 2 AS day, doc_id, verdict FROM v2
      |ORDER BY day, doc_id""".stripMargin
  }

  // x41: x40's two-day serve→fold→serve proof on the SKETCH path —
  // both days' verdicts restated from the exact-Jaccard union pair
  // listings (LSH precision is exact — every candidate verified — and
  // banding recall at the fixture's J ≥ 0.89 pairs is ≈ 1, the same
  // adjudication x35 ships with), with day 2's corpus = documents ∪
  // day-1 survivors. Reversed-word pages share no shingles with the
  // forward corpus, so day-2 near-dups are detectable ONLY IF day 1's
  // kept pages were folded into the band/set artifacts.
  private val lshFoldServeSql = {
    val rev = "array_to_string(list_reverse(string_split(text,' ')), ' ')"
    val pfx =
      """array_to_string(
        |    (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |    ' ')""".stripMargin
    val pfxRev =
      """array_to_string(
        |    (list_reverse(string_split(text,' ')))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |    ' ')""".stripMargin
    def day(corpus: String, lo: Long) =
      s"""w_$lo AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM $corpus)),
        |sh_$lo AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        |  FROM w_$lo a JOIN w_$lo b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN w_$lo c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |sz_$lo AS (SELECT doc_id, COUNT(*) n FROM sh_$lo GROUP BY 1),
        |i_$lo AS (
        |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
        |  FROM sh_$lo a JOIN sh_$lo b
        |    ON a.shingle=b.shingle AND a.doc_id < b.doc_id
        |  WHERE b.doc_id >= $lo
        |  GROUP BY 1,2),
        |nd_$lo AS (
        |  SELECT DISTINCT idb AS doc_id
        |  FROM i_$lo JOIN sz_$lo sa ON sa.doc_id=ida
        |             JOIN sz_$lo sb ON sb.doc_id=idb
        |  WHERE ROUND(CAST(c AS DOUBLE)/(sa.n+sb.n-c),6) >= 0.8)""".stripMargin
    s"""WITH b1 AS (
      |  SELECT doc_id + 5000000000000 AS doc_id, $rev AS text
      |  FROM documents WHERE doc_id % 36 = 2 OR doc_id % 36 = 11
      |  UNION ALL
      |  SELECT doc_id + 5000000000000, $pfx
      |  FROM documents WHERE doc_id % 27 = 4),
      |c1 AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM b1),
      |${day("c1", 5000000000000L)},
      |v1 AS (
      |  SELECT b.doc_id, b.text,
      |    CASE WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
      |         ELSE 'kept' END AS verdict
      |  FROM b1 b LEFT JOIN nd_5000000000000 nd ON nd.doc_id = b.doc_id),
      |s1 AS (SELECT doc_id, text FROM v1 WHERE verdict = 'kept'),
      |b2 AS (
      |  SELECT doc_id + 7000000000000 AS doc_id, $rev AS text
      |  FROM documents WHERE doc_id % 36 = 2
      |  UNION ALL
      |  SELECT doc_id + 7000000000000, $pfxRev
      |  FROM documents WHERE doc_id % 36 = 11
      |  UNION ALL
      |  SELECT doc_id + 7000000000000, $rev
      |  FROM documents WHERE doc_id % 27 = 7),
      |c2 AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM s1
      |       UNION ALL SELECT doc_id, text FROM b2),
      |${day("c2", 7000000000000L)},
      |v2 AS (
      |  SELECT b.doc_id,
      |    CASE WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
      |         ELSE 'kept' END AS verdict
      |  FROM b2 b LEFT JOIN nd_7000000000000 nd ON nd.doc_id = b.doc_id)
      |SELECT 1 AS day, doc_id, verdict FROM v1
      |UNION ALL
      |SELECT 2 AS day, doc_id, verdict FROM v2
      |ORDER BY day, doc_id""".stripMargin
  }

  // x42: the same two-day proof on the VECTOR modality — both days'
  // verdicts from the exact quantized-decimal cosine listings (x36's
  // adjudication), day 2's corpus = vectors ∪ day-1 survivors.
  // Negated vectors sit at cosine −1 against every forward vector, so
  // a day-2 re-embed of a day-1 kept negated vector is a near dup
  // ONLY IF the emb-bucket fold worked.
  private val embFoldServeSql = {
    def day(corpus: String, lo: Long) =
      s"""e_$lo AS (SELECT vec_id, i, CAST(x AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(emb) x, generate_subscripts(emb,1) i
        |   FROM $corpus)),
        |d_$lo AS (SELECT a.vec_id ida, b.vec_id idb, SUM(a.v*b.v) dot
        |  FROM e_$lo a JOIN e_$lo b ON a.i = b.i AND a.vec_id < b.vec_id
        |  WHERE b.vec_id >= $lo GROUP BY 1,2),
        |n_$lo AS (SELECT vec_id, SUM(v*v) n2 FROM e_$lo GROUP BY 1),
        |nd_$lo AS (
        |  SELECT DISTINCT idb AS vec_id
        |  FROM d_$lo JOIN n_$lo na ON na.vec_id=ida
        |             JOIN n_$lo nb ON nb.vec_id=idb
        |  WHERE ROUND(CAST(dot AS DOUBLE) /
        |    (SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6)
        |    >= 0.99)""".stripMargin
    s"""WITH raw AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id < 200),
      |b1 AS (
      |  SELECT vec_id + 1000000 AS vec_id,
      |         list_transform(emb, x -> x + 0.001) AS emb
      |  FROM raw WHERE vec_id % 3 = 1
      |  UNION ALL
      |  SELECT vec_id + 1000000, list_transform(emb, x -> -x)
      |  FROM raw WHERE vec_id % 3 = 2),
      |c1 AS (SELECT vec_id, emb FROM raw
      |       UNION ALL SELECT vec_id, emb FROM b1),
      |${day("c1", 1000000L)},
      |v1 AS (
      |  SELECT b.vec_id, b.emb,
      |    CASE WHEN nd.vec_id IS NOT NULL THEN 'near_dup'
      |         ELSE 'kept' END AS verdict
      |  FROM b1 b LEFT JOIN nd_1000000 nd ON nd.vec_id = b.vec_id),
      |s1 AS (SELECT vec_id, emb FROM v1 WHERE verdict = 'kept'),
      |b2 AS (
      |  SELECT vec_id + 2000000 AS vec_id,
      |         list_transform(emb, x -> -x + 0.001) AS emb
      |  FROM raw WHERE vec_id % 3 = 2
      |  UNION ALL
      |  SELECT vec_id + 2000000, list_transform(emb, x -> -x)
      |  FROM raw WHERE vec_id % 3 = 0),
      |c2 AS (SELECT vec_id, emb FROM raw
      |       UNION ALL SELECT vec_id, emb FROM s1
      |       UNION ALL SELECT vec_id, emb FROM b2),
      |${day("c2", 2000000L)},
      |v2 AS (
      |  SELECT b.vec_id,
      |    CASE WHEN nd.vec_id IS NOT NULL THEN 'near_dup'
      |         ELSE 'kept' END AS verdict
      |  FROM b2 b LEFT JOIN nd_2000000 nd ON nd.vec_id = b.vec_id)
      |SELECT 1 AS day, vec_id, verdict FROM v1
      |UNION ALL
      |SELECT 2 AS day, vec_id, verdict FROM v2
      |ORDER BY day, vec_id""".stripMargin
  }

  // x27b's directed containment over x32's union corpus, restricted
  // to pairs touching the increment — the x37/x37b oracle.
  private val incrementalContainmentSql =
    """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000000000 AS doc_id,
        |    array_to_string(
        |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 9 = 4),
        |words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM corpus)),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
        |  JOIN df ON df.shingle = a.shingle
        |  WHERE df.df <= (SELECT 4*SUM(df)//COUNT(*) FROM df)
        |    AND b.doc_id >= 5000000000000
        |  GROUP BY 1,2),
        |dir AS (
        |  SELECT ida AS id_sub, idb AS id_super, c, sa.n AS nsub
        |  FROM inter JOIN sizes sa ON sa.doc_id = ida
        |  UNION ALL
        |  SELECT idb, ida, c, sb.n FROM inter JOIN sizes sb ON sb.doc_id = idb)
        |SELECT id_sub, id_super, CAST(c * 1000000 // nsub AS BIGINT) AS cont_ppm
        |FROM dir WHERE c * 100 >= 90 * nsub
        |ORDER BY id_sub, id_super""".stripMargin

  // The exact union pair listing restricted to ≥1-new at 0.8 — the
  // x35/x35b oracle (see the map entry comment).
  private val incrementalLshSql =
    """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000000000 AS doc_id,
        |    array_to_string(
        |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 9 = 4),
        |words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM corpus)),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
        |  WHERE b.doc_id >= 5000000000000
        |  GROUP BY 1,2)
        |SELECT ida, idb, jaccard FROM (
        |  SELECT ida, idb, ROUND(CAST(c AS DOUBLE)/(sa.n+sb.n-c),6) AS jaccard
        |  FROM inter JOIN sizes sa ON sa.doc_id=ida
        |             JOIN sizes sb ON sb.doc_id=idb) t
        |WHERE jaccard >= 0.8
        |ORDER BY ida, idb""".stripMargin

  // The incremental curation pipeline restated end-to-end: x32's
  // batch construction (all four arrival kinds), x10's scoring /
  // filter / fingerprint formulas, the corpus-fp exact probe, and the
  // capped incremental pair listing (same cap rule and ppm arithmetic
  // as x32, stated over corpus ∪ survivors). minstd split uses the
  // mod-first form (≡ (id·48271) mod M, stays far below BIGINT range
  // for the +5·10¹²/+6·10¹² batch ids). Shared verbatim by x34
  // (from-scratch) and x34b (served from the posting index) —
  // identical verdicts by construction, IncrementalCurationSpec.
  private val incrementalCurationSql = {
    def hits(w: String) =
      s"(length(' '||text||' ') - length(replace(' '||text||' ',' $w ','')))/${w.length + 2}"
    def score(ws: Seq[String]) = ws.map(hits).mkString("(", " + ", ")")
    val en = score(Seq("the", "a", "of", "and"))
    val fr = score(Seq("le", "la", "et", "les"))
    val de = score(Seq("der", "die", "und", "das"))
    val es = score(Seq("el", "los", "y", "una"))
    s"""WITH batch0 AS (
        |  SELECT doc_id + 5000000000000 AS doc_id,
        |    array_to_string(
        |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 9 = 4
        |  UNION ALL
        |  SELECT doc_id + 5000000000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 9 = 7
        |  UNION ALL
        |  SELECT doc_id + 6000000000000 AS doc_id,
        |    array_to_string(
        |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*9+9)//10 AS INT)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 36 = 4
        |  UNION ALL
        |  SELECT doc_id + 5000000000000 AS doc_id,
        |    array_to_string(list_reverse(string_split(text,' ')), ' ') AS text
        |  FROM documents WHERE doc_id % 9 = 2),
        |s AS (SELECT doc_id, text,
        |  $en AS s_en, $fr AS s_fr, $de AS s_de, $es AS s_es FROM batch0),
        |scored AS (
        |  SELECT doc_id, text,
        |    CASE WHEN s_en > 0 AND s_en = GREATEST(s_en,s_fr,s_de,s_es) THEN 'en'
        |         WHEN s_fr > 0 AND s_fr = GREATEST(s_en,s_fr,s_de,s_es) THEN 'fr'
        |         WHEN s_de > 0 AND s_de = GREATEST(s_en,s_fr,s_de,s_es) THEN 'de'
        |         WHEN s_es > 0 AND s_es = GREATEST(s_en,s_fr,s_de,s_es) THEN 'es'
        |         ELSE 'und' END AS lang_detected,
        |    ROUND(LEAST(len(string_split(text,' '))/100.0, 1.0) * 0.6 +
        |      LEAST(CAST(s_en AS DOUBLE)/(len(string_split(text,' ')) + 1.0), 1.0)
        |        * 0.4, 6) AS quality,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM s),
        |filt AS (SELECT * FROM scored
        |         WHERE lang_detected = 'en' AND quality >= 0.3),
        |corpusfp AS (SELECT DISTINCT
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |flagged AS (
        |  SELECT r.doc_id, r.text, r.quality,
        |    (cf.fp IS NOT NULL OR r.rn > 1) AS is_exact
        |  FROM (SELECT f.*, ROW_NUMBER() OVER
        |          (PARTITION BY fp ORDER BY doc_id) AS rn FROM filt f) r
        |  LEFT JOIN corpusfp cf ON cf.fp = r.fp),
        |uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, text FROM flagged WHERE NOT is_exact),
        |words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM uni)),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
        |  JOIN df ON df.shingle = a.shingle
        |  WHERE df.df <= (SELECT 2*SUM(df)//COUNT(*) FROM df)
        |    AND b.doc_id >= 5000000000000
        |  GROUP BY 1,2),
        |nd AS (
        |  SELECT DISTINCT idb AS doc_id
        |  FROM inter JOIN sizes sa ON sa.doc_id=ida
        |             JOIN sizes sb ON sb.doc_id=idb
        |  WHERE c*1000000 >= 500000*(sa.n+sb.n-c))
        |SELECT g.doc_id, g.quality,
        |  CASE WHEN g.is_exact THEN 'exact_dup'
        |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'kept' END AS verdict,
        |  CASE WHEN NOT g.is_exact AND nd.doc_id IS NULL THEN
        |    CASE WHEN (((g.doc_id % 2147483647) * 48271) % 2147483647) % 10 < 8
        |         THEN 'train' ELSE 'eval' END END AS split
        |FROM flagged g LEFT JOIN nd ON nd.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin
  }

  // x27's corpus/shingle CTEs with the density-adaptive df-cap
  // (4× average df — containment needs the wider cap, see the query
  // doc) applied before pairing, mirroring
  // Dedup.coShinglePairs(DfCap.AdaptiveAvg(4)). Shared verbatim by
  // x27b (list-filter cap) and x27c (bounded-state collector) — the
  // two shapes compute the identical row set by construction.
  private val containmentCappedSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id,
      |    array_to_string(
      |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*2+4)//5 AS INT)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id % 20 = 0),
      |words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM corpus)),
      |sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  JOIN df ON df.shingle = a.shingle
      |  WHERE df.df <= (SELECT 4*SUM(df)//COUNT(*) FROM df)
      |  GROUP BY 1,2),
      |dir AS (
      |  SELECT ida AS id_sub, idb AS id_super, c, sa.n AS nsub
      |  FROM inter JOIN sizes sa ON sa.doc_id = ida
      |  UNION ALL
      |  SELECT idb, ida, c, sb.n FROM inter JOIN sizes sb ON sb.doc_id = idb)
      |SELECT id_sub, id_super, CAST(c * 1000000 // nsub AS BIGINT) AS cont_ppm
      |FROM dir WHERE c * 100 >= 90 * nsub
      |ORDER BY id_sub, id_super""".stripMargin

  private val langScoreSql = {
    def hits(w: String) =
      s"(length(' '||text||' ') - length(replace(' '||text||' ',' $w ','')))/${w.length + 2}"
    def score(ws: Seq[String]) = ws.map(hits).mkString("(", " + ", ")")
    def nhits(g: String) =
      s"(length(text) - length(replace(text,'$g','')))/${g.length}"
    def nscore(lang: String) = TextAnalysis.CharNgramProfiles.toMap
      .apply(lang).map(nhits).mkString("(", " + ", ")")
    val en = score(Seq("the", "a", "of", "and"))
    val fr = score(Seq("le", "la", "et", "les"))
    val de = score(Seq("der", "die", "und", "das"))
    val es = score(Seq("el", "los", "y", "una"))
    s"""SELECT doc_id, lang, text,
       | $en AS s_en, $fr AS s_fr, $de AS s_de, $es AS s_es,
       | ${nscore("en")} AS g_en, ${nscore("fr")} AS g_fr,
       | ${nscore("de")} AS g_de, ${nscore("es")} AS g_es
       |FROM documents""".stripMargin
  }

  private val x13OracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |corpus AS (
      |  SELECT doc_id, text FROM d WHERE doc_id % 97 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'quoth ' || text FROM d WHERE doc_id % 97 = 0),
      |cw AS (SELECT doc_id, string_split(text,' ') AS ws FROM corpus),
      |cg AS (SELECT DISTINCT doc_id, array_to_string(ws[CAST(i AS BIGINT):CAST(i+12 AS BIGINT)],' ') AS g
      |       FROM cw, unnest(range(1, greatest(len(ws)-11, 1))) t(i)),
      |bw AS (SELECT string_split(text,' ') AS ws FROM d WHERE doc_id % 97 = 0),
      |bg AS (SELECT DISTINCT array_to_string(ws[CAST(i AS BIGINT):CAST(i+12 AS BIGINT)],' ') AS g
      |       FROM bw, unnest(range(1, greatest(len(ws)-11, 1))) t(i))
      |SELECT doc_id, COUNT(DISTINCT cg.g) AS n_shared_grams
      |FROM cg JOIN bg ON cg.g = bg.g
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private lazy val x30BudgetSql: String =
    s"""WITH s AS ($langScoreSql),
      |d AS (SELECT doc_id,
      |        CASE WHEN s_en > 0 AND s_en = GREATEST(s_en,s_fr,s_de,s_es) THEN 'en'
      |             WHEN s_fr > 0 AND s_fr = GREATEST(s_en,s_fr,s_de,s_es) THEN 'fr'
      |             WHEN s_de > 0 AND s_de = GREATEST(s_en,s_fr,s_de,s_es) THEN 'de'
      |             WHEN s_es > 0 AND s_es = GREATEST(s_en,s_fr,s_de,s_es) THEN 'es'
      |             ELSE 'und' END AS lang,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        (doc_id * 48271) % 2147483647 AS h
      |      FROM s),
      |c AS (SELECT *,
      |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok,
      |        SUM(n_tok) OVER (PARTITION BY lang) AS total_tokens
      |      FROM d)
      |SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN cum_tok*2 <= total_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | CAST(SUM(CASE WHEN cum_tok*2 <= total_tokens THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
      | CAST(MAX(total_tokens) AS BIGINT) AS total_tokens
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** The extension family's rows. Declared after the private SQL vals
    * above: an object initializes top to bottom, so a row listed before
    * the val it reads would capture null. */
  val rows: Seq[RowDef] = Seq(
    RowDef("x19_passage_dedup", x19PassageDedup, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, CAST(k AS INT) AS chunk_id,
        |        md5(array_to_string(
        |          ws[CAST(k*16+1 AS BIGINT) : CAST(k*16+16 AS BIGINT)], ' ')) AS h
        |      FROM w, unnest(range(0, greatest(len(ws)-1, 0)//16 + 1)) t(k)),
        |f AS (SELECT doc_id, chunk_id, h,
        |        ROW_NUMBER() OVER (PARTITION BY h
        |          ORDER BY doc_id, chunk_id) AS rn
        |      FROM c)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN h END, ','
        |       ORDER BY chunk_id), '')) AS kept_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    RowDef("x20_source_budget", x20SourceBudget, Some(
      """WITH d AS (SELECT doc_id, source,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |        (doc_id * 48271) % 2147483647 AS h
        |      FROM documents),
        |c AS (SELECT *,
        |        SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok,
        |        SUM(n_tok) OVER (PARTITION BY source) AS total_tokens
        |      FROM d)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN cum_tok*2 <= total_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN cum_tok*2 <= total_tokens THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
        | CAST(MAX(total_tokens) AS BIGINT) AS total_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    RowDef("x30_language_budget", x30LanguageBudget, Some(x30BudgetSql)),
    // x30b's sharded prefix scan is bit-identical to x30 by
    // construction (range shards of the hash order) — same oracle
    RowDef("x30b_language_budget_sharded", x30bLanguageBudgetSharded,
      Some(x30BudgetSql)),

    RowDef("x22_topic_balance", x22TopicBalance, Some(
      """WITH e AS (SELECT vec_id, i, CAST(CAST(x AS DOUBLE) AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding,1) i
        |   FROM embeddings)),
        |cents AS (SELECT vec_id AS c_id, i, v AS cv FROM e WHERE vec_id % 20 = 0),
        |dots AS (SELECT e.vec_id, c.c_id, SUM(e.v*c.cv) AS dot
        |  FROM e JOIN cents c ON c.i = e.i GROUP BY 1, 2),
        |norms AS (SELECT vec_id, SUM(v*v) AS n2 FROM e GROUP BY 1),
        |scored AS (SELECT d.vec_id, d.c_id,
        |  ROUND(CAST(d.dot AS DOUBLE) /
        |    (SQRT(CAST(n.n2 AS DOUBLE)) * SQRT(CAST(cn.n2 AS DOUBLE))), 6) AS cos
        |  FROM dots d JOIN norms n ON n.vec_id = d.vec_id
        |              JOIN norms cn ON cn.vec_id = d.c_id),
        |assigned AS (SELECT vec_id, c_id AS cluster_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, c_id ASC) AS rn FROM scored) t WHERE rn = 1),
        |capped AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY (vec_id * 48271) % 2147483647, vec_id) AS pos,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM assigned)
        |SELECT cluster_id, COUNT(*) AS n_members,
        | CAST(SUM(CASE WHEN pos*2 <= n_members THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept,
        | CAST(SUM(CASE WHEN pos*2 <= n_members THEN vec_id ELSE 0 END) AS BIGINT)
        |   AS kept_id_sum
        |FROM capped GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // sorted-neighborhood (w=8) within first-token blocks, restated
    // identically — the window is part of the declared blocking
    // strategy; fixture blocks hold exactly 8 names, so at oracle
    // scale this returns the same rows as the all-pairs block join
    RowDef("t10_name_match", t10NameMatch, Some(
      """WITH n AS (SELECT DISTINCT p_name,
        |             string_split(p_name, ' ')[1] AS blk FROM part),
        |r AS (SELECT p_name, blk,
        |        ROW_NUMBER() OVER (PARTITION BY blk ORDER BY p_name) AS rn
        |      FROM n)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
        |FROM r a JOIN r b ON a.blk = b.blk
        |                 AND b.rn > a.rn AND b.rn <= a.rn + 8
        |WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.5
        |ORDER BY name_a, name_b""".stripMargin)),

    RowDef("x1_dedup_exact", x1DedupExact, Some(
      """SELECT MIN(doc_id) AS doc_id_kept, COUNT(*) AS n_copies,
        |       md5(text) AS text_md5
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents) t
        |GROUP BY text ORDER BY doc_id_kept""".stripMargin)),

    RowDef("x2_dedup_ngram_jaccard", x2NgramJaccard,
      Some(jaccardPairsSql.replace("%THRESH%", "0.5"))),

    RowDef("x2b_dedup_jaccard_capped", x2bNgramJaccardCapped,
      Some(jaccardPairsCappedSql
        .replace("%THRESHPPM%", "500000")
        .replace("%CAP%", "(SELECT 2*SUM(df)//COUNT(*) FROM df)"))),

    // x2c: bounded-state collection of the SAME adaptive capped set —
    // semantics identical to x2b by construction, oracle verbatim
    RowDef("x2c_jaccard_bounded_state", x2cJaccardBoundedState,
      Some(jaccardPairsCappedSql
        .replace("%THRESHPPM%", "500000")
        .replace("%CAP%", "(SELECT 2*SUM(df)//COUNT(*) FROM df)"))),

    // x32: the full capped pair listing over corpus ∪ increment,
    // restricted to pairs touching the increment — increment ids are
    // the top of the id domain, so "≥1 new side" ⇔ the LARGER pair id
    // is new (idb ≥ 5·10¹², IncrementOffset). Same cap rule and ppm
    // arithmetic as x2b, stated over the union corpus.
    RowDef("x32_incremental_neardup", x32IncrementalNearDup,
      Some(incrementalNearDupSql)),

    // x33: x32 served from the posting index — identical row set by
    // construction (IncrementalIndexSpec), oracle verbatim
    RowDef("x33_incremental_from_index", x33IncrementalFromIndex,
      Some(incrementalNearDupSql)),

    // t5b: the capped candidate CTE (integer-ppm gate) feeding the
    // same exact levenshtein verify as t5
    RowDef("t5b_edit_pairs_capped", t5bEditPairsCapped, Some(
      s"""SELECT p.ida, p.idb,
        | levenshtein(substr(da.text,1,60), substr(db.text,1,60)) AS dist
        |FROM (${jaccardPairsCappedCte
          .replace("%THRESHPPM%", "300000")
          .replace("%CAP%", "(SELECT 2*SUM(df)//COUNT(*) FROM df)")}) p
        |JOIN documents da ON da.doc_id = p.ida
        |JOIN documents db ON db.doc_id = p.idb
        |WHERE levenshtein(substr(da.text,1,60), substr(db.text,1,60)) <= 10
        |ORDER BY ida, idb""".stripMargin)),

    // x27b: x27's corpus/shingle CTEs with the density-adaptive df-cap
    // (4× average df — containment needs the wider cap, see the query
    // doc) applied before pairing, mirroring
    // Dedup.coShinglePairs(DfCap.AdaptiveAvg(4))
    RowDef("x27b_containment_capped", x27bContainmentCapped,
      Some(containmentCappedSql)),

    // x27c: bounded-state collection of the SAME adaptive capped set —
    // semantics identical to x27b by construction, oracle verbatim
    RowDef("x27c_containment_bounded", x27cContainmentBoundedState,
      Some(containmentCappedSql)),

    // x27: exact containment over the snippet-augmented corpus; same
    // word/shingle CTE shape as the Jaccard oracle but with corpus =
    // documents ∪ 40%-prefix snippets and a directed union of pairs
    RowDef("x27_containment_pairs", x27ContainmentPairs, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    array_to_string(
        |      (string_split(text,' '))[1:CAST((len(string_split(text,' '))*2+4)//5 AS INT)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 20 = 0),
        |words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM corpus)),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |dir AS (
        |  SELECT ida AS id_sub, idb AS id_super, c, sa.n AS nsub
        |  FROM inter JOIN sizes sa ON sa.doc_id = ida
        |  UNION ALL
        |  SELECT idb, ida, c, sb.n FROM inter JOIN sizes sb ON sb.doc_id = idb)
        |SELECT id_sub, id_super, CAST(c * 1000000 // nsub AS BIGINT) AS cont_ppm
        |FROM dir WHERE c * 100 >= 90 * nsub
        |ORDER BY id_sub, id_super""".stripMargin)),

    RowDef("t5_edit_pairs", t5EditPairs, Some(
      s"""SELECT p.ida, p.idb,
        | levenshtein(substr(da.text,1,60), substr(db.text,1,60)) AS dist
        |FROM (${jaccardPairsCte.replace("%THRESH%", "0.3")}) p
        |JOIN documents da ON da.doc_id = p.ida
        |JOIN documents db ON db.doc_id = p.idb
        |WHERE levenshtein(substr(da.text,1,60), substr(db.text,1,60)) <= 10
        |ORDER BY ida, idb""".stripMargin)),

    RowDef("x3_dedup_minhash_lsh", x3MinhashLsh,
      Some(jaccardPairsSql.replace("%THRESH%", "0.8"))),

    // x35: the exact union pair listing restricted to ≥1-new (the
    // increment tops the id domain, so the new-side test is on idb) —
    // same recall adjudication as x3's exact oracle. Shared verbatim
    // by x35b (served from the memoized signature/set artifact).
    RowDef("x35b_lsh_from_artifact", x35bLshFromArtifact,
      Some(incrementalLshSql)),
    RowDef("x35_incremental_lsh", x35IncrementalLsh, Some(incrementalLshSql)),

    // x37: x27b's directed containment under the 4× adaptive cap,
    // stated over x32's union corpus and restricted to pairs touching
    // the increment (the undirected pair's larger id is the new side).
    // Shared verbatim by x37b (served from the posting index).
    RowDef("x37b_containment_from_index", x37bContainmentFromIndex,
      Some(incrementalContainmentSql)),
    RowDef("x37_incremental_containment", x37IncrementalContainment,
      Some(incrementalContainmentSql)),

    // x38: incremental fuzzy dedup — t5b's candidate gate restated
    // over the x32 union corpus restricted to ≥1-new, exact
    // levenshtein verify on 60-char prefixes
    RowDef("x38_incremental_fuzzy", x38IncrementalFuzzy,
      Some(incrementalFuzzySql)),

    // x39: the folded cluster map vs a from-scratch union recompute
    RowDef("x39_incremental_clusters", x39IncrementalClusters,
      Some(incrementalClustersSql)),

    // x40: two curation days, day 2 against the folded artifacts
    RowDef("x40_serve_fold_serve", x40ServeFoldServe, Some(serveFoldServeSql)),

    // x41/x42: the same two-day fold proof on the LSH band/set and
    // embedding-bucket artifacts (the two families x40 left uncovered)
    RowDef("x41_lsh_fold_serve", x41LshFoldServe, Some(lshFoldServeSql)),
    RowDef("x42_emb_fold_serve", x42EmbFoldServe, Some(embFoldServeSql)),

    RowDef("x4b_simhash_portable", x4bSimhashPortable, Some {
      val bitSums = (0 until 60)
        .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n   ")
      val code = (0 until 60)
        .map(j => s"CASE WHEN b$j >= 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH toks AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
        |sums AS (
        |  SELECT doc_id,
        |   $bitSums
        |  FROM toks GROUP BY doc_id),
        |codes AS (SELECT doc_id, $code AS simhash FROM sums),
        |chunks AS (
        |  SELECT doc_id, simhash, c, (simhash >> (c * 16)) & 65535 AS ck
        |  FROM codes, (VALUES (0),(1),(2),(3)) t(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
        |         a.simhash AS sa, b.simhash AS sb
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
        |SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY ida, idb""".stripMargin
    }),

    RowDef("x11_dup_clusters", x11DupClusters, Some(
      s"""WITH RECURSIVE pairs AS (
        |  SELECT * FROM (${jaccardPairsCte.replace("%THRESH%", "0.8")}) t),
        |edges AS (SELECT ida AS src, idb AS dst FROM pairs
        |          UNION SELECT idb, ida FROM pairs),
        |reach(node, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst)
        |SELECT node AS doc_id, MIN(label) AS cluster_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // x29: same recursive-CTE component restatement as x11, singleton
    // fill via LEFT JOIN, split = minstd(cluster_id) % 10 (80/10/10);
    // max_cluster_span pinned at 1 IS the no-leakage proof
    RowDef("x29_leakage_split", x29LeakageSplit, Some(
      s"""WITH RECURSIVE pairs AS (
        |  SELECT * FROM (${jaccardPairsCte.replace("%THRESH%", "0.8")}) t),
        |edges AS (SELECT ida AS src, idb AS dst FROM pairs
        |          UNION SELECT idb, ida FROM pairs),
        |reach(node, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst),
        |comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id
        |         FROM reach GROUP BY node),
        |assigned AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |tagged AS (
        |  SELECT doc_id, cluster_id,
        |    CASE WHEN ((cluster_id * 48271) % 2147483647) % 10 <= 7
        |           THEN 'train'
        |         WHEN ((cluster_id * 48271) % 2147483647) % 10 = 8
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM assigned),
        |spans AS (SELECT cluster_id, COUNT(DISTINCT split) AS n_splits,
        |                 COUNT(*) AS cluster_size
        |          FROM tagged GROUP BY cluster_id)
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT t.cluster_id) AS n_clusters,
        |  COUNT(DISTINCT CASE WHEN cluster_size >= 2 THEN t.cluster_id END)
        |    AS n_dup_clusters,
        |  CAST(MAX(n_splits) AS BIGINT) AS max_cluster_span
        |FROM tagged t JOIN spans s USING (cluster_id)
        |GROUP BY split ORDER BY split""".stripMargin)),

    RowDef("x18_incremental_upsert", x18IncrementalUpsert, Some(
      """WITH base AS (
        |  SELECT doc_id, 1 AS rev, text, FALSE AS deleted, 0 AS src
        |  FROM documents),
        |changes AS (
        |  SELECT doc_id, 2 AS rev, 'rev2 ' || text AS text,
        |         (doc_id % 20 = 0) AS deleted, 1 AS src
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 1, 'new ' || text, FALSE, 1
        |  FROM documents WHERE doc_id % 7 = 0),
        |merged AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY rev DESC, src DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM changes))
        |SELECT doc_id, rev, md5(text) AS fp FROM merged
        |WHERE rn = 1 AND NOT deleted
        |ORDER BY doc_id""".stripMargin)),

    RowDef("x7_incremental_dedup", x7IncrementalDedup, Some(
      """WITH inc AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 2 = 0)
        |SELECT doc_id, fp FROM inc
        |WHERE fp NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin)),

    RowDef("x10_corpus_pipeline", x10CorpusPipeline, Some(
      s"""WITH s AS ($langScoreSql),
        |scored AS (
        |  SELECT doc_id, text,
        |    CASE WHEN s_en > 0 AND s_en = GREATEST(s_en,s_fr,s_de,s_es) THEN 'en'
        |         WHEN s_fr > 0 AND s_fr = GREATEST(s_en,s_fr,s_de,s_es) THEN 'fr'
        |         WHEN s_de > 0 AND s_de = GREATEST(s_en,s_fr,s_de,s_es) THEN 'de'
        |         WHEN s_es > 0 AND s_es = GREATEST(s_en,s_fr,s_de,s_es) THEN 'es'
        |         ELSE 'und' END AS lang_detected,
        |    ROUND(LEAST(len(string_split(text,' '))/100.0, 1.0) * 0.6 +
        |      LEAST(CAST(s_en AS DOUBLE)/(len(string_split(text,' ')) + 1.0), 1.0)
        |        * 0.4, 6) AS quality,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM s),
        |filt AS (SELECT * FROM scored
        |         WHERE lang_detected = 'en' AND quality >= 0.3),
        |keep1 AS (SELECT MIN(doc_id) AS doc_id FROM filt GROUP BY fp),
        |f2 AS (SELECT filt.* FROM filt JOIN keep1 USING (doc_id)),
        |pairs AS (SELECT * FROM (${jaccardPairsCte.replace("%THRESH%", "0.8")}) t),
        |drop2 AS (SELECT DISTINCT p.idb AS doc_id FROM pairs p
        |          JOIN f2 a ON a.doc_id = p.ida
        |          JOIN f2 b ON b.doc_id = p.idb)
        |SELECT f2.doc_id, f2.quality,
        |  CASE WHEN ((f2.doc_id * 48271) % 2147483647) % 10 < 8
        |       THEN 'train' ELSE 'eval' END AS split
        |FROM f2 LEFT JOIN drop2 ON f2.doc_id = drop2.doc_id
        |WHERE drop2.doc_id IS NULL
        |ORDER BY f2.doc_id""".stripMargin)),

    // x34: the incremental curation pipeline restated end-to-end —
    // x32's batch construction, x10's scoring/filter/fingerprint
    // formulas, the corpus-fp exact probe, and the capped incremental
    // pair listing (same cap rule and ppm arithmetic as x32, stated
    // over corpus ∪ survivors). minstd split uses the mod-first form
    // (≡ (id·48271) mod M, stays far below BIGINT range for the
    // +5·10¹² batch ids). Shared verbatim by x34b (served from the
    // posting index) — identical verdicts by construction, pinned by
    // IncrementalCurationSpec.
    RowDef("x34_incremental_curation", x34IncrementalCuration,
      Some(incrementalCurationSql)),
    RowDef("x34b_curation_from_index", x34bCurationFromIndex,
      Some(incrementalCurationSql)),
    // x24: four unrolled power iterations with the same integer
    // arithmetic; `//` == DIV on positives, so ranks are bit-identical
    RowDef("x24_pagerank", x24Pagerank, Some {
      val iters = (1 to 4).map { k =>
        s"""|r$k AS (
            |  SELECT n.doc_id,
            |    150000000000000 // s.n + (85 * COALESCE(c.c, 0)) // 100 AS p
            |  FROM nodes n CROSS JOIN stats s
            |  LEFT JOIN (SELECT e.dst, SUM(r.p // 3) AS c
            |             FROM edges e JOIN r${k - 1} r ON r.doc_id = e.src
            |             GROUP BY e.dst) c ON c.dst = n.doc_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH stats AS (SELECT COUNT(*) AS n FROM documents),
         |nodes AS (SELECT doc_id FROM documents),
         |edges AS (
         |  SELECT doc_id AS src, (doc_id*2+1) % s.n AS dst
         |  FROM nodes, stats s
         |  UNION ALL
         |  SELECT doc_id, (doc_id*3+7) % s.n FROM nodes, stats s
         |  UNION ALL
         |  SELECT doc_id, (doc_id*5+13) % s.n FROM nodes, stats s),
         |r0 AS (SELECT doc_id, 1000000000000000 // s.n AS p
         |       FROM nodes, stats s),
         |$iters,
         |indeg AS (SELECT dst, COUNT(*) AS in_deg FROM edges GROUP BY dst)
         |SELECT r.doc_id, CAST(r.p AS BIGINT) AS rank_scaled,
         |       CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
         |FROM r4 r LEFT JOIN indeg i ON i.dst = r.doc_id
         |ORDER BY rank_scaled DESC, doc_id LIMIT 20""".stripMargin
    }),

    // x31: each round restated independently — pair counts via zipped
    // adjacent list slices, the argmax with the same (count DESC, pair
    // string ASC) tie-break, the merge as a list_reduce fold whose
    // "append without separator when the accumulator's last token is
    // the left symbol" rule is exactly BpeMerge's left-to-right
    // non-overlapping semantics (incl. left==right runs:
    // a a a a a -> aa aa a). Backreference is \1 in DuckDB's RE2.
    RowDef("x31_bpe_merges", x31BpeMerges, Some {
      val rounds = (1 to 8).map { k =>
        s"""|p$k AS (
            |  SELECT a || ' ' || b AS pair, SUM(cnt) AS pc FROM (
            |    SELECT cnt, unnest(ss[1:len(ss)-1]) AS a,
            |           unnest(ss[2:len(ss)]) AS b
            |    FROM (SELECT cnt, string_split(sym,' ') AS ss FROM s${k - 1}))
            |  GROUP BY 1),
            |b$k AS (SELECT string_split(pair,' ')[1] AS l,
            |              string_split(pair,' ')[2] AS r, pc
            |       FROM p$k ORDER BY pc DESC, pair LIMIT 1),
            |s$k AS (
            |  SELECT cnt, list_reduce(string_split(sym,' '),
            |    (acc, x) -> CASE WHEN x = bst.r AND (acc = bst.l
            |                       OR ends_with(acc, ' ' || bst.l))
            |                  THEN acc || x ELSE acc || ' ' || x END) AS sym
            |  FROM s${k - 1}, b$k bst)"""
          .stripMargin
      }.mkString(",\n")
      val out = (1 to 8).map { k =>
        s"SELECT $k AS round, l AS left_sym, r AS right_sym, " +
          s"l || r AS merged, CAST(pc AS BIGINT) AS pair_count FROM b$k"
      }.mkString("\nUNION ALL\n")
      s"""WITH words AS (
         |  SELECT w, COUNT(*) AS cnt
         |  FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |  GROUP BY w),
         |s0 AS (SELECT cnt,
         |  rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym FROM words),
         |$rounds
         |SELECT * FROM ($out)
         |ORDER BY round""".stripMargin
    }),

    // x31b: the same 8 learned rounds (w carried through), then the
    // final per-word token count joins the corpus's exploded words —
    // all-integer accounting, one `//` for the ppm
    RowDef("x31b_bpe_encode", x31bBpeEncode, Some {
      val rounds = (1 to 8).map { k =>
        s"""|p$k AS (
            |  SELECT a || ' ' || b AS pair, SUM(cnt) AS pc FROM (
            |    SELECT cnt, unnest(ss[1:len(ss)-1]) AS a,
            |           unnest(ss[2:len(ss)]) AS b
            |    FROM (SELECT cnt, string_split(sym,' ') AS ss FROM s${k - 1}))
            |  GROUP BY 1),
            |b$k AS (SELECT string_split(pair,' ')[1] AS l,
            |              string_split(pair,' ')[2] AS r, pc
            |       FROM p$k ORDER BY pc DESC, pair LIMIT 1),
            |s$k AS (
            |  SELECT w, cnt, list_reduce(string_split(sym,' '),
            |    (acc, x) -> CASE WHEN x = bst.r AND (acc = bst.l
            |                       OR ends_with(acc, ' ' || bst.l))
            |                  THEN acc || x ELSE acc || ' ' || x END) AS sym
            |  FROM s${k - 1}, b$k bst)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH docwords AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')),
         |words AS (SELECT w, COUNT(*) AS cnt FROM docwords GROUP BY w),
         |s0 AS (SELECT w, cnt,
         |  rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym FROM words),
         |$rounds,
         |vocab AS (SELECT w, CAST(len(w) AS BIGINT) AS w_chars,
         |                 CAST(len(string_split(sym,' ')) AS BIGINT) AS w_tok
         |          FROM s8)
         |SELECT d.doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(v.w_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(v.w_tok) AS BIGINT) AS n_bpe_tokens,
         |  CAST(CAST(SUM(v.w_chars) AS BIGINT) * 1000000
         |       // CAST(SUM(v.w_tok) AS BIGINT) AS BIGINT) AS chars_per_token_ppm
         |FROM docwords d JOIN vocab v USING (w)
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // x23: same minstd form as x9; all-integer weights, `//` == DIV on
    // positives, so the kept set and HT weights are bit-identical
    RowDef("x23_weighted_sample", x23WeightedSample, Some(
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CAST(LEAST(999, GREATEST(1, n_chars // 3)) AS BIGINT) AS w_milli
        |  FROM documents)
        |SELECT doc_id, lang, w_milli,
        |       CAST(1000000000 // w_milli AS BIGINT) AS inv_w_micro
        |FROM w
        |WHERE (doc_id * 48271) % 2147483647 % 1000 < w_milli
        |ORDER BY doc_id""".stripMargin)),

    RowDef("x9_hash_sample", x9HashSample, Some(
      """WITH cut AS (
        |  SELECT doc_id, lang, (doc_id * 48271) % 2147483647 AS h
        |  FROM documents
        |  WHERE ((doc_id * 48271) % 2147483647) % 10 = 0)
        |SELECT doc_id, lang, strat_rank FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
        |      AS strat_rank
        |  FROM cut) t
        |WHERE strat_rank <= 20 ORDER BY doc_id""".stripMargin)),

    RowDef("x8_crossbatch_overlap", x8CrossBatchOverlap, Some(
      """WITH inc AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 2 = 0)
        |SELECT doc_id, fp FROM inc
        |WHERE fp IN (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin)),

    // x5b reruns x5's exact contract through the LSH candidate path:
    // identical oracle, identical output — the match IS the recall proof
    RowDef("x5b_ann_lsh_topk", x5bAnnLshTopK, Some(
      """WITH e AS (SELECT vec_id, i, CAST(CAST(x AS DOUBLE) AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding,1) i
        |   FROM embeddings)),
        |seeds AS (SELECT * FROM e WHERE vec_id < 8),
        |dots AS (SELECT s.vec_id qa, e.vec_id vb, SUM(s.v*e.v) dot
        |  FROM seeds s JOIN e ON e.i = s.i AND e.vec_id <> s.vec_id GROUP BY 1,2),
        |norms AS (SELECT vec_id, SUM(v*v) n2 FROM e GROUP BY 1),
        |scored AS (SELECT qa AS query_id, vb AS neighbor_id,
        |  ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id=qa JOIN norms nb ON nb.vec_id=vb)
        |SELECT query_id, neighbor_id, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) rn FROM scored) t
        |WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin)),

    // x5c: k-means cells are data-adaptive (not SQL-reproducible), so
    // the contract is the truth size per query + the recall >= 0.7
    // floor the Spark side computes against its own brute-force set
    RowDef("x5c_ann_ivf_recall", x5cAnnIvfRecall, Some(
      """WITH e AS (SELECT vec_id, i, CAST(CAST(x AS DOUBLE) AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding,1) i
        |   FROM embeddings)),
        |seeds AS (SELECT * FROM e WHERE vec_id < 8),
        |dots AS (SELECT s.vec_id qa, e.vec_id vb, SUM(s.v*e.v) dot
        |  FROM seeds s JOIN e ON e.i = s.i AND e.vec_id <> s.vec_id GROUP BY 1,2),
        |norms AS (SELECT vec_id, SUM(v*v) n2 FROM e GROUP BY 1),
        |scored AS (SELECT qa AS query_id, vb AS neighbor_id,
        |  ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id=qa JOIN norms nb ON nb.vec_id=vb),
        |topk AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) rn FROM scored) t
        |  WHERE rn <= 10)
        |SELECT query_id, COUNT(*) AS n_true, true AS recall_ok
        |FROM topk GROUP BY query_id ORDER BY query_id""".stripMargin)),

    RowDef("x5_ann_cosine_topk", x5AnnCosineTopK, Some(
      """WITH e AS (SELECT vec_id, i, CAST(CAST(x AS DOUBLE) AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding,1) i
        |   FROM embeddings)),
        |seeds AS (SELECT * FROM e WHERE vec_id < 8),
        |dots AS (SELECT s.vec_id qa, e.vec_id vb, SUM(s.v*e.v) dot
        |  FROM seeds s JOIN e ON e.i = s.i AND e.vec_id <> s.vec_id GROUP BY 1,2),
        |norms AS (SELECT vec_id, SUM(v*v) n2 FROM e GROUP BY 1),
        |scored AS (SELECT qa AS query_id, vb AS neighbor_id,
        |  ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id=qa JOIN norms nb ON nb.vec_id=vb)
        |SELECT query_id, neighbor_id, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) rn FROM scored) t
        |WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin)),

    // x6b shares x6's oracle verbatim: the bucketed path must find the
    // identical pair set the exact cartesian finds
    RowDef("x6b_neardup_lsh", x6bNearDupLsh, Some(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id < 200
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> x + 0.001)
        |  FROM embeddings WHERE vec_id < 200),
        |e AS (SELECT vec_id, i, CAST(x AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(emb) x, generate_subscripts(emb,1) i FROM base)),
        |dots AS (SELECT a.vec_id ida, b.vec_id idb, SUM(a.v*b.v) dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1,2),
        |norms AS (SELECT vec_id, SUM(v*v) n2 FROM e GROUP BY 1)
        |SELECT ida, idb, cos FROM (
        |  SELECT ida, idb,
        |    ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id=ida JOIN norms nb ON nb.vec_id=idb) t
        |WHERE cos >= 0.99 ORDER BY ida, idb""".stripMargin)),

    // x36: the exact decimal pair listing over corpus ∪ re-embed
    // batch, restricted to ≥1-new (batch ids top the domain)
    RowDef("x36_incremental_embed_neardup", x36IncrementalEmbedNearDup,
      Some(embedIncrementOracle)),

    // st12: the STREAMED form of the same recurrence — trigger 1's
    // emitted pairs are exactly x36's restricted listing (the corpus
    // streamed as trigger 0; candidates from the accumulated bucket
    // deltas; identical quantized-decimal rerank) — oracle shared
    RowDef("st12_stream_embed", st12StreamEmbed, Some(embedIncrementOracle)),

    RowDef("x6_embedding_neardup", x6EmbeddingNearDup, Some(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id < 200
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> x + 0.001)
        |  FROM embeddings WHERE vec_id < 200),
        |e AS (SELECT vec_id, i, CAST(x AS DECIMAL(9,6)) v FROM
        |  (SELECT vec_id, unnest(emb) x, generate_subscripts(emb,1) i FROM base)),
        |dots AS (SELECT a.vec_id ida, b.vec_id idb, SUM(a.v*b.v) dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1,2),
        |norms AS (SELECT vec_id, SUM(v*v) n2 FROM e GROUP BY 1)
        |SELECT ida, idb, cos FROM (
        |  SELECT ida, idb,
        |    ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id=ida JOIN norms nb ON nb.vec_id=idb) t
        |WHERE cos >= 0.99 ORDER BY ida, idb""".stripMargin)),

    RowDef("t6_pii_scrub", t6PiiScrub, Some(
      """WITH withpii AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |         WHEN doc_id % 3 = 1 THEN
        |           text || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(
        |   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS scrubbed_md5
        |FROM withpii ORDER BY doc_id""".stripMargin)),

    RowDef("t7_chunking", t7Chunking, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, CAST(k AS INT) AS chunk_id,
        |        ws[CAST(k*24+1 AS BIGINT) : CAST(k*24+32 AS BIGINT)] AS ch
        |      FROM w, unnest(range(0, greatest(len(ws)-1, 0)//24 + 1)) t(k))
        |SELECT doc_id, chunk_id,
        | CAST(len(ch) AS BIGINT) AS n_words,
        | md5(array_to_string(ch, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    RowDef("x12_boilerplate_ngrams", x12BoilerplateNgrams, Some(
      """WITH words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM documents)),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS gram
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2)
        |SELECT gram, COUNT(*) AS doc_freq FROM sh
        |GROUP BY gram HAVING COUNT(*) >= 5 ORDER BY gram""".stripMargin)),

    RowDef("x13_decontaminate", x13Decontaminate, Some(x13OracleSql)),

    // identical contract: the Bloom prefilter is result-invisible
    RowDef("x13b_decontaminate_bloom", x13bDecontaminateBloom,
      Some(x13OracleSql)),

    RowDef("t8_quality_signals", t8QualitySignals, Some(
      """WITH words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM documents)),
        |wstats AS (
        |  SELECT doc_id, COUNT(*) AS n,
        |         SUM(CASE WHEN length(w) > 7 THEN 1 ELSE 0 END) AS n_long
        |  FROM words GROUP BY doc_id),
        |p2 AS (
        |  SELECT a.doc_id, COUNT(DISTINCT a.w || ' ' || b.w) AS d2, COUNT(*) AS t2
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |  GROUP BY a.doc_id),
        |p3 AS (
        |  SELECT a.doc_id, COUNT(DISTINCT a.w || ' ' || b.w || ' ' || c.w) AS d3,
        |         COUNT(*) AS t3
        |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2
        |  GROUP BY a.doc_id)
        |SELECT d.doc_id,
        | ROUND(CAST(length(d.text) - w.n + 1 AS DOUBLE) / w.n, 6) AS mean_word_len,
        | ROUND(CAST(w.n_long AS DOUBLE) / w.n, 6) AS frac_long_words,
        | CASE WHEN w.n > 1 THEN ROUND(1.0 - CAST(p2.d2 AS DOUBLE)/p2.t2, 6)
        |      ELSE 0.0 END AS rep_2gram,
        | CASE WHEN w.n > 2 THEN ROUND(1.0 - CAST(p3.d3 AS DOUBLE)/p3.t3, 6)
        |      ELSE 0.0 END AS rep_3gram
        |FROM documents d
        |JOIN wstats w ON w.doc_id = d.doc_id
        |LEFT JOIN p2 ON p2.doc_id = d.doc_id
        |LEFT JOIN p3 ON p3.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    RowDef("x14_vocab_encode", x14VocabEncode, Some(
      """WITH words AS (
        |  SELECT doc_id, i, w FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |           generate_subscripts(string_split(text,' '),1) AS i
        |    FROM documents)),
        |counts AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
        |vocab AS (
        |  SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS INT) AS id
        |  FROM counts QUALIFY id <= 30),
        |enc AS (SELECT doc_id, i, COALESCE(v.id, 0) AS id
        |        FROM words LEFT JOIN vocab v USING (w))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        | md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY i)) AS ids_md5
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    RowDef("x17_cluster_canonical", x17ClusterCanonical, Some(
      s"""WITH RECURSIVE pairs AS (
        |  SELECT * FROM (${jaccardPairsCte.replace("%THRESH%", "0.8")}) t),
        |edges AS (SELECT ida AS src, idb AS dst FROM pairs
        |          UNION SELECT idb, ida FROM pairs),
        |reach(node, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst),
        |clusters AS (
        |  SELECT node AS doc_id, MIN(label) AS cluster_id
        |  FROM reach GROUP BY node),
        |toks AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 4096 AS feat
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |q AS (
        |  SELECT doc_id,
        |         CAST(SUM(((feat * 48271) % 2147483647) % 2001 - 1000)
        |              AS BIGINT) AS sum_milli
        |  FROM toks GROUP BY doc_id),
        |ranked AS (
        |  SELECT c.cluster_id, c.doc_id, q.sum_milli,
        |         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
        |           ORDER BY q.sum_milli DESC, c.doc_id ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
        |  FROM clusters c JOIN q USING (doc_id))
        |SELECT cluster_id, doc_id AS kept_doc_id,
        |       sum_milli AS kept_quality_milli,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    RowDef("st5_stream_enrich", st5StreamEnrich, Some(
      """SELECT CAST(COALESCE(c.c_nationkey, -1) AS BIGINT) AS nation,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE)
        |   AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY nation""".stripMargin)),

    RowDef("st4_stream_curate", st4StreamCurate, Some(
      s"""WITH s AS ($langScoreSql),
        |scored AS (
        |  SELECT doc_id,
        |    ROUND(LEAST(len(string_split(text,' '))/100.0, 1.0) * 0.6 +
        |      LEAST(CAST(s_en AS DOUBLE)/(len(string_split(text,' ')) + 1.0), 1.0)
        |        * 0.4, 6) AS q,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM s),
        |filt AS (SELECT * FROM scored WHERE q >= 0.3)
        |SELECT MIN(doc_id) AS doc_id, fp, COUNT(*) AS n_dups
        |FROM filt GROUP BY fp ORDER BY doc_id""".stripMargin)),

    RowDef("t9_quality_classifier", t9QualityClassifier, Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 4096 AS feat
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |wts AS (
        |  SELECT doc_id,
        |         ((feat * 48271) % 2147483647) % 2001 - 1000 AS wm
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(wm) AS BIGINT) AS sum_milli
        |  FROM wts GROUP BY doc_id)
        |SELECT doc_id, n_tok,
        |       (sum_milli * 1000 + n_tok * 10000000) // n_tok - 10000000
        |         AS score_micro,
        |       CAST(CASE WHEN sum_milli > 0 THEN 1 ELSE 0 END AS INT) AS label
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // t11: all-integer BM25 — HUGEINT products stay exact (≤ ~1e21),
    // `//` on positives == Spark's DIV on DECIMAL(38,0)
    RowDef("t11_bm25_topk", t11Bm25TopK, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+'))
        |    AS term FROM documents),
        |tokf AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total
        |          FROM dl),
        |qtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokf
        |        WHERE term IN ('spark','join','window','stream','hash')
        |        GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
        |scored AS (
        |  SELECT q.doc_id,
        |    CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
        |          * CAST(44*q.tf AS HUGEINT)
        |          * CAST(s.total AS HUGEINT) * CAST(1000000 AS HUGEINT))
        |      // (CAST(2*f.df + 1 AS HUGEINT)
        |          * (CAST(20 AS HUGEINT)*CAST(s.total AS HUGEINT)*CAST(q.tf AS HUGEINT)
        |             + CAST(6 AS HUGEINT)*CAST(s.total AS HUGEINT)
        |             + CAST(18 AS HUGEINT)*CAST(d.dl AS HUGEINT)*CAST(s.n_docs AS HUGEINT)))
        |      AS BIGINT) AS score_micro
        |  FROM qtf q JOIN df f USING (term) JOIN dl d USING (doc_id)
        |  CROSS JOIN stats s)
        |SELECT doc_id, COUNT(*) AS terms_hit,
        |       CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin)),

    // x25: the oracle is the plain exact computation — the Spark side
    // must reproduce it through the sketch-then-verify two-pass plan
    RowDef("x25_heavy_hitters", x25HeavyHitters, Some(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |t AS (SELECT term FROM tok WHERE term <> ''),
        |n AS (SELECT COUNT(*) AS total FROM t),
        |c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term)
        |SELECT c.term, c.cnt,
        |       CAST(c.cnt * 1000000 // n.total AS BIGINT) AS share_ppm
        |FROM c, n WHERE c.cnt * 50 >= n.total
        |ORDER BY c.cnt DESC, c.term""".stripMargin)),

    // st6 shares x25's oracle verbatim: the union of per-shard MG(64)
    // candidate sets (the streaming state layout) must admit exactly
    // the single-sketch batch answer after the exact recount —
    // undercount ≤ total/65 < threshold total/50 guarantees recall.
    RowDef("st6_heavy_hitters", st6HeavyHittersBatch, Some(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |t AS (SELECT term FROM tok WHERE term <> ''),
        |n AS (SELECT COUNT(*) AS total FROM t),
        |c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term)
        |SELECT c.term, c.cnt,
        |       CAST(c.cnt * 1000000 // n.total AS BIGINT) AS share_ppm
        |FROM c, n WHERE c.cnt * 50 >= n.total
        |ORDER BY c.cnt DESC, c.term""".stripMargin)),

    RowDef("t12_tfidf_keywords", t12TfidfKeywords, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+'))
        |    AS term FROM documents),
        |tokf AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokf
        |       GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tokf),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf,
        |    CAST(CAST(t.tf AS HUGEINT) * CAST(n.n_docs AS HUGEINT)
        |         * CAST(1000000 AS HUGEINT) // CAST(f.df AS HUGEINT)
        |      AS BIGINT) AS score_micro
        |  FROM tf t JOIN df f USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, score_micro,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_micro DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, score_micro FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // x28: clean-room canonical construction (as x26) → per-domain
    // minstd-ordered rank → 50-URL cap
    RowDef("x28_domain_budget", x28DomainBudget, Some(
      """WITH c AS (
        |  SELECT o_orderkey AS k,
        |    (CASE WHEN o_orderkey % 4 >= 2 THEN 'https' ELSE 'http' END)
        |      || '://www.example' || CAST(o_orderkey % 7 AS VARCHAR)
        |      || '.com/catalog/item-' || CAST(o_orderkey % 13 AS VARCHAR)
        |      || '?id=' || CAST(o_orderkey % 11 AS VARCHAR) || '&ref=mail'
        |      AS canonical_url,
        |    'example' || CAST(o_orderkey % 7 AS VARCHAR) || '.com'
        |      AS reg_domain
        |  FROM orders),
        |g AS (SELECT canonical_url, reg_domain, COUNT(*) AS n_raw,
        |        MIN(k) AS min_key
        |      FROM c GROUP BY canonical_url, reg_domain),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY reg_domain
        |          ORDER BY (min_key * 48271) % 2147483647, canonical_url) AS rn
        |      FROM g)
        |SELECT reg_domain, COUNT(*) AS n_urls,
        | CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        | CAST(SUM(CASE WHEN rn <= 50 THEN n_raw ELSE 0 END) AS BIGINT) AS admitted_raw,
        | CAST(SUM(n_raw) AS BIGINT) AS total_raw
        |FROM r GROUP BY reg_domain ORDER BY reg_domain""".stripMargin)),

    RowDef("t13_token_rarity", t13TokenRarity, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+'))
        |    AS term FROM documents),
        |tokf AS (SELECT doc_id, term FROM tok
        |         WHERE term <> '' AND length(term) <= 64),
        |vocab AS (SELECT term, COUNT(*) AS cnt FROM tokf GROUP BY term),
        |n AS (SELECT COUNT(*) AS total FROM tokf),
        |scored AS (
        |  SELECT t.doc_id,
        |    CAST(v.cnt * 1000000 // n.total AS BIGINT) AS share_ppm,
        |    CASE WHEN v.cnt * 200 < n.total THEN 1 ELSE 0 END AS is_rare
        |  FROM tokf t JOIN vocab v USING (term) CROSS JOIN n)
        |SELECT doc_id, COUNT(*) AS n_tok,
        | CAST(SUM(share_ppm) // COUNT(*) AS BIGINT) AS mean_share_ppm,
        | CAST(SUM(is_rare) AS BIGINT) AS n_rare
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    RowDef("t14_bigram_lm", t14BigramLm, Some(
      """WITH tok0 AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term,
        |    generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1)
        |      AS i
        |  FROM documents),
        |tokf AS (SELECT doc_id, term, i FROM tok0
        |         WHERE term <> '' AND length(term) <= 64),
        |big AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, term AS w1,
        |           lead(term) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        |    FROM tokf) WHERE w2 IS NOT NULL),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        |bi  AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |scored AS (
        |  SELECT g.doc_id,
        |    CAST(b.c12 * 1000000 // u.c1 AS BIGINT) AS cond_ppm,
        |    CASE WHEN b.c12 = 1 THEN 1 ELSE 0 END AS is_novel
        |  FROM big g JOIN bi b USING (w1, w2) JOIN uni u USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        | CAST(SUM(cond_ppm) // COUNT(*) AS BIGINT) AS mean_cond_ppm,
        | CAST(SUM(is_novel) AS BIGINT) AS n_novel
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // x26: the oracle never parses anything — it states the canonical
    // URL straight from the key arithmetic; Spark must recover the
    // identical string from the messy variant
    RowDef("x26_url_canonical", x26UrlCanonical, Some(
      """WITH c AS (
        |  SELECT o_orderkey AS k,
        |    (CASE WHEN o_orderkey % 4 >= 2 THEN 'https' ELSE 'http' END)
        |      || '://www.example' || CAST(o_orderkey % 7 AS VARCHAR)
        |      || '.com/catalog/item-' || CAST(o_orderkey % 13 AS VARCHAR)
        |      || '?id=' || CAST(o_orderkey % 11 AS VARCHAR) || '&ref=mail'
        |      AS canonical_url,
        |    'example' || CAST(o_orderkey % 7 AS VARCHAR) || '.com'
        |      AS reg_domain
        |  FROM orders)
        |SELECT canonical_url, reg_domain, COUNT(*) AS n_raw,
        |       MIN(k) AS min_key
        |FROM c GROUP BY canonical_url, reg_domain
        |ORDER BY canonical_url""".stripMargin)),

    // x15's oracle states the packing offsets as the naive global
    // window; the Spark side must reproduce them from the distributed
    // two-pass prefix scan — same numbers, cluster-safe plan.
    RowDef("x15_sequence_pack", x15SequencePack, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tok,
        |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS start_off
        |  FROM t)
        |SELECT doc_id, n_tok, start_off,
        |       CAST(start_off // 256 AS BIGINT) AS first_seq,
        |       CAST((start_off + n_tok - 1) // 256 AS BIGINT) AS last_seq,
        |       CAST((start_off + n_tok - 1) // 256 - start_off // 256 + 1
        |            AS BIGINT) AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin)),

    RowDef("x16_mixture_upsample", x16MixtureUpsample, Some(
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1
        |                   WHEN 'es' THEN 1 WHEN 'fr' THEN 2
        |                   WHEN 'zh' THEN 2 ELSE 1 END
        |      + CASE WHEN ((doc_id * 48271) % 2147483647) % 1000 <
        |               CASE lang WHEN 'en' THEN 400 WHEN 'es' THEN 700
        |                         WHEN 'zh' THEN 500 ELSE 0 END
        |             THEN 1 ELSE 0 END AS BIGINT) AS repeats
        |  FROM documents)
        |SELECT doc_id, lang, repeats,
        |       unnest(generate_series(1, repeats)) AS copy_idx
        |FROM r WHERE repeats > 0
        |ORDER BY doc_id, copy_idx""".stripMargin)),

    RowDef("t1_text_stats", t1TextStats, Some(
      s"""SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars_measured,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        | CAST(len(regexp_extract_all(text,'${TextAnalysis.BpeIshPattern}')) AS BIGINT) AS n_tokens,
        | ROUND(LEAST(len(string_split(text,' '))/100.0, 1.0) * 0.6 +
        |   LEAST(((length(' '||text||' ')-length(replace(' '||text||' ',' the ','')))/5
        |        + (length(' '||text||' ')-length(replace(' '||text||' ',' a ','')))/3
        |        + (length(' '||text||' ')-length(replace(' '||text||' ',' of ','')))/4
        |        + (length(' '||text||' ')-length(replace(' '||text||' ',' and ','')))/5)
        |      / (len(string_split(text,' ')) + 1.0), 1.0) * 0.4, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),

    RowDef("t2_langid", t2LangId, Some(
      s"""WITH s AS ($langScoreSql)
        |SELECT doc_id,
        | CASE WHEN s_en > 0 AND s_en = GREATEST(s_en,s_fr,s_de,s_es) THEN 'en'
        |      WHEN s_fr > 0 AND s_fr = GREATEST(s_en,s_fr,s_de,s_es) THEN 'fr'
        |      WHEN s_de > 0 AND s_de = GREATEST(s_en,s_fr,s_de,s_es) THEN 'de'
        |      WHEN s_es > 0 AND s_es = GREATEST(s_en,s_fr,s_de,s_es) THEN 'es'
        |      ELSE 'und' END AS lang_detected,
        | CASE WHEN g_en > 0 AND g_en = GREATEST(g_en,g_fr,g_de,g_es) THEN 'en'
        |      WHEN g_fr > 0 AND g_fr = GREATEST(g_en,g_fr,g_de,g_es) THEN 'fr'
        |      WHEN g_de > 0 AND g_de = GREATEST(g_en,g_fr,g_de,g_es) THEN 'de'
        |      WHEN g_es > 0 AND g_es = GREATEST(g_en,g_fr,g_de,g_es) THEN 'es'
        |      ELSE 'und' END AS lang_detected_ngram,
        | s_en AS en_score, lang AS lang_declared
        |FROM s ORDER BY doc_id""".stripMargin)),

    RowDef("t3_fingerprint", t3Fingerprint, Some(
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // m1b: decoded width/height/pixel-sum restated in closed form from
    // doc_id (syntheticPng's pixel formula) — pure arithmetic, no codec
    RowDef("m1b_image_decode", m1bImageDecode, Some(
      """WITH wx AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(doc_id % 8 AS BIGINT))) AS x
        |  FROM documents),
        |wxy AS (
        |  SELECT doc_id, x,
        |    unnest(generate_series(0, CAST(doc_id % 6 AS BIGINT))) AS y
        |  FROM wx)
        |SELECT doc_id,
        | CAST(1 + doc_id % 8 AS INT) AS width,
        | CAST(1 + doc_id % 6 AS INT) AS height,
        | CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS pix_sum
        |FROM wxy GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // m3b: the decoded frame set restated in closed form from
    // (doc_id, frame_idx): frames 0..doc_id%3, stride 2 keeps the even
    // ones, frame f's pixels follow syntheticPng(doc_id*16+f)'s formula
    // (scalar unnest(generate_series) — DuckDB's table-function form
    // can't take lateral parameters, see CLAUDE.md)
    RowDef("m3b_video_decode", m3bVideoDecode, Some(
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS fi
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, fi, doc_id*16 + fi AS fid FROM f
        |  WHERE fi % 2 = 0),
        |wx AS (
        |  SELECT doc_id, fi, fid,
        |    unnest(generate_series(0, CAST(fid % 8 AS BIGINT))) AS x
        |  FROM k),
        |wxy AS (
        |  SELECT doc_id, fi, fid, x,
        |    unnest(generate_series(0, CAST(fid % 6 AS BIGINT))) AS y
        |  FROM wx)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        | CAST(1 + fid % 8 AS INT) AS width,
        | CAST(1 + fid % 6 AS INT) AS height,
        | CAST(SUM((fid*31 + x*7 + y*13) % 256) AS BIGINT) AS pix_sum
        |FROM wxy GROUP BY doc_id, fi, fid
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // m4: decoded sample count/sum/rate restated in closed form from
    // doc_id (syntheticWav's PCM formula) — pure arithmetic, no codec
    // (scalar unnest(generate_series): the table-function form can't
    // take lateral parameters, see CLAUDE.md)
    RowDef("m4_audio_decode", m4AudioDecode, Some(
      """WITH sm AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(39 + doc_id % 23 AS BIGINT))) AS i
        |  FROM documents)
        |SELECT doc_id,
        | CAST(40 + doc_id % 23 AS BIGINT) AS n_samples,
        | CAST(SUM((doc_id*31 + i*7) % 2001 - 1000) AS BIGINT) AS sample_sum,
        | CAST(8000 AS INT) AS sample_rate
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    RowDef("m1_multimodal_stub", m1MultimodalStub, Some(
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha256_hex,
        | CAST(GREATEST(CAST(FLOOR((octet_length(encode(text))-16)/64.0) AS BIGINT), 0) + 1 AS BIGINT) AS n_frames,
        | CAST(LEAST(octet_length(encode(text)), 256) AS BIGINT) AS n_resized_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // m3: every frame's byte range + slice hash restated from the text
    // column (ASCII fixture ⇒ char offsets == byte offsets, the same
    // equivalence m1's sha256 oracle already relies on)
    RowDef("m3_frame_manifest", m3FrameManifest, Some(
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      GREATEST(CAST(FLOOR((octet_length(encode(text))-16)/64.0)
        |                    AS BIGINT), 0))) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i*64 AS BIGINT) AS byte_off,
        |  CAST(16 AS BIGINT) AS frame_len,
        |  CAST(i*2560 AS BIGINT) AS pts_ms,
        |  md5(substr(text, CAST(i*64+1 AS INT), 16)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // m2b shares m2's integrity oracle: batching payloads into few
    // parquet files must lose nothing vs one file per row
    RowDef("m2b_batched_ingest", m2bBatchedIngest, Some(
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha256_hex
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // per-copy key domain (id // 1e8 picks the MakeScale copy): at the
    // base corpus this is exactly the old `% 997` fixture; on replicas
    // each copy reproduces it in a disjoint key range so the hot key
    // stays fixed-multiplicity per copy (linear, not quadratic, in N)
    RowDef("j6b_skew_salted", j6bSkewSalted, Some(
      """WITH probe AS (
        |  SELECT (l_orderkey // 100000000) * 997 +
        |         CASE WHEN (l_orderkey % 100000000) % 10 < 4 THEN 0
        |              ELSE (l_orderkey % 100000000) % 997 END AS k,
        |         CAST(l_quantity AS DECIMAL(18,4)) AS qty
        |  FROM lineitem),
        |build AS (
        |  SELECT (o_orderkey // 100000000) * 997 +
        |         (o_orderkey % 100000000) % 997 AS k, o_orderkey
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT k, COUNT(*) AS n_pairs,
        | CAST(ROUND(SUM(qty), 2) AS DOUBLE) AS sum_qty
        |FROM probe JOIN build USING (k)
        |GROUP BY k ORDER BY k""".stripMargin)),

    RowDef("m2_binaryfile_ingest", m2BinaryFileIngest, Some(
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha256_hex
        |FROM documents ORDER BY doc_id""".stripMargin)),

    RowDef("t4_json_props", t4JsonProps, Some(
      """SELECT k_bucket, event_type, COUNT(*) AS n,
        |       CAST(SUM(k) AS BIGINT) AS sum_k FROM (
        | SELECT event_type,
        |   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |   CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
        | FROM events) t
        |GROUP BY k_bucket, event_type
        |ORDER BY k_bucket, event_type""".stripMargin)),

    RowDef("st2_sessionize", st2Sessionize, Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |                       OR us - lag(us) OVER w > 43200000000 THEN 1
        |                     ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_seq FROM m)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | MIN(us) AS session_start_us, MAX(us) AS session_end_us,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin)),

    RowDef("st7_stream_budget", st7BudgetTwin, Some(
      """WITH e AS (SELECT event_type AS key, event_id AS doc_id,
        |        CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS n_tok,
        |        ts FROM events),
        |c AS (SELECT *,
        |        SUM(n_tok) OVER (PARTITION BY key ORDER BY ts, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |      FROM e)
        |SELECT key, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN cum_tok <= 50000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        | CAST(SUM(CASE WHEN cum_tok <= 50000000 THEN n_tok ELSE 0 END) AS BIGINT) AS admitted_tok,
        | CAST(MAX(cum_tok) AS BIGINT) AS total_tok
        |FROM c GROUP BY key ORDER BY key""".stripMargin)),

    RowDef("st1_event_window", st1EventWindow, Some(
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
        | event_type, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    // st10: the streamed per-trigger cluster folds must compose to the
    // from-scratch map of the whole corpus (ST8's exactly-once pair
    // identity + ST10's fold ≡ rebuild) — x11's recursive-CTE
    // components over the integer-ppm ≥ 0.8 gate every streamed pair
    // was admitted under
    RowDef("st10_stream_clusters", st10StreamClusters,
      Some(streamClustersOracle)),

    // st11: the SEEDED stream's composed view covers the whole corpus
    // too — the snapshot layers carry the pre-stream two thirds, the
    // live trigger folds the rest — so the very same from-scratch
    // rebuild is the oracle (seeded ≡ streamed-from-scratch ≡ rebuild)
    RowDef("st11_bootstrap_stream", st11BootstrapStream,
      Some(streamClustersOracle)),

    // bench-only rows (no oracle). x4's xxhash64 token hash has no
    // DuckDB equivalent: its correctness signal is DedupSpec's parity
    // assertion against exact Jaccard plus the fully oracle-matched x4b
    // twin (identical banding/Hamming logic, portable md5 hash)
    RowDef("x4_dedup_simhash", x4Simhash, None),
    RowDef("a4b_quantile_sketch", CoreQueries.a4bQuantileSketch, None),
    // native 100 TB paths of the exact-decimal oracle forms — benched
    // as themselves, pinned to the oracle forms by NativeTwinSpec
    // (float-vs-DECIMAL(9,6) cosine differs in the 6th decimal, so a
    // bit-identical SQL oracle cannot exist for these)
    RowDef("x5n_ann_lsh_native", x5nAnnLshNative, None),
    RowDef("x6n_neardup_native", x6nNearDupNative, None),
    RowDef("x22b_topic_native", x22bTopicBalanceNative, None),
    RowDef("x22c_topic_sharded", x22cTopicBalanceSharded, None),
    RowDef("x22d_topic_fitted", x22dTopicFitted, None),
    // artifact BUILD costs, memo bypassed (see x31fBpeFit doc)
    RowDef("x31f_bpe_fit", x31fBpeFit, None),
    RowDef("x5cf_ivf_fit", x5cfIvfFit, None),
    RowDef("x22df_topic_fit", x22dfTopicFit, None),
    // x32's full-recompute baseline: same rows, Σdf² pair stage over
    // the whole union — bench history tracks the incremental win
    RowDef("x32f_union_recompute", x32fUnionRecompute, None),
    // posting-index build cost (x33 serves from the memo/table)
    RowDef("x33b_index_build", x33bIndexBuild, None),
    // LSH signature/set artifact build cost (x35b serves from the memo)
    RowDef("x35f_lsh_sigset_build", x35fLshSigsetBuild, None),
    // corpus fp-set build cost (x34b serves from the memo/table)
    RowDef("x34f_fp_build", x34fFpBuild, None),
    // the vector recurrence at ~1M vectors: artifact serve vs build
    RowDef("x36s_embstress_serve", x36sEmbStressServe, None),
    RowDef("x36sf_embstress_build", x36sfEmbStressBuild, None),
  )

  /** The exact DECIMAL(9,6) pair listing over corpus ∪ re-embed batch
    * restricted to ≥1-new (batch ids top the domain) — shared by the
    * batch recurrence (x36) and its streamed twin (st12): the stream's
    * trigger-1 emissions must equal the batch serve verbatim. */
  private def embedIncrementOracle: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id < 200
      |  UNION ALL
      |  SELECT vec_id + 1000000, list_transform(embedding, x -> x + 0.001)
      |  FROM embeddings WHERE vec_id < 200 AND vec_id % 3 = 1),
      |e AS (SELECT vec_id, i, CAST(x AS DECIMAL(9,6)) v FROM
      |  (SELECT vec_id, unnest(emb) x, generate_subscripts(emb,1) i FROM base)),
      |dots AS (SELECT a.vec_id ida, b.vec_id idb, SUM(a.v*b.v) dot
      |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      |  WHERE b.vec_id >= 1000000 GROUP BY 1,2),
      |norms AS (SELECT vec_id, SUM(v*v) n2 FROM e GROUP BY 1)
      |SELECT ida, idb, cos FROM (
      |  SELECT ida, idb,
      |    ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na.n2 AS DOUBLE))*SQRT(CAST(nb.n2 AS DOUBLE))),6) AS cos
      |  FROM dots JOIN norms na ON na.vec_id=ida JOIN norms nb ON nb.vec_id=idb) t
      |WHERE cos >= 0.99 ORDER BY ida, idb""".stripMargin

  /** The from-scratch cluster-map rebuild (x11's recursive-CTE
    * components over the integer-ppm ≥ 0.8 pair gate) — the shared
    * oracle for every streaming cluster-maintenance row: st10's
    * per-trigger folds and st11's seeded-then-folded view must both
    * compose to exactly this map. */
  private def streamClustersOracle: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, w, i FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |           generate_subscripts(string_split(text,' '),1) AS i
      |    FROM documents)
      |), sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM words a JOIN words b ON b.doc_id=a.doc_id AND b.i=a.i+1
      |               JOIN words c ON c.doc_id=a.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |pairs AS (
      |  SELECT ida, idb
      |  FROM inter JOIN sizes sa ON sa.doc_id=ida
      |             JOIN sizes sb ON sb.doc_id=idb
      |  WHERE c*1000000 >= 800000*(sa.n+sb.n-c)),
      |edges AS (SELECT ida AS src, idb AS dst FROM pairs
      |          UNION SELECT idb, ida FROM pairs),
      |reach(node, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst)
      |SELECT node AS doc_id, MIN(label) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** The memoized artifacts' BUILD cost as first-class bench rows: the
    * serving queries (x31, x5c, x22d) hit the session memo after their
    * first run, so BENCH history records memo-lookup cost (~0.06 s)
    * and a fit regression would hide in one-off timing notes. These rows
    * bypass the memo and run the un-memoized fit/learn entry points
    * with the exact parameters the serving queries use. benchOnly:
    * k-means centroids aren't SQL-portable, and the BPE table already
    * carries its oracle row through x31. */
  def x31fBpeFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    buildBpeMerges(s, d).toDF("round", "left_sym", "right_sym", "merged",
      "pair_count").orderBy("round")
  }

  def x5cfIvfFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val model = Similarity.fitCodebook(emb, "vec_id", "embedding",
      nLists = 8, seed = 42L, trainFraction = 10)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.sum) }.toSeq
      .toDF("cluster_id", "center_mass").orderBy("cluster_id")
  }

  def x22dfTopicFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.wide(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
    val model = Similarity.fitCodebook(emb, "vec_id", "embedding",
      nLists = 16, seed = 42L, trainFraction = 10)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.sum) }.toSeq
      .toDF("cluster_id", "center_mass").orderBy("cluster_id")
  }
}
