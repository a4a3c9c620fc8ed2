package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design (the point of each variant):
  *  - [[exactKeepFirst]]: one hash aggregation, fully distributed; the
  *    dedup key can be a 64-bit fingerprint to cut shuffle width.
  *  - [[ngramJaccardPairs]]: exact pairwise Jaccard via a shingle
  *    equi-join — quadratic only within shingle buckets; the standard
  *    posting-list formulation, shuffle keyed on shingle.
  *  - [[minhashLshPairs]]: the 100 TB path — fixed-width signatures
  *    (one aggregation), banding (b×r) so only probable dups ever meet
  *    in a shuffle bucket, then exact verification on candidates only.
  *  - [[simhash64]] + [[simhashNearDups]]: constant-size sketch; the
  *    4×16-bit pigeonhole banding finds all pairs within Hamming
  *    distance 3 without an all-pairs comparison.
  */
object Dedup {

  /** Stop-shingle cap policy for the co-shingle pair stage. The pair
    * stage costs Σ df² over shingle doc frequencies — quadratic under
    * heavy boilerplate — so production corpora drop the longest
    * posting lists before pairing.
    *
    *  - [[DfCap.NoCap]]: exact listing (the oracle-device forms).
    *  - [[DfCap.Fixed]]: an absolute df ceiling (stress knobs).
    *  - [[DfCap.AdaptiveAvg]]: `cap = mult × ⌊Σdf / #distinct
    *    shingles⌋` computed FROM the posting lists — the boilerplate
    *    stop-gram rule stated relative to corpus density, which is the
    *    form that stays non-trivial at every scale. A fixed small cap
    *    tuned on one SF silently degenerates on denser corpora: this
    *    corpus' shingle dfs are ~2.7× higher at sf0.1 than sf0.01, so
    *    the round-9 caps (3/4/5) kept their sf0.01 rows but emptied
    *    the capped pair set at sf0.1 and every replica. The adaptive
    *    rule reproduces cap=3 at sf0.01 (x2b's 21 rows unchanged) and
    *    yields ~19 at sf0.1 — still dropping the heavy tail that
    *    drives Σ df², never the informative shingles. Integer
    *    arithmetic end to end, so a SQL oracle restates it exactly. */
  sealed trait DfCap
  object DfCap {
    case object NoCap extends DfCap
    final case class Fixed(maxDf: Int) extends DfCap
    final case class AdaptiveAvg(mult: Int = 2) extends DfCap

    /** [[Fixed]] with BOUNDED aggregation state: the posting list is
      * collected through [[graft.functions.CappedCollectAgg]], which
      * stops retaining values the moment a key passes the cap, so the
      * hottest shingle costs `cap + 1` longs of state instead of df
      * longs. Same kept set as [[Fixed]] (CappedCollectSpec pins it);
      * the knob for corpora whose df distribution has a pathological
      * head — see the measured trade at [[applyCap]]. */
    final case class FixedBounded(maxDf: Int) extends DfCap

    /** [[AdaptiveAvg]]'s density-relative rule with [[FixedBounded]]'s
      * state bound: a count-only first pass over the postings computes
      * the identical integer cap (`mult × ⌊Σdf / #distinct shingles⌋`
      * — per-shingle COUNTs, O(1) state per key, no list ever built),
      * a 1-row driver action reads it, and the bounded collector runs
      * at that cap. Costs one extra aggregation of the postings (the
      * shingling recomputes — same class as Packing's offset collect),
      * buys a hard per-key state bound at EVERY stage; produces
      * [[AdaptiveAvg]]'s exact row set, so x2b's oracle restates it
      * verbatim (x2c). */
    final case class AdaptiveBounded(mult: Int = 2) extends DfCap
  }

  /** Apply a [[DfCap]] to per-shingle posting lists (`_lst`). The
    * adaptive cap is one tiny 1-row aggregate broadcast-joined back
    * (integer math, oracle-restatable).
    *
    * MEASURED TRADE (round 10, both shapes at the mutated 125×
    * replica): filtering the BUILT lists is the right shape here. The
    * alternative — a df pre-filter join dropping over-cap postings
    * before `collect_list` — reads as better hygiene (aggregate state
    * bounded by the cap instead of the raw df) but costs a full
    * extra sort-merge join of the postings to drop the ~2% of
    * shingles the cap rejects: x2b 22.0 s → 42.5 s at 125×, +0.5-1 s
    * per query at sf0.1, with NO observed memory win (x27b variance
    * unchanged — it is volume/GC, not per-key state). The list
    * filter's real state bound is also smaller than it looks:
    * `collect_list` runs as ObjectHashAggregate with sort-based
    * fallback, where only ONE key's list is materialized at a time —
    * the hazard is a SINGLE shingle with df ~10⁸ (≈ GB-scale list),
    * i.e. pathological boilerplate on a web corpus. The knob for that
    * profile is [[DfCap.FixedBounded]]/[[DfCap.AdaptiveBounded]]: the
    * size-capped collect aggregator (state bounded at cap+1, no extra
    * join — [[graft.functions.CappedCollectAgg]], same row set, x2c's
    * oracle row). MEASURED: +0.5 s at sf0.1 (count pre-pass + typed
    * UDAF vs codegen'd collect_list) but FASTER at the 125×m replica
    * under the tight 2× Jaccard cap (24.2 → 18.8 s; same-state
    * re-measure 26.9 → 24.8) — yet 4.3× SLOWER under containment's
    * 4× cap (x27c, 21.9 → 94.2 s): the collector's saving is the
    * over-cap mass it never builds, its cost the typed-UDAF tax on
    * every KEPT posting, so the sign follows the cap profile (PERF.md
    * «sign flips»). Ship the list filter by default; reach for the
    * bounded forms where the cap is tight relative to the df head or
    * as the df-10⁸ memory bound. Either way do NOT resurrect the
    * pre-filter join. */
  private def applyCap(lists: DataFrame, cap: DfCap): DataFrame = cap match {
    case DfCap.NoCap => lists
    case DfCap.Fixed(m) => lists.filter(size(col("_lst")) <= m)
    case DfCap.AdaptiveAvg(mult) =>
      val capRow = lists.agg(
        expr(s"$mult * sum(size(_lst)) div count(*)").as("_cap"))
      lists.crossJoin(broadcast(capRow))
        .filter(size(col("_lst")) <= col("_cap"))
        .drop("_cap")
    case bounded => // FixedBounded / AdaptiveBounded never reach here
      throw new IllegalArgumentException(
        s"$bounded caps at collection time — route through cappedLists")
  }

  /** Build the per-shingle posting lists `(_sh, _lst)` from postings,
    * applying the [[DfCap]] at the cheapest sound point: the filtered
    * forms build full lists then drop the long ones (one pass, the
    * measured default — see [[applyCap]]); the BOUNDED forms collect
    * through [[graft.functions.CappedCollectAgg]] so no key's state
    * ever exceeds cap+1 values (over-cap keys finish as the empty
    * list, which the downstream `size ≥ 2` pair filter drops exactly
    * like the filtered form dropped them). [[DfCap.AdaptiveBounded]]
    * first computes the density cap from per-shingle COUNTs — O(1)
    * state per key — via one eager 1-row action. */
  private def cappedLists(post: DataFrame, entry: Column, cap: DfCap): DataFrame =
    cap match {
      case DfCap.FixedBounded(m) =>
        post.groupBy("_sh")
          .agg(graft.functions.CappedCollectAgg.cappedSortedList(m)(entry)
            .as("_lst"))
      case DfCap.AdaptiveBounded(mult) =>
        // IN-PLAN density cap (r17): the pre-r17 form computed the cap
        // with a separate EAGER pass (`.head()`), which shingled and
        // shuffled the whole corpus a second time just to parameterize
        // the collector. Instead, shuffle the postings ONCE through an
        // explicit _sh exchange that BOTH branches consume
        // (ReusedExchange): the count branch derives the same integer
        // cap rule (`mult × ⌊Σdf/#shingles⌋`, the oracle's statement,
        // null→0 on an empty corpus), broadcasts the 1 row back onto
        // the collect branch, and the runtime-cap collector keeps the
        // cap+1 state bound per key. Both aggregates run COMPLETE-mode
        // on top of the exchange — no partial-buffer second shuffle.
        // (coShinglePairs guarantees the explicit exchange; the
        // repartition here would otherwise narrow a width-guarded
        // plan back to the default partition count.)
        //
        // The reuse only fires if the two exchange subtrees stay
        // CANONICALLY EQUAL, so (a) the entry expression is projected
        // to `_e` once, in one shared frame, and (b) the count branch
        // counts `_e` itself (same result — `_e` is provably non-null,
        // packedEntry asserts on its inputs) rather than count(1),
        // which would let column pruning strip `_e` below that
        // branch's exchange and split the canonicalization — the same
        // trap as Packing.keyedOffsets' nullable key, pruning flavor.
        val shared = post.select(col("_sh"), entry.as("_e"))
        val capRow = shared.groupBy("_sh").agg(count(col("_e")).as("_df"))
          .agg(expr(s"$mult * sum(_df) div count(*)").as("_cap"))
        shared.crossJoin(broadcast(capRow))
          .groupBy("_sh")
          .agg(graft.functions.CappedCollectAgg
            .cappedSortedListRuntime(col("_e"), coalesce(col("_cap"), lit(0L)))
            .as("_lst"))
      case filtered =>
        applyCap(
          post.groupBy("_sh").agg(sort_array(collect_list(entry)).as("_lst")),
          filtered)
    }

  /** Fan out a narrow source to cluster parallelism: a small parquet
    * file scans as one task (row-group granularity), which would run
    * the whole shingle/hash pipeline on one core. One cheap round-robin
    * shuffle of the raw rows unlocks every downstream map stage; a
    * no-op when the scan is already wide (the 100 TB case). Width is
    * judged from file metadata (graft.Tables.wide) — no RDD probe. */
  private def ensureParallelism(df: DataFrame): DataFrame =
    graft.Tables.wide(df)

  /** Exact dedup: keep the smallest id per key, count copies.
    * Deterministic (unlike dropDuplicates' arbitrary winner). */
  def exactKeepFirst(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as(s"${idCol}_kept"),
        count(lit(1)).as("n_copies"))

  /** Hashed posting list with the doc's set size carried alongside:
    * (id, shingleHash, setSize). Shingles are hashed to 64 bits
    * map-side, so the only shuffle key is a long (collision odds
    * ~|postings|²/2⁶⁴ — immeasurable against any Jaccard threshold),
    * and carrying `_n` here makes the final sizes join unnecessary. */
  private def postingsHashed(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    ensureParallelism(df)
      .select(col(idCol).as("_id"),
        TextAnalysis.wordShingleHashesNative(col(textCol), n).as("_set"))
      .select(col("_id"), size(col("_set")).as("_n"),
        explode(col("_set")).as("_sh"))

  /** All (a,b) id pairs sharing a shingle, emitted map-side from
    * per-shingle posting lists: one shuffle keyed on the shingle hash,
    * pair generation by a native Generator (PairExplode), no self-join.
    *
    * Each posting entry is packed as `id << SizeBits | setSize` so the
    * list is a primitive long array: sorting it orders by id (ids are
    * unique within a list), the generator loop emits each i<j pair
    * once, and both fields unpack with two codegen'd bit ops. Caps:
    * setSize < 2^19 shingles per doc, id < 2^44. (Widened from 20/43
    * in round 14 — the r13 ledger documented the 2⁴³ id space
    * exhausted at three arrival domains; every fixture's largest
    * shingle set sits orders of magnitude under 2¹⁹ ≈ 524k, so the
    * headroom moved to the id side, where it is consumed one 10¹²
    * slot per arrival kind. The runtime assert in [[packedEntry]]
    * still fails loudly on any document that would overflow the
    * size field.) */
  private[graft] val SizeBits = 19

  /** Exclusive upper bound of the id domain [[packedEntry]] can pack
    * (2^(63−SizeBits) = 2⁴⁴ ≈ 1.76·10¹³). Arrival-domain offsets plus
    * the largest replica corpus id must stay strictly below this —
    * IdDomainSpec enforces it for every declared domain. */
  private[graft] val PackedIdBound: Long = 1L << (63 - SizeBits)

  /** Packed posting entry `id << SizeBits | setSize`, with the packing
    * domain ENFORCED at runtime (shiftleft/add wrap silently, which
    * would corrupt pair identities, so out-of-range inputs must fail
    * loudly): 0 ≤ id < 2^44, setSize < 2^19. The assert is fused into
    * the value via coalesce so column pruning can't drop it. */
  private def packedEntry: Column = {
    val ok = col("_n") < lit(1L << SizeBits) &&
      col("_id") >= 0 && col("_id") < lit(1L << (63 - SizeBits))
    coalesce(
      assert_true(ok, lit(s"dedup packing domain: need 0 <= id < 2^${63 - SizeBits} " +
        s"and shingle-set size < 2^$SizeBits")).cast("long"),
      shiftleft(col("_id"), SizeBits) + col("_n"))
  }

  /** Explode every i<j pair of each packed posting list (PairExplode)
    * and unpack both entries back to (ida, na, idb, nb). */
  private def explodePackedPairs(lists: DataFrame): DataFrame = {
    val pairs = org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.PairExplode(
        org.apache.spark.sql.graft.ColumnShim.expression(col("_lst"))))
    val sizeMask = (1L << SizeBits) - 1
    lists.filter(size(col("_lst")) >= 2)
      .select(pairs.as(Seq("_pa", "_pb")))
      .select(shiftright(col("_pa"), SizeBits).as("ida"),
        col("_pa").bitwiseAND(lit(sizeMask)).as("na"),
        shiftright(col("_pb"), SizeBits).as("idb"),
        col("_pb").bitwiseAND(lit(sizeMask)).as("nb"))
  }

  /** Memory posture for the list-build + pair stage at replica scale —
    * the round-11 adjudication CORRECTION: x27b's 21→172 s rep
    * variance at the mutated 125× replica is NOT GC (GC logs: zero
    * full collections, 7.7 s total young pauses across a 98 s + 117 s
    * rep pair) — it is a SPILL RACE: the posting-list aggregation and
    * the pair partial-aggregate run in one stage whose per-task state
    * scales with postings/partitions, and 32 concurrent tasks racing
    * the unified memory manager for it spill (or not) per scheduling
    * luck. The lever that works here (PERF.md "x27b 125×m
    * adjudication CORRECTED") is WIDTH, not task count: at 256
    * partitions the catastrophic reps vanish (22-44 s band vs
    * 20-172; the 8-slot bound also stabilizes, ±10%, but at 2.7× the
    * warm min). So: widen the list-build exchange so
    * per-task state fits the guaranteed share. Plan-time and
    * file-stat-based (no extra pass, deterministic); a no-op below
    * ~16 MB × defaultParallelism of source text, so bench-SF plans
    * are byte-identical; AQE coalesces the small downstream tail. */
  /** Session conf: source bytes each list-build task should own
    * (default 16 MB). WidthGuardSpec shrinks it to force the guard at
    * fixture scale; a deployment tunes it to its executor heap. */
  val ListStageTargetBytesConf = "spark.graft.listStageTargetBytes"

  private def listStageWidth(df: DataFrame): Option[Int] = {
    // ANALYZED plan stats, not optimizedPlan: the Dataset is already
    // analyzed eagerly at construction, so this reads file-listing
    // sizeInBytes without forcing an extra optimize pass per query
    // build (and without touching the AQE frame — see CLAUDE.md's
    // executedPlan stage-reuse sharp edge)
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    val raw = df.sparkSession.conf
      .get(ListStageTargetBytesConf, (16L << 20).toString)
    val target = scala.util.Try(raw.toLong).toOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$ListStageTargetBytesConf must be a positive long, got '$raw'"))
    val default = df.sparkSession.sessionState.conf.numShufflePartitions
    val want = (bytes / target).min(4096).toInt
    if (want > default) Some(want) else None
  }

  private def coShinglePairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, dfCap: DfCap): DataFrame = {
    val post0 = postingsHashed(df, idCol, textCol, n)
    // widen the list-build stage when the source is replica-sized —
    // see listStageWidth; the explicit hash exchange on _sh is reused
    // by the aggregation (complete-mode, which for collect_list also
    // skips the pointless map-side partial list build). AdaptiveBounded
    // needs the explicit exchange even at bench SF: its in-plan cap
    // branch and the collect branch dedupe through it (cappedLists).
    val post = (listStageWidth(df), dfCap) match {
      case (Some(k), _) => post0.repartition(k, col("_sh"))
      case (None, DfCap.AdaptiveBounded(_)) =>
        post0.repartition(col("_sh"))
      case (None, _) => post0
    }
    // Optional stop-shingle cap (see DfCap): a shingle appearing in
    // more than cap docs generates O(df²) pairs; real corpora cap df
    // to bound skew (no-op below the cap — exactness preserved).
    explodePackedPairs(cappedLists(post, packedEntry, dfCap))
  }

  /** All pairs with word-n-gram Jaccard ≥ threshold. Exact, with the
    * strategy picked by the threshold: count-based co-shingle pairing
    * below [[PrefixFilterThreshold]] (one posting shuffle + pair-count
    * aggregation — cheapest when the prefix would cover most of each
    * set anyway), AllPairs-style prefix filtering above it (measured
    * 130 s → 33 s at t=0.8 on the 20× stress corpus, but 3× SLOWER
    * than counting at t=0.5, where the prefix fraction is ~half and
    * the extra verify joins dominate). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      dfCap: DfCap = DfCap.NoCap): DataFrame =
    if (threshold >= PrefixFilterThreshold)
      prefixNgramJaccardPairs(df, idCol, textCol, n, threshold, dfCap)
    else countNgramJaccardPairs(df, idCol, textCol, n, threshold, dfCap)

  /** Exact CONTAINMENT pairs — asymmetric near-dup: doc A is contained
    * in doc B when |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ t.
    * Catches what symmetric Jaccard structurally misses: a snippet
    * quoted inside a much larger page has Jaccard ≈ |A|/|B| → 0 but
    * containment ≈ 1 (the quote/boilerplate-wrapper case real corpus
    * dedup needs). Candidates come from the same single co-shingle
    * pair shuffle as the count-based Jaccard path (prefix filtering is
    * unsound here: it prunes by SYMMETRIC overlap, and a tiny A inside
    * a huge B would be pruned); both directions of each unordered pair
    * are emitted map-side from one aggregated row, so the pair stage
    * runs once. Threshold and score are all-integer (c·100 ≥ t%·|A|,
    * score = ⌊c·10⁶/|A|⌋) — no double ratio, no rounding ties. The
    * approximate scale path for higher reduction is MinHash
    * containment sketches; exact-with-maxDocFreq is what ships here. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thresholdPct: Int = 90,
      dfCap: DfCap = DfCap.NoCap): DataFrame =
    coShinglePairs(df, idCol, textCol, n, dfCap)
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("c"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(explode(array(
        struct(col("ida").as("id_sub"), col("idb").as("id_super"),
          col("c"), col("na").as("nsub")),
        struct(col("idb").as("id_sub"), col("ida").as("id_super"),
          col("c"), col("nb").as("nsub")))).as("e"))
      .select(col("e.id_sub"), col("e.id_super"), col("e.c"), col("e.nsub"))
      .filter(col("c") * 100 >= lit(thresholdPct) * col("nsub"))
      .select(col("id_sub"), col("id_super"),
        expr("c * 1000000 div nsub").as("cont_ppm"))

  /** Crossover point between the two exact strategies: the prefix
    * fraction is 1 − t (+1 shingle), so its candidate reduction
    * squares to ~9× at 0.7 and keeps growing, while below it the
    * reduction no longer pays for the set-collection + verify joins. */
  val PrefixFilterThreshold = 0.7

  /** Count-based exact pairs: intersection counts from co-shingle
    * pair counting, set sizes carried map-side. Two shuffles total
    * (by shingle, then by pair). */
  private[operators] def countNgramJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      dfCap: DfCap): DataFrame =
    coShinglePairs(df, idCol, textCol, n, dfCap)
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("c"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(col("ida"), col("idb"),
        round(col("c").cast("double") /
          (col("na") + col("nb") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** [[ngramJaccardPairs]] with an exact-INTEGER score: emits
    * `jaccard_ppm = ⌊c·10⁶ / (na+nb−c)⌋` and gates membership with
    * `c·10⁶ ≥ thresholdPpm·(na+nb−c)` — pure long arithmetic on both
    * sides, so no double ratio ever exists to tie at a rounding
    * boundary (the CLAUDE.md oracle rule: a 2-5-smooth union size
    * would land `ROUND(c/u, 6)` exactly ON the half-ulp and Spark's
    * decimal HALF_UP vs DuckDB's binary nearbyint break the tie
    * differently — and here the score also gates the row SET). Floor
    * division is monotone, so `ppm ≥ t·10⁶` ⇔ `ratio ≥ t` exactly.
    * Products stay ≤ ~2·10¹² (c, na, nb ≤ SizeBits range), far under
    * the long range ANSI mode guards. Count-strategy only: the ppm
    * form exists for the capped production listing (x2b), whose
    * thresholds sit below [[PrefixFilterThreshold]]. */
  def ngramJaccardPairsPpm(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thresholdPpm: Long = 500000L,
      dfCap: DfCap = DfCap.NoCap): DataFrame =
    coShinglePairs(df, idCol, textCol, n, dfCap)
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("c"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(col("c") * lit(1000000L) >=
        lit(thresholdPpm) * (col("na") + col("nb") - col("c")))
      .select(col("ida"), col("idb"),
        expr("c * 1000000 div (na + nb - c)").as("jaccard_ppm"))

  /** [[ngramJaccardPairsPpm]] (NoCap) served from a PREBUILT canonical
    * posting index ([[postingIndex]] layout): the pair explode, count
    * aggregate and integer ppm gate run over the index's lists
    * directly — `cappedLists(post, packedEntry, NoCap)` builds exactly
    * `postingIndex`'s `(_sh, sorted packed _lst)` rows, so the listing
    * is row-identical to the from-text form by construction
    * (IncrementalIndexSpec pins it). For a caller that already
    * materialized the index (st11's seed artifact build), this saves
    * the second full corpus shingle+shuffle the from-text form would
    * pay. */
  def jaccardPairsPpmFromIndex(index: DataFrame,
      thresholdPpm: Long = 500000L): DataFrame =
    explodePackedPairs(index)
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("c"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(col("c") * lit(1000000L) >=
        lit(thresholdPpm) * (col("na") + col("nb") - col("c")))
      .select(col("ida"), col("idb"),
        expr("c * 1000000 div (na + nb - c)").as("jaccard_ppm"))

  /** INCREMENTAL near-dup — the daily-ingest form of
    * [[ngramJaccardPairsPpm]]: all Jaccard≥t pairs touching the new
    * INCREMENT batch (increment×corpus and increment×increment), with
    * corpus-internal pairs NEVER generated. At 100 TB this is the only
    * affordable recurrence: the full pair stage costs Σ df² over the
    * whole corpus, while the incremental stage costs
    * Σ df_new·(df_old + df_new) — linear in the increment for a fixed
    * corpus density — and the corpus side of the per-shingle posting
    * lists (`_lsto` below) is exactly the artifact a deployment would
    * persist once as the incremental index and append to per batch.
    *
    * Mechanics: one union posting shuffle keyed on the shingle hash,
    * each shingle's postings split into a new-side and an old-side
    * packed list in the same aggregate; new×new pairs come from the
    * usual [[explodePackedPairs]] generator, new×old pairs from a
    * two-level explode oriented by packed value (id is the high bits,
    * and corpus/increment id domains are disjoint, so least/greatest
    * orders by id exactly like the sorted-list generator). The df cap
    * is stated on TOTAL per-shingle df (old+new) — same density rule
    * and same integer arithmetic as [[DfCap.AdaptiveAvg]], so a DuckDB
    * oracle restates it over the union corpus verbatim. Results equal
    * the full-corpus pair listing restricted to pairs with ≥1
    * increment side (IncrementalNearDupSpec pins this identity).
    * Scoring/gating is the exact-integer ppm form throughout. */
  def incrementalJaccardPairsPpm(corpus: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: DfCap = DfCap.NoCap): DataFrame =
    incrementalPairsFromSplitLists(
      incrementalSplitLists(corpus, increment, idCol, textCol, n, dfCap),
      thresholdPpm)

  /** INCREMENTAL containment — the directed-overlap twin of
    * [[incrementalJaccardPairsPpm]] ([[containmentPairs]]'s score on
    * the same split-list machinery): every capped |A∩B|/|A| ≥ pct
    * directed pair TOUCHING the increment, corpus-internal pairs
    * never generated. Both directions of each undirected pair are
    * scored, so a boilerplate-wrapped re-crawl is caught as a SUB of
    * its source even when Jaccard is diluted (x27's raison d'être),
    * at the incremental recurrence's Σ df_new·df_total cost. Same
    * exact-integer ppm arithmetic and union-density adaptive cap as
    * the batch form — a DuckDB oracle restates both verbatim. */
  def incrementalContainmentPairs(corpus: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int = 3, thresholdPct: Int = 90,
      dfCap: DfCap = DfCap.NoCap): DataFrame =
    containmentFromCounts(incrementalCountsFromSplitLists(
        incrementalSplitLists(corpus, increment, idCol, textCol, n, dfCap)),
      thresholdPct)

  /** [[incrementalContainmentPairs]] SERVED FROM a prebuilt
    * [[postingIndex]] — x33's artifact contract with the containment
    * score: one equi join against the bucketed index, the 4×-style
    * adaptive cap restated from the same two 1-row stats aggregates,
    * the corpus never re-shingled. Row-identical to the from-scratch
    * form (IncrementalIndexSpec pins it).
    *
    * PRECONDITION: `index` must be the CANONICAL one-row-per-shingle
    * layout — see [[incrementalJaccardPairsFromIndex]]'s doc for what
    * the multi-row delta layout silently corrupts;
    * [[assertCanonicalIndexLayout]] checks it. */
  def incrementalContainmentPairsFromIndex(index: DataFrame,
      increment: DataFrame, idCol: String, textCol: String, n: Int = 3,
      thresholdPct: Int = 90, dfCap: DfCap = DfCap.NoCap,
      indexStats: Option[DataFrame] = None): DataFrame =
    containmentFromCounts(incrementalCountsFromSplitLists(
        incrementalSplitListsFromIndex(index, increment, idCol, textCol,
          n, dfCap, indexStats)),
      thresholdPct)

  /** The directed-containment gate over (ida, idb, c, na, nb) counts:
    * both directions scored, `c·100 ≥ pct·nsub` membership,
    * exact-integer `cont_ppm = ⌊c·10⁶/nsub⌋`. */
  private def containmentFromCounts(counts: DataFrame,
      thresholdPct: Int): DataFrame =
    counts
      .select(explode(array(
        struct(col("ida").as("id_sub"), col("idb").as("id_super"),
          col("c"), col("na").as("nsub")),
        struct(col("idb").as("id_sub"), col("ida").as("id_super"),
          col("c"), col("nb").as("nsub")))).as("e"))
      .select(col("e.id_sub"), col("e.id_super"), col("e.c"), col("e.nsub"))
      .filter(col("c") * 100 >= lit(thresholdPct) * col("nsub"))
      .select(col("id_sub"), col("id_super"),
        expr("c * 1000000 div nsub").as("cont_ppm"))

  /** The batch side shared by every from-artifact incremental shape:
    * one sorted packed posting list per increment-touched shingle. */
  private def batchPostingLists(increment: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    postingsHashed(increment, idCol, textCol, n)
      .groupBy("_sh").agg(sort_array(collect_list(packedEntry)).as("_lstn"))

  /** The shared cap gate of the incremental split-list shapes: filter
    * on TOTAL per-shingle df (new + old). `adaptiveCapRow(mult)`
    * supplies the shape's 1-row `_cap` stats frame (broadcast-joined
    * once); shapes with no sound adaptive source (the delta layout,
    * where the statistic drifts per trigger) pass None and reject. A
    * new incremental score (x38+) composes [[batchPostingLists]], a
    * join against its artifact, this gate, and a score gate over
    * [[incrementalCountsFromSplitLists]] — no new plumbing. */
  private def capSplitLists(lists: DataFrame, dfCap: DfCap,
      adaptiveCapRow: Option[Int => DataFrame]): DataFrame = {
    val totalDf = size(col("_lstn")) + size(col("_lsto"))
    dfCap match {
      case DfCap.NoCap => lists
      case DfCap.Fixed(m) => lists.filter(totalDf <= m)
      case DfCap.AdaptiveAvg(mult) if adaptiveCapRow.isDefined =>
        lists.crossJoin(broadcast(adaptiveCapRow.get(mult)))
          .filter(totalDf <= col("_cap"))
          .select(col("_sh"), col("_lstn"), col("_lsto"))
      case DfCap.AdaptiveAvg(_) => throw new IllegalArgumentException(
        s"$dfCap: adaptive caps drift as deltas accumulate; freeze a " +
          "DfCap.Fixed from a corpus snapshot for the delta-index shape")
      case bounded => throw new IllegalArgumentException(
        s"$bounded: bounded collection is not wired for the split-list " +
          "incremental shapes; cap with Fixed/AdaptiveAvg")
    }
  }

  /** Shared front of the incremental pair shapes: the union posting
    * shuffle with per-shingle SPLIT new/old packed lists, cap applied
    * on TOTAL df, only increment-touched shingles kept (the only-old
    * tail — the vast majority at real corpus:increment ratios — drops
    * before any pair generation). */
  private def incrementalSplitLists(corpus: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int,
      dfCap: DfCap): DataFrame = {
    val post = postingsHashed(corpus, idCol, textCol, n)
      .withColumn("_new", lit(false))
      .unionByName(postingsHashed(increment, idCol, textCol, n)
        .withColumn("_new", lit(true)))
    // collect_list skips the nulls the `when` leaves on the other side
    val lists0 = post.groupBy("_sh").agg(
      sort_array(collect_list(when(col("_new"), packedEntry))).as("_lstn"),
      sort_array(collect_list(when(!col("_new"), packedEntry))).as("_lsto"))
    val capRow = (mult: Int) => lists0.agg(expr(
      s"$mult * sum(size(_lstn) + size(_lsto)) div count(*)").as("_cap"))
    capSplitLists(lists0, dfCap, Some(capRow))
      .filter(size(col("_lstn")) >= 1)
  }

  /** Pair counts from per-shingle SPLIT posting lists (`_sh`, `_lstn`
    * new-side, `_lsto` old-side — already cap-filtered, `_lstn`
    * non-empty): new×new pairs via the sorted-list generator, new×old
    * pairs via a two-level explode, aggregated to
    * (ida, idb, c, na, nb) — the shared front of every incremental
    * pair score (Jaccard ppm, containment ppm). */
  private def incrementalCountsFromSplitLists(active: DataFrame): DataFrame = {
    val newNew = explodePackedPairs(active.select(col("_lstn").as("_lst")))
    val sizeMask = (1L << SizeBits) - 1
    val newOld = active.filter(size(col("_lsto")) >= 1)
      .select(explode(col("_lstn")).as("_a"), col("_lsto"))
      .select(col("_a"), explode(col("_lsto")).as("_b"))
      .select(least(col("_a"), col("_b")).as("_pa"),
        greatest(col("_a"), col("_b")).as("_pb"))
      .select(shiftright(col("_pa"), SizeBits).as("ida"),
        col("_pa").bitwiseAND(lit(sizeMask)).as("na"),
        shiftright(col("_pb"), SizeBits).as("idb"),
        col("_pb").bitwiseAND(lit(sizeMask)).as("nb"))
    newNew.unionByName(newOld)
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("c"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
  }

  /** [[incrementalCountsFromSplitLists]] scored with the exact-integer
    * Jaccard ppm gate. */
  private def incrementalPairsFromSplitLists(active: DataFrame,
      thresholdPpm: Long): DataFrame =
    incrementalCountsFromSplitLists(active)
      .filter(col("c") * lit(1000000L) >=
        lit(thresholdPpm) * (col("na") + col("nb") - col("c")))
      .select(col("ida"), col("idb"),
        expr("c * 1000000 div (na + nb - c)").as("jaccard_ppm"))

  /** The durable per-shingle posting INDEX for incremental near-dup:
    * one row per shingle hash carrying the corpus' packed posting list
    * (`id << SizeBits | setSize`, sorted — the `_lsto` side of
    * [[incrementalJaccardPairsPpm]], materialized). This is the
    * artifact a 100 TB deployment builds ONCE per corpus snapshot and
    * serves every increment from: the daily job shingles only the
    * batch, joins it against the index (bucketed by `_sh` when written
    * through `ExtensionQueries.postingIndexArtifact`, so the corpus side
    * joins without an exchange), and folds the batch's postings back
    * with [[appendToPostingIndex]] — the corpus itself is never
    * re-shingled or re-shuffled after the snapshot build. */
  def postingIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    postingsHashed(corpus, idCol, textCol, n)
      .groupBy("_sh").agg(sort_array(collect_list(packedEntry)).as("_lst"))

  /** Debug guard for the from-index entry points' canonical-layout
    * precondition: throws if `index` carries more than one row for any
    * shingle (the append-only DELTA layout, which the from-index join
    * would silently fan out — route those through
    * [[incrementalJaccardPairsFromIndexDeltas]] or collapse with
    * [[mergePostingDeltas]] first). One count-only aggregate pass —
    * O(1) state per key, no list ever built; an eager action by
    * design, so call it from validation paths, not per query. */
  def assertCanonicalIndexLayout(index: DataFrame): Unit = {
    val dup = index.groupBy("_sh").agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"posting index is not canonical: shingle ${dup.head.get(0)} has " +
        s"${dup.head.getLong(1)} rows — this is the multi-row delta " +
        "layout; merge with mergePostingDeltas or use the *FromIndexDeltas " +
        "entry point")
  }

  /** [[incrementalJaccardPairsPpm]] SERVED FROM a prebuilt
    * [[postingIndex]]: identical row set (IncrementalIndexSpec pins
    * it), but the corpus side costs one equi join on `_sh` against the
    * index plus one O(index) stats aggregate — no corpus shingling, no
    * corpus posting shuffle. The density-adaptive cap is defined over
    * the UNION corpus' df profile exactly as the from-scratch form
    * states it: Σdf = Σ|index lists| + Σ|batch lists|, #shingles =
    * |index rows| + |batch-only shingles|, both from 1-row broadcast
    * aggregates (a deployment folds the index-side pair into the index
    * build and stores it with the table — it never changes between
    * appends it participates in).
    *
    * PRECONDITION: `index` must be the CANONICAL one-row-per-shingle
    * layout ([[postingIndex]] / [[appendToPostingIndex]] /
    * [[mergePostingDeltas]] output). The multi-row DELTA layout (one
    * row per shingle PER COMMITTED BATCH — what a live stream
    * accumulates) must go through
    * [[incrementalJaccardPairsFromIndexDeltas]] instead: handed to
    * this entry point, the left join would fan each batch shingle out
    * once per delta row and count new×new pairs once per duplicate —
    * silently inflating co-shingle counts. Debug-check a questionable
    * index with [[assertCanonicalIndexLayout]] (one aggregate pass). */
  def incrementalJaccardPairsFromIndex(index: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: DfCap = DfCap.NoCap,
      indexStats: Option[DataFrame] = None): DataFrame =
    incrementalPairsFromSplitLists(
      incrementalSplitListsFromIndex(index, increment, idCol, textCol,
        n, dfCap, indexStats),
      thresholdPpm)

  /** Shared from-index front: the batch's postings left-joined against
    * the prebuilt index on `_sh`, cap restated from the two 1-row
    * stats aggregates (see [[incrementalJaccardPairsFromIndex]]'s
    * doc). `indexStatsPre` optionally supplies the index-side 1-row
    * stats frame (`_so` = Σ|lists|, `_co` = row count) PRECOMPUTED —
    * the doc's "a deployment folds the index-side pair into the index
    * build and stores it with the table": the index never changes
    * between the appends it participates in, so recomputing its
    * corpus-sized aggregate per serve (per bench rep) was pure waste.
    * The batch-sided `newStats` aggregate stays in-plan. */
  private def incrementalSplitListsFromIndex(index: DataFrame,
      increment: DataFrame, idCol: String, textCol: String, n: Int,
      dfCap: DfCap, indexStatsPre: Option[DataFrame] = None): DataFrame = {
    val emptyLst = array().cast("array<long>")
    // Only increment-touched shingles can pair, so the big index side
    // flows through ONE equi join keyed on its own layout; left join —
    // index-only shingles reach the result only via the cap stats.
    val joined = batchPostingLists(increment, idCol, textCol, n)
      .join(index.withColumnRenamed("_lst", "_lsto"), Seq("_sh"), "left")
      .select(col("_sh"), col("_lstn"),
        coalesce(col("_lsto"), emptyLst).as("_lsto"))
    val capRow = (mult: Int) => {
      val idxStats = indexStatsPre.getOrElse(index.agg(
        coalesce(sum(size(col("_lst"))), lit(0L)).as("_so"),
        count(lit(1)).as("_co")))
      val newStats = joined.agg(
        coalesce(sum(size(col("_lstn"))), lit(0L)).as("_sn"),
        coalesce(sum(when(size(col("_lsto")) === 0, 1L).otherwise(0L)),
          lit(0L)).as("_cn"))
      idxStats.crossJoin(newStats)
        .select(expr(s"$mult * (_so + _sn) div (_co + _cn)").as("_cap"))
    }
    capSplitLists(joined, dfCap, Some(capRow))
  }

  /** [[incrementalJaccardPairsFromIndex]] over an APPEND-ONLY DELTA
    * index — `deltas` may carry SEVERAL rows per shingle (one per
    * committed batch, each a sorted packed list), which is exactly
    * what a live-ingest deployment accumulates without ever rewriting
    * the index ([[graft.streaming.StreamNearDup]]'s per-trigger
    * `index/b=<id>` dirs). Only batch-touched shingles survive the
    * join, so the merge groupBy shuffles O(touched postings) — the
    * per-trigger compute tracks the BATCH (plus a map-only delta
    * scan), never re-shingling or re-shuffling the corpus.
    *
    * Caps: NoCap/Fixed only — the same time-invariant-rule constraint
    * the streaming caller enforces (an adaptive cap is a corpus
    * statistic that drifts per trigger; a deployment freezes a Fixed
    * cap from a snapshot instead). */
  def incrementalJaccardPairsFromIndexDeltas(deltas: DataFrame,
      increment: DataFrame, idCol: String, textCol: String, n: Int = 3,
      thresholdPpm: Long = 500000L,
      dfCap: DfCap = DfCap.NoCap): DataFrame =
    incrementalJaccardPairsFromIndexDeltasPrebuilt(deltas,
      batchPostingLists(increment, idCol, textCol, n)
        .withColumnRenamed("_lstn", "_lst"),
      thresholdPpm, dfCap)

  /** [[incrementalJaccardPairsFromIndexDeltas]] with the batch's
    * postings PREBUILT in the canonical [[postingIndex]] layout
    * (`(_sh, _lst)`, one sorted packed list per shingle — what
    * [[batchPostingLists]] computes from the raw batch). A streaming
    * trigger ([[graft.streaming.StreamNearDup.pairBatch]]) builds the
    * batch's posting delta ONCE, pairs from it here, and appends the
    * same frame as its `index/b=` delta — one shingle pass per batch
    * instead of two (the pair path and the delta write used to each
    * shingle the batch from source). Row-identical to the from-text
    * form by construction (the delegate above IS this function);
    * StreamNearDupSpec pins the trigger-level identity. */
  def incrementalJaccardPairsFromIndexDeltasPrebuilt(deltas: DataFrame,
      batchPostings: DataFrame, thresholdPpm: Long = 500000L,
      dfCap: DfCap = DfCap.NoCap): DataFrame = {
    val emptyLst = array().cast("array<long>")
    // collect_list drops the left join's no-match nulls; flatten then
    // rebuilds one sorted old-side list per touched shingle
    val joined = batchPostings.withColumnRenamed("_lst", "_lstn")
      .join(deltas.withColumnRenamed("_lst", "_lstd"), Seq("_sh"), "left")
      .groupBy("_sh")
      .agg(first(col("_lstn")).as("_lstn"),
        sort_array(coalesce(flatten(collect_list(col("_lstd"))), emptyLst))
          .as("_lsto"))
    // no adaptive source: the statistic would drift per trigger
    incrementalPairsFromSplitLists(capSplitLists(joined, dfCap, None),
      thresholdPpm)
  }

  /** Collapse an append-only DELTA union (several packed lists per
    * shingle, one per committed batch — the layout
    * [[incrementalJaccardPairsFromIndexDeltas]] consumes) back to the
    * canonical one-row-per-shingle [[postingIndex]] layout. Because
    * batch id domains are disjoint and `sort_array` restores the
    * generator's sorted-list invariant, `mergePostingDeltas(Δ₁ ∪ … ∪
    * Δₖ) ≡ postingIndex(C₁ ∪ … ∪ Cₖ)` — pinned by
    * IncrementalIndexSpec. This is the COMPACTION kernel for a
    * live-ingest deployment ([[graft.streaming.StreamNearDup
    * .compactIndex]]): per-trigger delta appends stay O(batch), and a
    * periodic maintenance pass bounds the per-shingle row count and
    * the delta file population without ever re-shingling a document. */
  def mergePostingDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy("_sh")
      .agg(sort_array(flatten(collect_list(col("_lst")))).as("_lst"))

  /** Fold an increment's postings into the index: touched shingles
    * merge lists (batch ids never repeat index ids, and sort_array
    * restores the generator's sorted-list invariant), new shingles
    * append, untouched index rows pass through. Rebuild-equivalence —
    * `appendToPostingIndex(postingIndex(C), B) ≡ postingIndex(C ∪ B)`
    * — is pinned by IncrementalIndexSpec, so a deployment's index
    * stays exact forever without ever re-shingling the corpus. */
  def appendToPostingIndex(index: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val emptyLst = array().cast("array<long>")
    val inc = postingIndex(increment, idCol, textCol, n)
      .withColumnRenamed("_lst", "_lstb")
    index.join(inc, Seq("_sh"), "full_outer")
      .select(col("_sh"),
        sort_array(concat(coalesce(col("_lst"), emptyLst),
          coalesce(col("_lstb"), emptyLst))).as("_lst"))
  }

  /** Prefix-filtered exact pairs: AllPairs-style candidate pruning,
    * then set-intersection verification.
    *
    * Each doc's shingle-hash set is sorted (ascending hash = the
    * global token order); only the first `|x| − ⌈t·|x|⌉ + 1` shingles
    * — the prefix — are posted for candidate generation. Completeness:
    * take the globally smallest SHARED shingle u of a pair with
    * J ≥ t; if u were outside x's prefix, every shared shingle would
    * be (the prefix holds x's smallest), capping the overlap at
    * ⌈t|x|⌉ − 1 < t|x| ≤ the overlap J ≥ t requires — contradiction,
    * so u sits in BOTH prefixes and the pair co-occurs in a prefix
    * posting list. The ⌈t·|x|⌉ is computed in DECIMAL: double math
    * (5·0.8 = 4.0000…0004) would round the ceiling up and illegally
    * shorten the prefix.
    *
    * Cost vs naive co-shingle counting: pair emissions shrink by the
    * prefix fraction squared within each posting list (~25× at t=0.8,
    * ~4× at t=0.5 — measured 130 s → 33 s on the 20× stress corpus),
    * the map-side length filter (t·max ≤ min) prunes before the
    * distinct, and verification touches only surviving candidates.
    * The shingle sets are collected ONCE and reused for both prefix
    * posting and verification. */
  private[operators] def prefixNgramJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      dfCap: DfCap): DataFrame = {
    val post = postingsHashed(df, idCol, textCol, n)
    val sigSet = post.groupBy("_id")
      .agg(sort_array(collect_list(col("_sh"))).as("_set"))
    val sized = sigSet.select(col("_id"), col("_set"),
      size(col("_set")).as("_n"))
    val tDec = lit(BigDecimal(threshold)).cast("decimal(10,6)")
    val plen = (col("_n") - ceil(col("_n").cast("decimal(20,6)") * tDec) +
      1).cast("int")
    val prefixPost = sized.select(packedEntry.as("_p"),
      explode(slice(col("_set"), lit(1), plen)).as("_sh"))
    // Optional stop-shingle cap on the PREFIX posting lists (see
    // DfCap) — bounds O(df²) candidate emission the same way.
    val cand = explodePackedPairs(cappedLists(prefixPost, col("_p"), dfCap))
      // length filter: J ≥ t needs t·max(|a|,|b|) ≤ min(|a|,|b|)
      .filter(col("na") * tDec <= col("nb") && col("nb") * tDec <= col("na"))
      .select("ida", "idb").distinct()
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    cand
      .join(sigSet.toDF("va", "set_a"), col("ida") === col("va"))
      .join(sigSet.toDF("vb", "set_b"), col("idb") === col("vb"))
      .select(col("ida"), col("idb"),
        round(inter.cast("double") /
          (size(col("set_a")) + size(col("set_b")) - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH banding + exact verification. Candidate pairs are ids sharing
    * at least one band hash; each candidate is then verified with true
    * n-gram Jaccard, so precision is exact and recall is
    * 1-(1-t^r)^b (≈1 for near-dups at the default 16×8). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // One aggregation produces BOTH the signature (for banding) and the
    // shingle-hash set (for exact verification): the shingle pipeline
    // and its shuffle are computed once and the exchange is reused by
    // every consumer, instead of re-deriving shingles per join side.
    val post = postingsHashed(df, idCol, textCol, n)
    val sigSet = post.groupBy("_id").agg(
      graft.functions.MinHashAgg.minhash(numHashes)(col("_sh")).as("_sig"),
      collect_list(col("_sh")).as("_set"))
    val banded = sigSet.select(col("_id"),
      posexplode(array((0 until bands).map { bnd =>
        xxhash64((lit(bnd) +:
          (0 until r).map(j => element_at(col("_sig"), bnd * r + j + 1))): _*)
      }: _*)).as(Seq("_band", "_bh")))
    val cand = banded.toDF("ida", "band_a", "bh_a")
      .join(banded.toDF("idb", "band_b", "bh_b"),
        col("band_a") === col("band_b") && col("bh_a") === col("bh_b") &&
          col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val sets = sigSet.select(col("_id").as("_vid"), col("_set"))
    cand
      .join(sets.toDF("va", "set_a"), col("ida") === col("va"))
      .join(sets.toDF("vb", "set_b"), col("idb") === col("vb"))
      .select(col("ida"), col("idb"),
        round(size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          (size(col("set_a")) + size(col("set_b")) -
            size(array_intersect(col("set_a"), col("set_b")))), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** INCREMENTAL MinHash-LSH — the sketch-path twin of
    * [[incrementalJaccardPairsPpm]]: all LSH-candidate pairs TOUCHING
    * the increment, exact-verified, with corpus-internal candidates
    * never generated. The corpus side contributes two per-snapshot
    * artifacts a deployment persists once and appends to per batch:
    * the BAND-BUCKET table ((band, bandHash) → doc) and the per-doc
    * shingle-set table — the daily job signatures only the batch, one
    * equi join per artifact (increment×corpus candidates from the
    * bucket join, increment-internal from the batch's own self-join),
    * and verification joins fetch only candidate ids' sets. Cost is
    * O(batch bands + candidate pairs), independent of corpus size for
    * a fixed collision density; the full recompute re-bands and
    * re-self-joins the whole corpus every run.
    *
    * Requires corpus and increment id domains DISJOINT with every
    * increment id above every corpus id (how the engine's recurrences
    * lay out batch ids — [[graft.ExtensionQueries]]'s `+5·10¹²`
    * offset), so `ida < idb` orients every cross pair corpus→batch.
    * Same recall contract as [[minhashLshPairs]]: candidates share ≥1
    * of `bands` band hashes, each verified with exact hashed-shingle
    * Jaccard — precision exact, recall 1-(1-t^r)^b. Results equal the
    * full-corpus LSH listing restricted to ≥1-increment pairs
    * (IncrementalLshSpec pins it against the fixture). */
  def incrementalMinhashLshPairs(corpus: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 128,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val cs = lshSigSet(corpus, idCol, textCol, n, numHashes)
    incrementalLshFromArtifacts(lshBanded(cs, numHashes, bands),
      cs.select(col("_id"), col("_set")), increment,
      idCol, textCol, n, numHashes, bands, threshold)
  }

  /** The per-doc (signature, shingle-hash set) table — the
    * per-snapshot LSH artifact [[incrementalLshFromSigSet]] serves
    * from (the banded bucket table and the verification set table both
    * derive from it; a deployment persists those two, this is their
    * common build). */
  def lshSigSet(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128): DataFrame =
    postingsHashed(df, idCol, textCol, n)
      .groupBy("_id").agg(
        graft.functions.MinHashAgg.minhash(numHashes)(col("_sh")).as("_sig"),
        collect_list(col("_sh")).as("_set"))

  /** The band-bucket table derived from a [[lshSigSet]]: one
    * (doc, band, bandHash) row per band — the join key of the
    * incremental LSH recurrence, and the second per-snapshot artifact
    * a deployment persists (bucketed by `_bh`). */
  def lshBanded(sigSet: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigSet.select(col("_id"),
      posexplode(array((0 until bands).map { bnd =>
        xxhash64((lit(bnd) +:
          (0 until r).map(j => element_at(col("_sig"), bnd * r + j + 1))): _*)
      }: _*)).as(Seq("_band", "_bh")))
  }

  /** [[incrementalMinhashLshPairs]] with the corpus side supplied as
    * prebuilt artifacts (the [[lshBanded]] bucket table and the
    * per-doc shingle-set table, both derived once per snapshot from
    * [[lshSigSet]]): the daily job signatures and bands ONLY the batch
    * — the corpus is never re-shingled, re-signatured, or re-banded. */
  def incrementalLshFromArtifacts(corpusBanded: DataFrame,
      corpusSets: DataFrame, increment: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    def banded(ss: DataFrame) = lshBanded(ss, numHashes, bands)
    val is = lshSigSet(increment, idCol, textCol, n, numHashes)
    val ib = banded(is)
    // increment×corpus via ONE equi join on the bucket key — the
    // corpus bucket table is never self-joined — plus the batch's own
    // banded self-join for increment-internal candidates
    val candXC = ib.toDF("idb", "band_b", "bh_b")
      .join(corpusBanded.toDF("ida", "band_a", "bh_a"),
        col("band_a") === col("band_b") && col("bh_a") === col("bh_b"))
      .select("ida", "idb")
    val candII = ib.toDF("ida", "band_a", "bh_a")
      .join(ib.toDF("idb", "band_b", "bh_b"),
        col("band_a") === col("band_b") && col("bh_a") === col("bh_b") &&
          col("ida") < col("idb"))
      .select("ida", "idb")
    val cand = candXC.unionByName(candII).distinct()
    val setsA = corpusSets.select(col("_id").as("va"), col("_set").as("set_a"))
      .unionByName(is.select(col("_id").as("va"), col("_set").as("set_a")))
    val setsB = is.select(col("_id").as("vb"), col("_set").as("set_b"))
    cand
      .join(setsA, col("ida") === col("va"))
      .join(setsB, col("idb") === col("vb"))
      .select(col("ida"), col("idb"),
        round(size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          (size(col("set_a")) + size(col("set_b")) -
            size(array_intersect(col("set_a"), col("set_b")))), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise matches into dedup CLUSTERS (pick one canonical
    * doc per component; the greedy "drop larger id of each pair" rule
    * over-drops on chains a–b–c). Returns (node, cluster_id) with
    * cluster_id = the component's minimum node id.
    *
    * Algorithm: iterative min-label propagation — each round every
    * node takes the min of its own and its neighbors' labels; a round
    * with zero changes means convergence (reached in ≤ diameter
    * rounds, and real near-dup components are shallow). Each iteration
    * is one join + one aggregation, fully distributed; labels persist
    * per round and the previous round unpersists, so lineage stays
    * bounded. maxIter caps pathological graphs — hitting it throws
    * rather than silently returning unconverged labels. */
  def connectedComponents(pairs: DataFrame, aCol: String = "ida",
      bCol: String = "idb", maxIter: Int = 25): DataFrame = {
    // Plan-growth discipline: each round's plan embeds the previous
    // round's, and the previous round appears once in the join and
    // once via the label columns — the LOGICAL plan roughly doubles
    // per round. Shallow near-dup graphs (≤ ~5 rounds) never notice,
    // but a ~15-round propagation (random/path-like graphs) built a
    // 2 GB plan string and OOM'd the driver before any work ran. The
    // fix is a PERIODIC localCheckpoint (every 8th round, or sooner
    // once a round's PRINTED plan — cached rounds re-printed inside
    // it, ~4× per round — passes [[RenderedCharsLimit]]) rather than
    // one per round: a checkpoint
    // leaf in the RETURNED plan breaks AQE exchange reuse through the
    // cached cluster map downstream (x29's shared-stage device went
    // dark — bisected against the per-round form), so the common
    // shallow case must come back persist-backed with its analytic
    // lineage intact. The convergence check reads the `_old` column
    // carried into the materialized round — a map-only filter, no
    // second join.
    // Deep-base gate: the first localCheckpoint only lands at iter 8,
    // so rounds 0-7 grow ~2⁷ COPIES OF THE BASE PLAN. A shallow base
    // (the artifact builds' pair generators) never notices, but a
    // caller handing a very deep plan straight in (hundreds of nodes —
    // an un-checkpointed incremental pair pipeline) can OOM the driver
    // in explainString before any work runs. Severing such a base to a
    // checkpoint LEAF first keeps pre-checkpoint growth multiplying a
    // leaf. Gated, not unconditional: a checkpoint leaf in the
    // RETURNED plan breaks AQE exchange reuse through the cached
    // cluster map downstream (x29's shared-stage device — bisected),
    // so the common shallow case must keep its analytic lineage.
    val base =
      if (planNodeCount(pairs) > DeepBaseNodeLimit) {
        pairs.select(col(aCol), col(bCol)).localCheckpoint()
      } else pairs
    // Size-gated driver union-find — the same shortcut
    // [[clusterFoldDelta]] ships ([[LocalGate]], default 4M
    // edges ≈ 64 MB collected): below the gate the undirected edge
    // list collects to the driver and path-compressed union-find
    // labels it in microseconds, where the distributed min-label loop
    // pays ~0.5 s of local stage latency PER ITERATION at ANY SF —
    // 3-5 iterations on shallow near-dup graphs, so the from-scratch
    // cluster-map builds (x11's artifact, st11's seed) were paying
    // seconds of pure stage floor. Result rows are IDENTICAL (every
    // edge endpoint labeled with its component-min id —
    // ConnectedComponentsSpec pins local ≡ distributed); above the
    // gate, or for non-long keys, the distributed loop runs
    // unchanged. The one materialization of the pair pipeline is
    // shared: the count reads the persisted edges the loop would have
    // persisted anyway.
    val spark = pairs.sparkSession
    val maxLocal = LocalGate.maxRows(spark)
    val pairEdges = base.select(col(aCol).as("_pa"), col(bCol).as("_pb"))
    val longKeys = pairEdges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val localPath = longKeys && maxLocal > 0
    val pe = if (localPath) pairEdges.persist() else pairEdges
    if (localPath && pe.count() <= maxLocal) {
      val labels = localMinLabels(pe.collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      pe.unpersist()
      return LocalGate.longPairFrame(spark, "node", "cluster_id", labels)
    }
    // above the gate the loop starts from the SAME persisted pair
    // list the count just materialized — no extra pass over the pair
    // pipeline; pe is released once the undirected edge set persists
    val edges = pe.select(col("_pa").as("src"), col("_pb").as("dst"))
      .union(pe.select(col("_pb").as("src"), col("_pa").as("dst")))
      .distinct().persist()
    var mat = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).persist()
    var matPersisted = true
    var labels = mat
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("_nbr"))
      val next0 = labels.join(nbrMin, col("node") === col("src"), "left_outer")
        .select(col("node"), col("label").as("_old"),
          least(col("label"), coalesce(col("_nbr"), col("label"))).as("label"))
      // a round's plan string re-prints its cached predecessors, ~4×
      // longer per round: cut sooner than the 8th round once it
      // prints past RenderedCharsLimit
      val (next, persisted) =
        if (iter % 8 == 7 || rendersPast(next0, RenderedCharsLimit))
          (next0.localCheckpoint(), false)
        else (next0.persist(), true)
      changed = next.filter(col("label") =!= col("_old")).count()
      // a localCheckpoint must never be unpersisted (its lineage is
      // gone); superseded checkpoint RDDs are reclaimed on GC
      if (matPersisted) mat.unpersist()
      mat = next; matPersisted = persisted
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    edges.unpersist()
    if (localPath) pe.unpersist()
    require(changed == 0, s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Analyzed-plan node count — the deep-base gate's measure (the
    * analyzed plan, not optimized: measuring must not trigger a full
    * optimizer pass per call). */
  private[operators] def planNodeCount(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p => p }.size

  /** Whether `df`'s optimized plan prints longer than `limit` chars —
    * counted as the tree string streams, stopping at the limit. */
  private[operators] def rendersPast(df: DataFrame, limit: Long): Boolean = {
    var n = 0L
    val past = new scala.util.control.ControlThrowable {}
    try {
      df.queryExecution.optimizedPlan.treeString(
        (s: String) => { n += s.length; if (n > limit) throw past },
        true, false, org.apache.spark.sql.internal.SQLConf.get.maxToStringFields,
        false, false)
      false
    } catch { case t: Throwable if t eq past => true }
  }

  /** Plan-string length past which [[connectedComponents]]' loop cuts
    * a round to a checkpoint leaf before its 8th round: AQE renders
    * every query's plan into a string (`onUpdatePlan`), and a round
    * prints its cached predecessors, so the string grows ~4× per
    * round. A 9-round forced-distributed fold (IncrementalClusterSpec,
    * 60 random graphs) printed 4.5 K chars at round 1 and 292 M at
    * round 8, one allocation from OOM at a 4 GB heap; with this limit
    * it cuts at round 6 (18 M). */
  private[operators] val RenderedCharsLimit = 8000000L

  /** Base-plan node count above which [[connectedComponents]] severs
    * its input to a localCheckpoint leaf before the propagation loop.
    * The artifact builds' pair generators analyze to well under 100
    * nodes, so the shallow path (whose uncut lineage x29's exchange
    * reuse needs) is unaffected. */
  private[operators] val DeepBaseNodeLimit = 256

  /** Fold a day's NEW near-dup pairs into an existing cluster map —
    * the incremental maintenance step that keeps [[connectedComponents]]'
    * (node, cluster_id = component min) artifact exact without ever
    * re-running label propagation over the corpus-sized pair graph.
    *
    * Mechanics: the new pairs' endpoints are looked up in the map
    * (self-root when unmapped — brand-new docs), each pair is
    * CONTRACTED to an edge between cluster roots (within-cluster pairs
    * drop — they carry no new connectivity), and label propagation
    * runs on that contracted graph only: O(new pairs + touched
    * clusters) nodes, never the corpus. The resulting old-root →
    * new-root relabel map is TINY (touched clusters only), so the
    * corpus-sized map updates through one broadcast join — map-side,
    * no corpus shuffle, and a deployment can equally write it as a
    * patch layer next to the bucketed table. Because every old
    * cluster_id is its component's min node id and new nodes enter the
    * contracted graph as themselves, the propagated min over
    * contracted nodes IS the min over all nodes of each merged
    * component — fold ≡ full recompute on the union graph
    * (IncrementalClusterSpec pins it, including the two-old-clusters
    * merge that forces the x17 canonical re-election).
    *
    * `newPairs` must carry `aCol < bCol` per row (the pair
    * generators' contract); `map` is (doc_id, cluster_id). */
  def foldPairsIntoClusterMap(map: DataFrame, newPairs: DataFrame,
      aCol: String = "ida", bCol: String = "idb",
      maxIter: Int = 25): DataFrame = {
    val delta = clusterFoldDelta(map, newPairs, aCol, bCol, maxIter)
    applyClusterRelabel(map, delta.relabel, delta.broadcastable)
      .unionByName(delta.newNodes)
  }

  /** A cluster-map fold reduced to its BATCH-SIZED delta: the
    * old-root → new-label relabel map over touched clusters plus the
    * brand-new nodes' rows (labels already final for this fold).
    * [[foldPairsIntoClusterMap]] applies it in memory;
    * `ExtensionQueries.foldClusterMapDurable` PERSISTS it as a patch
    * layer beside the bucketed map table — the merge-style twin of the
    * append-only artifacts' [[graft.DurableArtifact.appendDelta]]
    * (relabels MUTATE existing rows, so the durable fold is a tiny
    * patch readers apply via one broadcast join, not a row append).
    * `broadcastable` records whether the relabel stayed under the
    * driver union-find gate — exactly the broadcast-budget contract. */
  private[graft] final case class ClusterFoldDelta(relabel: DataFrame,
      newNodes: DataFrame, broadcastable: Boolean)

  /** Relabel pass shared by the in-memory fold and the patched durable
    * read: touched clusters relabel through the (broadcast, when
    * batch-sized) map, untouched rows pass through — one map-side
    * pass, no corpus shuffle, and a doc_id-bucketed `map` keeps its
    * layout (the join key is cluster_id on the broadcast side). */
  private[graft] def applyClusterRelabel(map: DataFrame, relabel: DataFrame,
      broadcastable: Boolean = true): DataFrame = {
    val hinted = if (broadcastable) broadcast(relabel) else relabel
    map.join(hinted, map("cluster_id") === relabel("_root"), "left")
      .select(map("doc_id"),
        coalesce(col("_l"), map("cluster_id").cast("long"))
          .as("cluster_id"))
  }

  private[graft] def clusterFoldDelta(map: DataFrame, newPairs: DataFrame,
      aCol: String = "ida", bCol: String = "idb",
      maxIter: Int = 25): ClusterFoldDelta = {
    val spark = map.sparkSession
    val pairCols = newPairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
    val longKeys = pairCols.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // Driver path — the common batch shape. The batch's pairs are
    // probed by a bounded collect ([[LocalGate.collectIfFits]]: driver
    // memory bounded by the gate); when they fit, the whole fold runs
    // on the driver: one scan of `map` fetches the touched nodes'
    // current roots, and contraction, the union-find and the
    // relabel/new-node split are plain collections. The distributed
    // path below runs three multi-stage queries for the same rows
    // (roots checkpoint, contracted-edge probe, the returned
    // relabel/newNodes plans): 13-18 Spark jobs per stream-trigger
    // fold, against 3-4 here (PERF.md "Cluster fold on the driver",
    // "Small vector batches on the driver").
    if (longKeys) {
      val probed = LocalGate.collectIfFits(pairCols)
      if (probed.isDefined)
        return localFoldDelta(map, probed.get.map(r => (r.getLong(0),
          r.getLong(1))))
    }
    // Distributed path: over the gate, or for non-long keys.
    val pairs = pairCols.persist()
    val nodes = pairs.select(col("_a").as("_n"))
      .union(pairs.select(col("_b").as("_n"))).distinct()
    // current root per touched node: its cluster when mapped, itself
    // when new — the corpus-sized map joins on its own bucket key.
    // localCheckpoint, not persist: the frame is consumed again by the
    // RETURNED plan (newNodes), and a persist released at construction
    // end would silently re-run the whole pair pipeline at execution
    // time (measured 2× on x39 before this)
    val roots = nodes
      .join(map.select(col("doc_id").as("_n"), col("cluster_id")),
        Seq("_n"), "left")
      .select(col("_n"), coalesce(col("cluster_id"), col("_n")).as("_r"),
        col("cluster_id").isNotNull.as("_mapped"))
      .localCheckpoint()
    val contractedPlan = pairs
      .join(roots.select(col("_n").as("_a"), col("_r").as("_ra")), Seq("_a"))
      .join(roots.select(col("_n").as("_b"), col("_r").as("_rb")), Seq("_b"))
      .filter(col("_ra") =!= col("_rb"))
      .select(col("_ra").cast("long"), col("_rb").cast("long"))
    // Connected components over roots only. Within-cluster pairs drop
    // in the contraction, so a batch over the pair gate can still
    // contract under it: the contracted edges are probed the same way
    // (one bounded collect, in place of a localCheckpoint +
    // count + collect triple) and, when they fit, labeled by the
    // driver union-find. Above the gate the distributed min-label
    // loop runs from a checkpoint leaf (the truncated probe is
    // re-derived — the rare corpus-scale path; a relabel map too big
    // to collect is too big to broadcast anyway).
    val (cc, small) = LocalGate.collectIfFits(contractedPlan) match {
      case Some(probed) =>
        (LocalGate.longPairFrame(spark, "_root", "_l", localMinLabels(probed
          .map(r => (r.getLong(0), r.getLong(1))))), true)
      case None =>
        // checkpoint leaf: the propagation loop's plan doubles per
        // round, so it must not start from the join plan above
        val contracted = contractedPlan.localCheckpoint()
        (connectedComponents(contracted, "_ra", "_rb", maxIter)
          .select(col("node").as("_root"), col("cluster_id").as("_l")),
          false)
      }
    val hint = (df: DataFrame) => if (small) broadcast(df) else df
    // the exported relabel covers OLD labels only: a new node's
    // self-root is never any base row's cluster_id (labels are
    // component minima and never recur), so keeping those entries
    // would only bloat the persisted patch layer — new nodes carry
    // their final labels in `newNodes` instead
    val oldRoots = roots.filter(col("_mapped"))
      .select(col("_r").as("_root")).distinct()
    val relabel = cc.filter(col("_root") =!= col("_l"))
      .join(oldRoots, Seq("_root"), "left_semi")
    // brand-new nodes: their contracted label when they formed or
    // joined a component, themselves otherwise (within-batch pairs
    // that collapsed entirely cannot leave a new node unlabeled — a
    // new node's root is itself, so any pair it survives in keeps it
    // in the contracted graph)
    val newNodes = roots.filter(!col("_mapped"))
      .join(hint(cc), col("_r") === col("_root"), "left")
      .select(col("_n").as("doc_id"),
        coalesce(col("_l"), col("_r").cast("long")).as("cluster_id"))
    pairs.unpersist() // contracted + roots are materialized; safe now
    ClusterFoldDelta(relabel.select(col("_root"), col("_l")), newNodes,
      broadcastable = small)
  }

  /** [[clusterFoldDelta]]'s driver path over the batch's collected
    * pairs — row-identical to the distributed path
    * (IncrementalClusterSpec compares the deltas): roots come from one
    * scan of `map` restricted to the touched ids
    * ([[LocalGate.filterToIds]]: an `InSet` filter, one job), and
    * the rest is the same contraction and min-label relabel, in
    * driver collections. Both frames are local relations. */
  private def localFoldDelta(map: DataFrame,
      pairs: Array[(Long, Long)]): ClusterFoldDelta = {
    val spark = map.sparkSession
    val nodes = pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toSet
    val mapped: Map[Long, Long] =
      if (nodes.isEmpty) Map.empty
      else LocalGate.filterToIds(map.select(col("doc_id").cast("long").as("_n"),
            col("cluster_id").cast("long").as("_r")), "_n", nodes)
          .collect().iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = (n: Long) => mapped.getOrElse(n, n)
    val labels = localMinLabels(pairs.map { case (a, b) => (root(a), root(b)) }
      .filter { case (ra, rb) => ra != rb })
    val oldRoots = mapped.values.toSet
    ClusterFoldDelta(
      LocalGate.longPairFrame(spark, "_root", "_l", labels.filter { case (r, l) =>
        r != l && oldRoots(r) }),
      LocalGate.longPairFrame(spark, "doc_id", "cluster_id", nodes.iterator
        .filterNot(mapped.contains).map(n => n -> labels.getOrElse(n, n))
        .toSeq),
      broadcastable = true)
  }

  /** Union-find with path compression over the collected contracted
    * edges, relabeled to each component's MIN node id — the driver-
    * side twin of [[connectedComponents]]' fixpoint. */
  private def localMinLabels(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      minOf.update(r, math.min(minOf.getOrElse(r, n), n))
    }
    parent.keysIterator.map(n => n -> minOf(find(n))).toMap
  }

  /** Fold a batch into the two per-snapshot LSH artifacts (the
    * [[lshBanded]] band-bucket table and the per-doc shingle-set
    * table): both are PER-DOC row sets — the hash planes and band
    * layout are corpus-independent — so the fold is a pure O(batch)
    * append of the batch's own signature derivation; no corpus row is
    * read, touched, or re-banded, and append ≡ rebuild on the union
    * corpus exactly (DurableArtifactsSpec pins it). Requires batch ids
    * disjoint from corpus ids (the engine's offset layout). */
  def appendToLshArtifacts(corpusBanded: DataFrame, corpusSets: DataFrame,
      increment: DataFrame, idCol: String, textCol: String, n: Int = 3,
      numHashes: Int = 128, bands: Int = 32): (DataFrame, DataFrame) = {
    val bs = lshSigSet(increment, idCol, textCol, n, numHashes)
    (corpusBanded.unionByName(lshBanded(bs, numHashes, bands)),
      corpusSets.unionByName(bs.select(col("_id"), col("_set"))))
  }

  /** Fuzzy (edit-distance) near-dup pairs: all (a,b) with
    * levenshtein(text_a, text_b) ≤ maxDist.
    *
    * Pruning is length blocking — a sound filter, since edit distance
    * ≥ |len(a)−len(b)|: docs land in buckets of `bucketWidth ≥ maxDist`
    * by length, the probe side also emits its two neighbor buckets, so
    * every pair within the length bound meets in exactly one bucket
    * (the one-sided explode + id inequality yields each unordered pair
    * once). The verify uses Spark's thresholded levenshtein (banded
    * O(maxDist·len) DP with early exit, not full O(len²)).
    *
    * Scale: blocking turns the all-pairs cross join into a bucket-keyed
    * equi join — but length is a weak key for near-uniform corpora; at
    * 100 TB compose with a similarity blocker instead (shingle/LSH
    * candidates verified by edit distance — the t5_edit_pairs shape). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, bucketWidth: Int = 0): DataFrame = {
    val b = math.max(if (bucketWidth > 0) bucketWidth else 16, maxDist)
    val t = ensureParallelism(df).select(col(idCol).as("_id"),
      col(textCol).as("_t"),
      (length(col(textCol)).cast("long") / b).cast("long").as("_bk"))
    val probe = t.select(col("_id").as("_idb"), col("_t").as("_tb"),
      explode(array(col("_bk") - 1, col("_bk"), col("_bk") + 1)).as("_bk"))
    t.join(probe, Seq("_bk"))
      .filter(col("_id") < col("_idb") &&
        abs(length(col("_t")) - length(col("_tb"))) <= maxDist)
      .select(col("_id").as("ida"), col("_idb").as("idb"),
        levenshtein(col("_t"), col("_tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0) // thresholded levenshtein: -1 = above maxDist
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of
    * token hashes, computed as 64 conditional sums in one aggregation. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol, xxhash64(_), 64)

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16 — DuckDB computes identical bits, so the simhash
    * pipeline built on it is differentially verifiable end to end
    * (xxhash64 is the faster production hash but has no cross-engine
    * twin). 15 hex chars keep the value < 2^60: positive, no overflow
    * in either engine. */
  def md5Hash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** SimHash with a pluggable token hash and bit width: bits ≥ nBits
    * are never set (every doc votes −1 there), so narrower hashes just
    * leave the top bits zero — Hamming distances and chunk banding are
    * unaffected. */
  def simhashWith(df: DataFrame, idCol: String, textCol: String,
      hashFn: Column => Column, nBits: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 64)
    val toks = ensureParallelism(df)
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.words(col(textCol))).as("_tok"))
      .withColumn("_h", hashFn(col("_tok")))
    val bitSums = (0 until nBits).map { j =>
      sum(when(shiftright(col("_h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"_b$j")
    }
    toks.groupBy("_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("_id"),
        (0 until nBits).map(j =>
          when(col(s"_b$j") >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** The SimHash signature as a NATIVE map-only column — one fused
    * pass per row ([[org.apache.spark.sql.graft.SimHashSig]]: token
    * split, per-token hash, ±1 bit votes, majority assembly), pinned
    * bit-equal to [[simhashWith]]'s explode+64-sum aggregate by
    * DedupSpec for both token hashes. The signature is per-document
    * state, so at 100 TB it belongs fused into the scan, not behind a
    * token explode and a 64-column shuffle. */
  def simhashSig(text: Column, nBits: Int, md5Variant: Boolean): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.SimHashSig(
        org.apache.spark.sql.graft.ColumnShim.expression(text),
        nBits, md5Variant))

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming:
    * pigeonhole on 4×16-bit chunks — any pair within distance 3 shares
    * at least one exact chunk, so candidates meet in a chunk-keyed
    * shuffle instead of an all-pairs scan. NOTE the banding is
    * complete only for maxHamming ≤ 3; larger values still filter
    * correctly but may miss pairs whose codes differ in all 4 chunks. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashNearDupsSig(df, idCol, textCol, md5Variant = false, 64, maxHamming)

  /** [[simhashNearDups]] on the native signature with a selectable
    * token hash (md5Variant = the differentially-verifiable path). */
  def simhashNearDupsSig(df: DataFrame, idCol: String, textCol: String,
      md5Variant: Boolean, nBits: Int, maxHamming: Int): DataFrame =
    simhashBandedPairs(
      ensureParallelism(df).select(col(idCol).as("_id"),
        simhashSig(col(textCol), nBits, md5Variant).as("simhash")),
      maxHamming)

  private def simhashBandedPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = sh.select(col("_id"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), k * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("_chunk", "_ck")))
    chunks.toDF("ida", "sim_a", "chunk_a", "ck_a")
      .join(chunks.toDF("idb", "sim_b", "chunk_b", "ck_b"),
        col("chunk_a") === col("chunk_b") && col("ck_a") === col("ck_b") &&
          col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
