package graft

/** Plan lint over EVERY registered SparkEntry row, bench-only included —
  * the two shapes that kill a 100 TB job must never silently appear in
  * a future change:
  *
  *  - `CartesianProduct`: an unkeyed shuffled cross join (the j3/p17
  *    nearest-neighbour queries are BroadcastNestedLoop with a
  *    25-row broadcast side — a different, bounded node).
  *  - `Exchange SinglePartition`: the whole dataset funnelled through
  *    one task. Allowed ONLY as the final merge of a global aggregate
  *    (partials are distributed; the merge holds one row per metric),
  *    which is what the whitelisted queries do.
  */
class PlanLintSpec extends SparkTestBase {

  // single-row global-aggregate merges: distributed partials, O(1)
  // final state — the one legitimate SinglePartition
  private val globalAggWhitelist = Set(
    "a12_table_profile",   // table-wide profile: one row per column
    "x5c_ann_ivf_recall",  // corpus-wide recall counters: one row
    "t11_bm25_topk",       // BM25 corpus stats (N, Σdl): one row, broadcast
    "x24_pagerank",        // node count N: one row, broadcast
    "x25_heavy_hitters",   // Misra-Gries merge: one row, O(k) state, broadcast
    "st6_heavy_hitters",   // 4-row shard-sketch merge: one row, O(shards·k)
    "q_tpch_q6",           // global forecast-revenue sum: 1-row merge of map-side partials
    "q_tpch_q11",          // global stock-value share scalar: 1-row merge, big agg stays distributed
    "q_tpch_q15",          // scalar MAX(total_revenue): 1-row merge of distributed partials
    "q_tpch_q19",          // single-row global revenue agg: 1-row merge
    "q_tpch_q17",          // single-row global revenue agg: 1-row merge
    "q_tpch_q22",          // scalar-subquery global sum/count: 1-row merges
    "t12_tfidf_keywords",  // corpus doc count N: one row, broadcast
    "a16_constraint_audit", // per-table audit aggregates: one row each
    "a17_corr_matrix",     // 14 exact moments: one row, unpivoted to 6 pairs
    "t13_token_rarity",    // corpus token total: one row, broadcast
    // the density-adaptive df cap (DfCap.AdaptiveAvg): Σdf/#shingles
    // over the posting lists — one row, broadcast back to the filter
    "x2b_dedup_jaccard_capped",
    // the same 1-row density-cap merge, bounded-collector form
    // (DfCap.AdaptiveBounded went in-plan in r17: the cap agg now
    // shows in the declared plan instead of a separate eager pass)
    "x2c_jaccard_bounded_state",
    "x27c_containment_bounded",
    "t5b_edit_pairs_capped",
    "x27b_containment_capped",
    "x32_incremental_neardup",
    // same cap agg, stated over corpus ∪ batch survivors
    "x34_incremental_curation",
    // x32's cap agg with the containment tail
    "x37_incremental_containment",
    // the from-index cap stats, as in x33
    "x34b_curation_from_index",
    "x37b_containment_from_index",
    // x38 composes the factored split-list core: its two
    // SinglePartition exchanges are the same 1-row AdaptiveAvg cap
    // merges as x32/x2b (sum/count partials -> global merge)
    "x38_incremental_fuzzy",
    // the from-index cap stats: two 1-row broadcast aggregates
    // (Σ|index lists| over the index; Σ|batch lists| + batch-only
    // shingle count over the joined batch)
    "x33_incremental_from_index",
    // bench-only rows: x32f is x32's AdaptiveAvg cap merge over the
    // whole union; the artifact-build and stress rows reduce to one
    // corpus-level stats row (counts and sums of partials)
    "x32f_union_recompute",
    "x33b_index_build",      // n_shingles, Σ|posting list|: one row
    "x34f_fp_build",         // n_fps: one row
    "x35f_lsh_sigset_build", // n_docs, Σ|signature set|: one row
    "x36s_embstress_serve",  // n_candidates, Σ idb: one row
    "x36sf_embstress_build") // n_rows, Σ bucket code: one row

  test("no query plans a cartesian product or an unbounded single-partition stage") {
    val d = "/root/testdata/sf0.001"
    val bad = SparkEntry.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, d).queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val sp = plan.contains("SinglePartition") &&
        !globalAggWhitelist.contains(name)
      if (cart) Some(s"$name: CartesianProduct")
      else if (sp) Some(s"$name: SinglePartition outside the global-agg whitelist")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  // The whitelist's provenance, enforced per entry: a whitelisted name
  // only ever gets to plan `Exchange SinglePartition` as the MERGE of
  // an aggregate whose partials ran distributed — the exchange's child
  // must be a partial-mode aggregate, never a raw child sort/exchange.
  // Without this, the name-based whitelist would silently absorb a
  // future bad plan (e.g. a refactor funnelling the raw table through
  // one task) behind a whitelisted query name. Walks the actual
  // SparkPlan tree (r8 advice) — adjacent-line string matching would
  // misattribute the child across a ReusedExchange / subquery-section
  // / wrapper-line format change.
  test("whitelisted SinglePartition stages merge aggregate partials only") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
    // every node of the plan, through the AQE wrapper and into
    // subquery plans (scalar-subquery merges are SinglePartition too)
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case other => other +: other.children.flatMap(flatten)
      }
      here ++ p.subqueries.flatMap(flatten)
    }
    def isPartialAgg(p: SparkPlan): Boolean = p match {
      case b: BaseAggregateExec =>
        b.aggregateExpressions.nonEmpty &&
          b.aggregateExpressions.forall(ae =>
            ae.mode == Partial || ae.mode == PartialMerge)
      case _ => false
    }
    val d = "/root/testdata/sf0.001"
    var seen = 0
    val bad = globalAggWhitelist.toSeq.sorted.flatMap { name =>
      flatten(SparkEntry.all(name)(spark, d).queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          seen += 1
          if (isPartialAgg(e.child)) None
          else Some(s"$name: SinglePartition above a non-partial-agg " +
            s"child: ${e.child.getClass.getSimpleName}")
      }.flatten
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    // not vacuous: the whitelist exists because these queries DO plan
    // a single-partition merge — if none shows up the lint went blind
    // (plan format drift) and needs its matcher updated
    assert(seen >= globalAggWhitelist.size / 2,
      s"only $seen SinglePartition exchanges seen across " +
        s"${globalAggWhitelist.size} whitelisted queries — matcher drift?")
  }

  // Queries whose per-key admit/top-k decision MUST stay a
  // WindowGroupLimit (map-side bound on rows per partition key) — a
  // refactor that consumes the rank inside an aggregate instead of a
  // filter silently reverts to one reducer sorting a whole hot key.
  test("per-key cap queries keep their WindowGroupLimit bound") {
    val d = "/root/testdata/sf0.001"
    for (name <- Seq("x28_domain_budget", "t12_tfidf_keywords",
        "x17_cluster_canonical", "w1_top1_per_key", "x9_hash_sample",
        "x10_corpus_pipeline")) {
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name: expected a WindowGroupLimit in the physical plan")
    }
  }

  // S2/S3's month pruning, proven at both layers a 100 TB stage needs:
  // (1) the reference's own `yyyy/mm/` landing layout prunes at
  // FILE-LISTING time — a month-bounded glob lists exactly that
  // month's file, never touching the rest of the tree; (2) the
  // hive-partitioned parquet layout the Spark-native deployment
  // writes (s17's cousin) prunes INSIDE Catalyst — the month
  // predicate must show up as PartitionFilters on the scan with a
  // pruned selectedPartitions file count, not as a post-scan filter
  // over every file.
  test("s2 month predicate prunes: glob at listing time, PartitionFilters on hive layout") {
    import org.apache.spark.sql.functions.{col, year, month}
    val d = "/root/testdata/sf0.001"
    val root = SourceQueries.s2Stage(spark, d)
    val full = graft.sources.CsvIngest
      .readPositionalWithMeta(spark, s"$root/*/*/*.csv")
    val nFull = full.inputFiles.length
    assert(nFull > 1, s"stage tree should hold many months, got $nFull files")
    val monthRe = raw".*/(\d{4})/(\d{2})/[^/]+$$".r
    val (yy, mm) = full.inputFiles.head match {
      case monthRe(y, mo) => (y, mo)
    }
    val bounded = graft.sources.CsvIngest
      .readPositionalWithMeta(spark, s"$root/$yy/$mm/*.csv")
    assert(bounded.inputFiles.length == 1,
      s"month-bounded glob listed ${bounded.inputFiles.length} files")

    val hiveDir = java.nio.file.Files.createTempDirectory("graft_hive").toString
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .write.mode("overwrite").partitionBy("yr", "mo").parquet(hiveDir)
    val all = spark.read.parquet(hiveDir)
    val r0 = all.select("yr", "mo").head()
    val pruned = all.filter(col("yr") === r0.getInt(0) && col("mo") === r0.getInt(1))
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScan in plan"))
    val scan = scanOf(pruned)
    assert(scan.toString.contains("PartitionFilters: [isnotnull(yr"),
      s"expected the month predicate as PartitionFilters, got:\n$scan")
    val prunedFiles = scan.selectedPartitions.totalNumberOfFiles
    val totalFiles = scanOf(all).selectedPartitions.totalNumberOfFiles
    assert(prunedFiles < totalFiles && prunedFiles >= 1,
      s"pruned=$prunedFiles total=$totalFiles")
  }

  // Q21's stacked EXISTS / NOT EXISTS must stay DECORRELATED — a
  // left-semi and a left-anti hash join, never per-row subquery
  // execution; Q1's date filter must reach the parquet scan (the scan
  // IS that query — an unpushed filter decodes every column of every
  // row-group at 100 TB).
  test("tpch q1 pushes its scan filter; q21 decorrelates to semi/anti joins") {
    val d = "/root/testdata/sf0.001"
    val q21 = SparkEntry.queries("q_tpch_q21")(spark, d)
      .queryExecution.executedPlan.toString
    assert(q21.contains("LeftSemi"), "q21: expected a decorrelated left-semi join")
    assert(q21.contains("LeftAnti"), "q21: expected a decorrelated left-anti join")
    val q1 = SparkEntry.queries("q_tpch_q1")(spark, d)
      .queryExecution.executedPlan.toString
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "q1: expected the shipdate filter pushed into the parquet scan")
    val q22 = SparkEntry.queries("q_tpch_q22")(spark, d)
      .queryExecution.executedPlan.toString
    assert(q22.contains("LeftAnti"), "q22: expected a decorrelated left-anti join")
    // q17's correlated avg must stay ONE lineitem aggregate + join —
    // the twin-subquery form planned two full fact-table passes
    val q17 = SparkEntry.queries("q_tpch_q17")(spark, d)
      .queryExecution.executedPlan.toString
    val aggScans = q17.split("Scan parquet").length - 1
    assert(aggScans <= 3, // lineitem (fact), part, lineitem (stats) — never 4+
      s"q17: expected at most 3 parquet scans, got $aggScans")
  }

  // The x22-family cap stage must never regress to an unbounded
  // count(*) window frame: that frame forces the reducer to buffer a
  // hot cluster's ENTIRE membership before emitting a row (topic
  // sizes are unbounded by construction — measured 1.4× whole-query
  // at TimeOne's 40%-hot x22stress fixture), where the shipped shape
  // is a running-frame row_number plus a groupBy count joined back.
  // An unbounded frame shows as `unboundedfollowing$()` in the window
  // spec; the running rank frame ends at currentrow$().
  test("x22-family cap stage carries no unbounded window frame") {
    val d = "/root/testdata/sf0.001"
    for (name <- Seq("x22_topic_balance", "x22b_topic_native",
        "x22c_topic_sharded", "x20_source_budget", "x28_domain_budget",
        "x30_language_budget", "x30b_language_budget_sharded")) {
      val plan = SparkEntry.all(name)(spark, d).queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("unboundedfollowing"),
        s"$name: unbounded window frame in the physical plan")
    }
  }

  // Queries whose two-consumer subtree (per-key totals joined back to
  // a per-key cap/rank over the SAME expensive input) depends on
  // exchange/stage reuse to compute that input once. The reuse is an
  // AQE runtime decision — invisible in the static explain — so
  // execute and assert on the final adaptive plan. x28's guard
  // (`min(min_key) * 0`, see its doc) and x22's shared explicit
  // repartition both exist purely to keep the two subtrees
  // canonicalizing equal; this pin is what notices a Spark upgrade or
  // refactor silently de-duplicating them (x28: the URL-parse pass
  // would run twice, measured 2.9 s → 5.2 s at sf0.1).
  test("join-back queries reuse the shared exchange at runtime") {
    val d = "/root/testdata/sf0.001"
    // x22c's shared explicit exchange exists precisely for this reuse
    // — pin it too, or a refactor de-duplicating its subtrees doubles
    // the pair-graph cost unnoticed.
    for (name <- Seq("x28_domain_budget", "x22_topic_balance",
        "x22b_topic_native", "x22c_topic_sharded",
        "x30b_language_budget_sharded")) {
      val df = SparkEntry.all(name)(spark, d)
      // collect(), not a noop write: the write wraps the plan in its
      // own QueryExecution and this df's adaptive plan never finalizes
      val _ = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"$name: expected a ReusedExchange in the final adaptive plan")
    }
    // x29's heavy input is the MEMOIZED cluster map. Since the r16
    // size-gated driver union-find in connectedComponents, the common
    // small-graph case comes back as a LocalRelation — the pair graph
    // + CC never appear in x29's plan at all (computed once,
    // driver-side, behind the session memo), so there is no expensive
    // shared subtree left for the ReusedExchange pin to protect; the
    // old assertion also turned out to be VACUOUS (the ReusedExchange
    // hits it matched came from inside the persisted map's
    // pair-generation subtree as re-printed by InMemoryRelation — the
    // two REPARTITION_BY_COL exchanges the device targets were never
    // runtime-reused at this fixture scale, adjudicated round 16).
    // What x29 still needs pinned is the device itself: the explicit
    // cluster_id repartition feeding both consumers, so the shape
    // stays reuse-ELIGIBLE for the at-scale distributed path.
    val x29 = SparkEntry.all("x29_leakage_split")(spark, d)
    val _ = x29.collect()
    val x29plan = x29.queryExecution.executedPlan.toString
    assert("REPARTITION_BY_COL".r.findAllIn(x29plan).size >= 2,
      "x29: expected the explicit cluster_id repartition under both " +
        "consumers (span audit + per-doc join)")
  }
}
