package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = LocalCpus()
    // SPARK_GRAFT_SHUFFLE decouples reduce partition count from task
    // slots (the SpillProbe levers) for memory-posture experiments
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF="k=v;k=v" — posture experiments (sort-agg
    // forced, AQE width knobs) without editing the harness per run
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 20x-replicated documents (ids offset per copy) — stress input
    // approximating the next scale factor up
    def docs20x = {
      import org.apache.spark.sql.functions._
      val d = Tables.documents(spark, sfDir).select("doc_id", "text")
      (0 until 20).map(k => d.select((col("doc_id") + k * 10000000L).as("doc_id"),
        col("text"))).reduce(_ union _)
    }
    // ~1M-vector corpus: each base embedding replicated 500× with a
    // deterministic per-copy perturbation on one dimension (shared
    // with the x36s/x36sf bench rows)
    def embStress = ExtensionQueries.embStressCorpus(spark, sfDir)
    def annQueries(c: org.apache.spark.sql.DataFrame) =
      c.filter(col("vec_id") % 2000 === 0) // 1000 query vectors
    // ~5M-trade / ~1M-quote as-of stress: events replicated with
    // deterministic per-copy time offsets (distinct users keep key
    // cardinality realistic)
    def asofStress = {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      val rep = ev.select(col("*"), explode(sequence(lit(0), lit(49))).as("k"))
        .select((col("event_id") * 100 + col("k")).as("event_id"),
          col("user_id"), (col("t_us") + col("k") * 1000L).as("t_us"),
          col("event_type"), col("value"))
      val quotes = rep.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("quote"))
        .select(col("user_id"), col("t_us").as("q_us"), col("quote"))
      val trades = rep.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("t_us"))
      operators.AsofJoin.backward(trades, "t_us", quotes, "q_us", "user_id")
    }
    // ~6M-point range-join stress against 200 overlapping bands —
    // "rangestress" is the bucketed rewrite, "rangenaive" the
    // broadcast-nested-loop inequality join Catalyst plans unaided
    def rangePoints = {
      val li = Tables.lineitem(spark, sfDir).select(
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      li.select(col("cents"), explode(sequence(lit(0), lit(9))).as("k"))
        .select((col("cents") + col("k")).as("cents"))
    }
    def rangeBands = spark.range(0, 200).select(col("id").as("band_id"),
      (col("id") * 60000L).as("lo"), (col("id") * 60000L + 90000L).as("hi"))
    // j6b's Zipf-ish join pair (40% of probe rows on key 0, ~15×
    // fan-out build, merge-hinted so the exchange is real), ×10
    // replicated probe so the hot reducer dominates wall-time:
    // "skewnaive*" joins raw, "skewsalted*" spreads the hot key 8 ways;
    // *_noaqe variants turn off AQE's skew split (the rescue that
    // masks the difference) — each TimeOne invocation is its own JVM,
    // so the conf toggle can't leak across measurements.
    def skewProbe = {
      val li = Tables.lineitem(spark, sfDir).select(
        when(pmod(col("l_orderkey"), lit(10)) < 4, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(997))).as("k"),
        col("l_quantity").cast("decimal(18,4)").as("qty"))
      li.select(col("k"), col("qty"),
          explode(sequence(lit(0), lit(9))).as("_r")).drop("_r")
        .repartition(spark.sparkContext.defaultParallelism)
    }
    def skewBuild = Tables.orders(spark, sfDir)
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(pmod(col("o_orderkey"), lit(997)).as("k"), col("o_orderkey"))
    def skewAgg(joined: org.apache.spark.sql.DataFrame) =
      joined.groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("qty")), 2).cast("double").as("sum_qty"))
    def dfFor(n: String) = n match {
      case "skewnaive" =>
        skewAgg(skewProbe.join(skewBuild.hint("merge"), Seq("k")))
      case "skewsalted" =>
        skewAgg(operators.Skew.saltedJoin(skewProbe, skewBuild.hint("merge"), "k", 8))
      case "skewnaive_noaqe" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        skewAgg(skewProbe.join(skewBuild.hint("merge"), Seq("k")))
      case "skewsalted_noaqe" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        skewAgg(operators.Skew.saltedJoin(skewProbe, skewBuild.hint("merge"), "k", 8))
      // AQE's own skew-join split as the zero-code alternative to
      // salting, with thresholds tuned so the hot partition actually
      // qualifies (the 256 MB default never fires at this scale).
      // "aqetuned" leaves forceOptimizeSkewedJoin at its false default:
      // in this join→same-key-aggregate shape the SMJ's hash(k) output
      // feeds the groupBy(k) with NO exchange, so splitting the join
      // would INTRODUCE one — AQE declines, the hot reducer stays.
      // "aqeforce" opts into that extra shuffle and the split fires.
      case "skewnaive_aqetuned" | "skewnaive_aqeforce" =>
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        if (name.endsWith("aqeforce"))
          spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        skewAgg(skewProbe.join(skewBuild.hint("merge"), Seq("k")))
      // control: the pure join→GLOBAL-agg shape, where partials are
      // distribution-agnostic so the split introduces no extra shuffle
      // and tuned AQE fires WITHOUT force
      case "skewglobal_naive" | "skewglobal_aqetuned" =>
        if (name.endsWith("aqetuned")) {
          spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k")
          spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100k")
          spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        }
        skewProbe.join(skewBuild.hint("merge"), Seq("k"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("qty")), 2).cast("double").as("sum_qty"))
      case "asofstress" => asofStress
      case "rangestress" =>
        operators.RangeJoin.pointInInterval(rangePoints, "cents",
            rangeBands, "lo", "hi", 30000L)
          .groupBy("band_id").agg(count(lit(1)).as("n"))
      case "rangenaive" =>
        rangePoints.join(rangeBands,
            col("cents") >= col("lo") && col("cents") < col("hi"))
          .groupBy("band_id").agg(count(lit(1)).as("n"))
      case "annbrute" =>
        val c = embStress.cache()
        operators.Similarity.bruteForceTopK(c, annQueries(c), "vec_id", "embedding", 10)
      case "annlsh" =>
        val c = embStress.cache()
        operators.Similarity.lshTopK(c, annQueries(c), "vec_id", "embedding", 64, 10)
      case "annlshmulti" =>
        // multi-table at corpus scale: r grows with corpus size (2^r
        // buckets/table bounds candidates), L buys recall — r=10, L=8
        // ≈ 1k buckets/table over 1M vectors
        val c = embStress.cache()
        operators.Similarity.lshTopKMulti(c, annQueries(c), "vec_id", "embedding",
          64, 10, nPlanes = 10, nTables = 8)
      case "annivf" =>
        val c = embStress.cache()
        operators.Similarity.ivfTopK(c, annQueries(c), "vec_id", "embedding", 10)
      // t10 blocking stress: the part name vocabulary ×20 (per-copy
      // suffix appended — first tokens unchanged, so single-key blocks
      // grow 20×). "t10stress" is the shipped sorted-neighborhood
      // (w=8) blocking — candidate pairs ≤ 8·n by construction;
      // "t10stress_single" the all-pairs single-key shape it replaced
      // (pairs grow quadratically with the vocabulary). Global count
      // so the sink cost is nil.
      case "t10stress" | "t10stress_single"
         | "t10stress200" | "t10stress200_single" =>
        val copies = if (name.startsWith("t10stress200")) 199 else 19
        val namesNx = Tables.part(spark, sfDir).select(col("p_name"))
          .distinct()
          .select(col("p_name"),
            explode(sequence(lit(0), lit(copies))).as("k"))
          .select(concat(col("p_name"), lit(" v"), col("k")).as("p_name"))
        ExtensionQueries.t10Pairs(namesNx,
            windowed = !name.endsWith("_single"))
          .agg(count(lit(1)).as("n_pairs"))
      // x28's two shapes under a crawl-realistic domain distribution:
      // 15M canonical URLs with 40% on ONE domain (a crawler trap).
      // "x28stress" is the shipped WindowGroupLimit-eligible shape
      // (rn<=50 FILTER + totals joined back); "x28stress_agg" the
      // round-3 shape (rank consumed inside the aggregate), which
      // must sort the hot domain's 600k rows in a single reducer.
      case "x28stress" | "x28stress_agg" =>
        val urls = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k0"))
          .select(col("k0"), explode(sequence(lit(0), lit(99))).as("c"))
          .select((pmod(col("k0"), lit(1000000)) * 100 + col("c")).as("k"))
          .select(
            when(pmod(col("k"), lit(10)) < 4, lit("hot.example"))
              .otherwise(concat(lit("d"), pmod(col("k"), lit(997)), lit(".example")))
              .as("reg_domain"),
            concat(lit("https://u/"), col("k")).as("canonical_url"),
            lit(1L).as("n_raw"), col("k").as("min_key"))
          .repartition(spark.sparkContext.defaultParallelism)
        val w28 = org.apache.spark.sql.expressions.Window
          .partitionBy("reg_domain")
          .orderBy(operators.Sampling.minstdHash(col("min_key")),
            col("canonical_url"))
        if (name == "x28stress_agg")
          urls.withColumn("rn", row_number().over(w28))
            .groupBy("reg_domain")
            .agg(count(lit(1)).as("n_urls"),
              sum(when(col("rn") <= 50, 1L).otherwise(0L)).as("n_admitted"),
              sum(when(col("rn") <= 50, col("n_raw")).otherwise(lit(0L)))
                .as("admitted_raw"),
              sum(col("n_raw")).as("total_raw"))
        else {
          val admitted = urls.withColumn("rn", row_number().over(w28))
            .filter(col("rn") <= 50)
            .groupBy("reg_domain")
            .agg(count(lit(1)).as("n_admitted"),
              sum(col("n_raw")).as("admitted_raw"))
          urls.groupBy("reg_domain")
            .agg(count(lit(1)).as("n_urls"), sum(col("n_raw")).as("total_raw"))
            .join(admitted, Seq("reg_domain"))
        }
      // v2 dissection — the same stage prefix chain the query runs
      // (sort → parse barrier → variant explode → typed extraction),
      // cut after each stage, so the 3.8 s bench cost can be
      // attributed: "v2scan" pays the narrow scan + global sort,
      // "v2parse" adds the single-parse barrier (+1 scalar get to
      // defeat pruning of the variant), "v2explode" adds the
      // items-array VariantExplode with ordinal only, and the full
      // query (TimeOne v2_variant_flatten) adds the 5 typed gets.
      case "v2scan" | "v2parse" | "v2explode" | "v2typed" | "v2try"
         | "v2tryname" | "v2tryabsent" | "v2trycast" =>
        def codeOf(i: Int) =
          pmod(pmod(col("event_id"), lit(1000)) * 7 + lit(i * 13), lit(1000))
        def elem(i: Int) = concat(
          lit("{\"idx\":" + i + ",\"code\":"), codeOf(i).cast("string"),
          lit(",\"name\":\""), col("event_type"), lit("-" + i + "\"}"))
        val doc = concat(
          lit("{\"id\":"), col("event_id").cast("string"), lit(",\"items\":["),
          elem(0),
          when(pmod(col("user_id"), lit(3)) >= 1, concat(lit(","), elem(1)))
            .otherwise(lit("")),
          when(pmod(col("user_id"), lit(3)) >= 2, concat(lit(","), elem(2)))
            .otherwise(lit("")),
          lit("]}"))
        val sorted = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .orderBy("event_id")
        if (name == "v2scan") sorted
        else {
          val parsed = sorted.select(col("event_id"),
            explode(array(parse_json(doc))).as("v"))
          if (name == "v2parse")
            parsed.select(col("event_id"),
              expr("variant_get(v, '$.id', 'bigint')").as("id_back"))
          else {
            val ex = parsed.select(col("event_id"), {
              import org.apache.spark.sql.graft.ColumnShim
              ColumnShim.column(
                new org.apache.spark.sql.catalyst.expressions.variant.VariantExplode(
                  ColumnShim.expression(expr("variant_get(v, '$.items')"))))
            })
            name match {
              case "v2explode" => ex.select(col("event_id"), col("pos"))
              case "v2typed" => ex.select(col("event_id"),
                expr("variant_get(value, '$.idx', 'bigint')").as("idx"),
                expr("variant_get(value, '$.code', 'bigint')").as("code"),
                expr("variant_get(value, '$.name', 'string')").as("name"))
              case "v2try" => ex.select(col("event_id"),
                expr("try_variant_get(value, '$.name', 'bigint')").as("name_as_num"),
                expr("try_variant_get(value, '$.missing', 'string')").as("absent"))
              case "v2tryname" => ex.select(col("event_id"),
                expr("try_variant_get(value, '$.name', 'bigint')").as("name_as_num"))
              case "v2tryabsent" => ex.select(col("event_id"),
                expr("try_variant_get(value, '$.missing', 'string')").as("absent"))
              case "v2trycast" => ex.select(col("event_id"),
                expr("try_cast(variant_get(value, '$.name', 'string') as bigint)")
                  .as("name_as_num"))
            }
          }
        }
      // x22's cap stage under a hot-topic distribution: 15M cluster
      // assignments with 40% of vectors on ONE cluster (a dominant
      // topic — the normal case in a crawl; cluster sizes are not
      // bounded by construction). "x22stress" is the shipped
      // capHalfPerCluster (running-frame rank + count joined back off
      // one shared exchange); "x22stress_win" the round-4 shape whose
      // unbounded count(*) frame buffers the hot cluster's entire 6M
      // membership in one reducer before emitting a row.
      case "x22stress" | "x22stress_win" | "x22stress_shard" =>
        val assigned = Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("k0"))
          .select(col("k0"), explode(sequence(lit(0), lit(99))).as("c"))
          .select((pmod(col("k0"), lit(1000000)) * 100 + col("c")).as("vec_id"))
          .select(col("vec_id"),
            when(pmod(col("vec_id"), lit(10)) < 4, lit(0L))
              .otherwise(pmod(col("vec_id"), lit(997))).as("cluster_id"))
          .repartition(spark.sparkContext.defaultParallelism)
        if (name == "x22stress")
          ExtensionQueries.capHalfPerCluster(assigned)
        else if (name == "x22stress_shard")
          ExtensionQueries.capHalfPerClusterSharded(assigned, 8)
        else {
          val wCap = org.apache.spark.sql.expressions.Window
            .partitionBy("cluster_id")
            .orderBy(operators.Sampling.minstdHash(col("vec_id")), col("vec_id"))
          assigned.withColumn("pos", row_number().over(wCap))
            .withColumn("n_members", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
            .groupBy("cluster_id")
            .agg(count(lit(1)).as("n_members"),
              sum(when(col("pos") * 2 <= col("n_members"), 1L).otherwise(0L))
                .as("n_kept"),
              sum(when(col("pos") * 2 <= col("n_members"), col("vec_id"))
                .otherwise(0L)).as("kept_id_sum"))
        }
      // x30's cap stage under a crawl-realistic language distribution:
      // 15M docs with ONE language owning 50% (English in a web
      // crawl), the rest spread across 37. Text parse excluded — the
      // fixture isolates the per-language running-sum BUDGET stage.
      // "x30stress" is the shipped single-sort window (the hot
      // language's 7.5M rows sort in ONE task); "x30stress_shard" the
      // exact range-sharded two-pass prefix scan (Packing.keyedOffsets
      // — same kept set, per-task sort bounded by shard).
      case "x30stress" | "x30stress_shard" =>
        val docs = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k0"))
          .select(col("k0"), explode(sequence(lit(0), lit(99))).as("c"))
          .select((pmod(col("k0"), lit(1000000)) * 100 + col("c")).as("doc_id"))
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) < 5, lit("en"))
              .otherwise(concat(lit("l"), pmod(col("doc_id"), lit(37)))).as("lang"),
            (lit(50L) + pmod(col("doc_id"), lit(100))).as("n_tok"),
            operators.Sampling.minstdHash(col("doc_id")).as("h"))
          .repartition(spark.sparkContext.defaultParallelism)
        val cum =
          if (name == "x30stress") {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("lang").orderBy(col("h"), col("doc_id"))
              .rowsBetween(Long.MinValue, 0)
            docs.withColumn("cum_tok", sum(col("n_tok")).over(w))
          } else
            operators.Packing.keyedOffsets(docs, "lang", "n_tok", "h",
                "doc_id", outCol = "off", numShards = 32)
              .withColumn("cum_tok", col("off") + col("n_tok"))
        val totals = docs.groupBy("lang").agg(sum("n_tok").as("total_tokens"))
        cum.join(broadcast(totals), Seq("lang"))
          .withColumn("kept", col("cum_tok") * 2 <= col("total_tokens"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
      case "sig128" => operators.Dedup.minhashSignature(Tables.documents(spark, sfDir), "doc_id", "text", 3, 128)
      case "sig64"  => operators.Dedup.minhashSignature(Tables.documents(spark, sfDir), "doc_id", "text", 3, 64)
      case "x2stress" => operators.Dedup.ngramJaccardPairs(docs20x, "doc_id", "text", 3, 0.8, dfCap = operators.Dedup.DfCap.Fixed(1000))
      case "x2post"   => operators.Dedup.postingsHashedForTiming(Tables.documents(spark, sfDir), "doc_id", "text", 3)
      case "x2pairs"  => operators.Dedup.coShinglePairsForTiming(Tables.documents(spark, sfDir), "doc_id", "text", 3)
      case "x3stress" => operators.Dedup.minhashLshPairs(docs20x, "doc_id", "text", 3, 128, 32, 0.8)
      // x34 stage dissection: the corpus fingerprint pass, the batch
      // scoring/exact-flag chain, and the from-index pair stage over
      // the survivors — each reduced to a count so the timing is the
      // stage, not a result materialization
      // x39 stage dissection: "x39pairs" = the incremental pair
      // listing alone; "x39fold" = foldPairsIntoClusterMap alone
      // (pairs + map persisted on rep1, plan-keyed cache reused by
      // later reps — the x36stress convention); "x39rebuild" = the
      // from-scratch union map the fold replaces
      case "x39pairs" | "x39fold" | "x39rebuild" =>
        val docs = Tables.wide(Tables.documents(spark, sfDir))
          .select(col("doc_id"), col("text"))
        val ws = split(col("text"), " ")
        val kWords =
          expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
        val increment = docs.filter(col("doc_id") % 9 === 4)
          .select((col("doc_id") + 5000000000000L).as("doc_id"),
            array_join(slice(ws, lit(1), kWords), " ").as("text"))
        def pairs = operators.Dedup.incrementalJaccardPairsPpm(docs,
          increment, "doc_id", "text", 3, 800000L,
          operators.Dedup.DfCap.NoCap)
        name match {
          case "x39pairs" => pairs.agg(count(lit(1)).as("n"))
          case "x39rebuild" =>
            operators.Dedup.connectedComponents(
                operators.Dedup.ngramJaccardPairs(
                  docs.unionByName(increment), "doc_id", "text", 3, 0.8))
              .agg(count(lit(1)).as("n"), min(col("cluster_id")).as("mn"))
          case _ =>
            val p = pairs.persist(); val _ = p.count()
            val m = ExtensionQueries.nearDupClusterMap(spark, sfDir)
            operators.Dedup.foldPairsIntoClusterMap(m, p)
              .agg(count(lit(1)).as("n"), min(col("cluster_id")).as("mn"))
        }
      case "x34fp" =>
        ExtensionQueries.curationCorpusFp(
            Tables.documents(spark, sfDir).select("doc_id", "text"))
          .agg(count(lit(1)).as("n"))
      case "x34flag" =>
        ExtensionQueries.curationFlagged(spark, sfDir,
            ExtensionQueries.curationCorpusFp(
              Tables.documents(spark, sfDir).select("doc_id", "text")))
          .agg(count(lit(1)).as("n"),
            sum(when(col("is_exact"), 1L).otherwise(0L)).as("n_exact"))
      // x36's incremental vector near-dup machinery at ~1M corpus
      // vectors: "x36stress" pairs a ~0.1% re-embed batch against the
      // probed-bucket artifact; "x36stress_full" is the full
      // lshNearDupCandidates recompute restricted — the corpus-sized
      // baseline the incremental form avoids
      case "x36stress" | "x36stress_full" =>
        val corpus = embStress
        val increment = corpus.filter(pmod(col("vec_id"), lit(997)) === 0)
          .select((col("vec_id") + 1000000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.001f))
              .cast("array<float>").as("embedding"))
        val cand =
          if (name == "x36stress_full")
            operators.Similarity.lshNearDupCandidates(
                corpus.unionByName(increment), "vec_id", "embedding", 64, 12)
              .filter(col("idb") >= 1000000000L)
          else {
            // the artifact is PREBUILT per snapshot — persist it
            // outside the timed reps so warm reps time the serve
            val artifact = operators.Similarity.probedBuckets(
              corpus, "vec_id", "embedding", 64, 12).persist()
            val _ = artifact.count()
            operators.Similarity.incrementalLshCandidates(
              artifact, increment, "vec_id", "embedding", 64, 12)
          }
        cand.agg(count(lit(1)).as("n_candidates"))
      // x27b stage dissection: "x27blists" = posting-list build + the
      // 4x adaptive cap; "x27bpairs" = lists + pair explode + the
      // (ida,idb) count aggregate; the full query adds only the
      // directed double-explode + gate on top
      case "x27blists" =>
        operators.Dedup.cappedListsForTiming(
            ExtensionQueries.x27Corpus(spark, sfDir), "doc_id", "text", 3,
            operators.Dedup.DfCap.AdaptiveAvg(4))
          .agg(count(lit(1)).as("n_shingles"),
            sum(size(col("_lst"))).as("n_postings"))
      case "x27bpairs" =>
        operators.Dedup.pairCountsForTiming(
            ExtensionQueries.x27Corpus(spark, sfDir), "doc_id", "text", 3,
            operators.Dedup.DfCap.AdaptiveAvg(4))
          .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("mass"))
      case "x34pairsidx" | "x34pairs" =>
        val flagged = ExtensionQueries.curationFlagged(spark, sfDir,
          ExtensionQueries.curationCorpusFp(
            Tables.documents(spark, sfDir).select("doc_id", "text")))
        val survivors = flagged.filter(!col("is_exact"))
          .select(col("doc_id"), col("text"))
        val pairs =
          if (name == "x34pairs")
            operators.Dedup.incrementalJaccardPairsPpm(
              Tables.documents(spark, sfDir).select("doc_id", "text"),
              survivors, "doc_id", "text", 3, 500000L,
              operators.Dedup.DfCap.AdaptiveAvg(2))
          else operators.Dedup.incrementalJaccardPairsFromIndex(
            ExtensionQueries.docsPostingIndex(spark, sfDir), survivors,
            "doc_id", "text", 3, 500000L, operators.Dedup.DfCap.AdaptiveAvg(2))
        pairs.agg(count(lit(1)).as("n"))
      // ~6M-row global running offset: "packscan" is the two-pass
      // bucketed prefix scan, "packnaive" the single-partition global
      // window it replaces
      // passage-dedup machinery on the 20×-replicated corpus (every
      // chunk is a 20-way hot key): "passagescan" is the shipped
      // agg+join shape (map-side combine collapses hot chunks before
      // the shuffle), "passagescan_nobc" forces the non-broadcast join
      // (the regime where distinct chunks exceed the broadcast budget),
      // "passagewin" the row_number-over-chunk-hash alternative that
      // must ship every occurrence of a hot chunk to one reducer
      case "passagescan" | "passagescan_nobc" | "passagewin" =>
        if (name == "passagescan_nobc")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val W = 16
        val pdocs = docs20x.select(col("doc_id"), split(col("text"), " ").as("ws"))
        val nCh = (floor(greatest(size(col("ws")) - 1, lit(0)).cast("double") / W)
          .cast("int") + 1)
        val chunks = pdocs
          .select(col("doc_id"), col("ws"),
            explode(sequence(lit(0), nCh - 1)).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"),
            md5(array_join(slice(col("ws"), col("chunk_id") * W + 1, lit(W)), " ")).as("h"))
          .withColumn("packed",
            shiftleft(col("doc_id"), 32).bitwiseOR(col("chunk_id").cast("long")))
        val marked =
          if (name == "passagewin") {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("h").orderBy("packed")
            chunks.withColumn("kept", row_number().over(w) === 1)
          } else {
            val first = chunks.groupBy("h").agg(min(col("packed")).as("fmin"))
            chunks.join(first, Seq("h"))
              .withColumn("kept", col("packed") === col("fmin"))
          }
        marked.groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      case "packscan" | "packnaive" =>
        val rows = Tables.lineitem(spark, sfDir)
          .select((col("l_orderkey") * 100 + col("l_linenumber") * 10).as("id0"),
            col("l_quantity").cast("long").as("n_tok"))
          .select(col("id0"), col("n_tok"),
            explode(sequence(lit(0), lit(9))).as("k"))
          .select((col("id0") + col("k")).as("id"), col("n_tok"))
        val off =
          if (name == "packscan")
            operators.Packing.globalOffsets(rows, "n_tok", "id")
          else rows.withColumn("start_off",
            coalesce(sum(col("n_tok")).over(
              org.apache.spark.sql.expressions.Window.orderBy("id")
                .rowsBetween(Long.MinValue, -1)), lit(0L)))
        off.groupBy().agg(count(lit(1)).as("n"), max(col("start_off")).as("mx"),
          sum(col("start_off")).as("ck"))
      case other    =>
        SparkEntry.all(other)(spark, sfDir)
    }
    SparkEntry.queries("a1_po_totals")(spark, sfDir).write.format("noop").mode("overwrite").save()
    // SPARK_GRAFT_WARMUP_DIR: run the SAME query once on a tiny SF
    // first — the rep1-dissection protocol that separates JVM/codegen
    // warmup (paid here, on negligible data) from data-dependent
    // first-run cost (still in rep1)
    sys.env.get("SPARK_GRAFT_WARMUP_DIR").foreach { wd =>
      SparkEntry.all.get(name) match {
        case Some(q) =>
          val t0 = System.nanoTime()
          q(spark, wd).write.format("noop").mode("overwrite").save()
          println(f"[timeone] $name code-warmup on $wd: " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        case None =>
          // dissection pseudo-names (x39fold, x34fp, …) close over the
          // main sfDir — warming them on another dir isn't expressible,
          // and throwing here would kill the whole measurement run
          println(s"[timeone] $name is a dissection pseudo-name; " +
            "skipping code-warmup (WARMUP_DIR warms registered queries only)")
      }
    }
    // codegen_compiles: Janino compiles during the rep (JVM-wide), so
    // a warm rep that still compiles shows its codegen cache misses
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    (1 to reps).foreach { r =>
      val c0 = compiles
      val t0 = System.nanoTime()
      dfFor(name).write.format("noop").mode("overwrite").save()
      println(f"[timeone] $name rep$r: ${(System.nanoTime()-t0)/1e9}%.2f s" +
        s" codegen_compiles=${compiles - c0}")
    }
    // SPARK_GRAFT_EXPLAIN=1: dump the FINAL adaptive plan (collect()
    // so AQE finalizes on this very QueryExecution — a noop write
    // wraps the df in its own) for skew/reuse adjudication
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
      val df = dfFor(name)
      df.collect()
      println(s"[timeone] final adaptive plan for $name:\n" +
        df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
