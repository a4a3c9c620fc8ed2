package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an N×-replicated copy of a driver corpus dir so the bench can
  * run above sf0.1 — the local stage-latency floor (~0.3-1 s/query)
  * hides per-row costs at sf0.1, and this is the "generate the next SF
  * up" tool the round-6 verdict asked for (r5 item 6). Usage:
  *
  *   runMain graft.MakeScale [srcDir] [dstDir] [copies] [--mutate]
  *
  * Replication semantics (documented distortions and all):
  *  - every id domain is offset by copy·1e8, so keys stay unique and
  *    every FK relationship (order→lineitem, customer→orders, …)
  *    replicates copy-locally: join fan-outs match a true larger SF;
  *  - region/nation are dimensions — copied, not replicated (a bigger
  *    corpus has the same 25 nations);
  *  - `documents.text` is replicated VERBATIM: duplicate density grows
  *    with corpus size by construction (5 exact copies of every doc),
  *    which is the honest upper-bound stress for the dedup family —
  *    a real recrawl dups MORE with scale, not proportionally less;
  *  - `part.p_name` gets a per-copy suffix so the DISTINCT name
  *    vocabulary (t5/t10's real input) grows with the corpus instead
  *    of collapsing back to sf0.1 under distinct();
  *  - `embeddings.embedding` is rotated by 13·copy dims per copy:
  *    intra-copy geometry (norms, cosines, cluster structure) is
  *    preserved exactly, cross-copy cosines decorrelate — vector count
  *    grows 5× without manufacturing 5-way exact-duplicate vectors;
  *  - date/price/text distributions are unchanged, so every literal
  *    predicate keeps its sf0.1 selectivity fraction.
  *
  * Replicas are oracle-compatible, events included: `events` loads
  * through [[Tables.events]] (which absorbs both driver `ts`
  * generations into session-TZ micros) and is written back as
  * TIMESTAMP_NTZ — parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
  * the same logical type as the driver's micros generation — so a
  * DuckDB oracle pointed at a replica dir sees plain TIMESTAMP and
  * `check_oracle.py` can diff event queries above sf0.1. (Before
  * round 9 the replica wrote raw INT64 nanos and was bench-only.)
  *
  * `--mutate` (anywhere in the args) turns on deterministic per-copy
  * TOKEN NOISE for text surfaces, fixing the two places verbatim
  * replication distorts the dedup family (round-9 verdict #3):
  *  - verbatim N× makes every shingle's doc frequency ≥ N, so the
  *    df-capped near-dup paths (x2b/x27b/t5b) legitimately return the
  *    EMPTY set at N ≥ 5 — a vacuous oracle row;
  *  - cross-copy exact duplicates inflate LSH/SimHash candidate counts
  *    quadratically in N — a fixture artifact, not plan behavior.
  * Mutation: in copy k>0, every token EXCEPT the stable quarter of the
  * vocabulary (`xxhash64(token, k) ≡ 0 (mod 4)` keeps the token) is
  * renamed `token~k` — a CONSISTENT injective vocabulary rename per
  * copy (the source corpus has no '~'), applied to `documents.text`
  * and `part.p_name`. Consistency preserves all WITHIN-copy structure
  * exactly (exact-dup groups, shingle Jaccard values — Jaccard is
  * invariant under injective token renaming), while the
  * 75%-of-vocab-per-copy rename makes copies mostly
  * vocabulary-disjoint: a 3-shingle survives verbatim into another
  * copy w.p. 0.25³ ≈ 1.6%, so a pair shingle's doc frequency stays at
  * ~its WITHIN-copy value instead of multiplying by N — which is what
  * keeps the df-capped near-dup paths (caps 3-5) NON-TRIVIAL: each
  * copy reproduces the base corpus's capped pair set in its own key
  * space (the model of a larger crawl where duplication density is
  * constant, vs verbatim mode's density-grows-with-N upper bound —
  * keep both, they stress different regimes). The stable quarter
  * still spreads some dfs over 1..N (the MakeScaleSpec pin).
  * `documents.n_chars` is recomputed from the mutated text so the
  * stored-length invariant holds. */
object MakeScale {
  /** Id stride per copy — far above any sf0.1 id, so per-copy id
    * domains never collide. private[graft] for IdDomainSpec's
    * packed-id-bound arithmetic. */
  private[graft] val Stride = 100000000L

  /** The largest replica (in copies) the engine's id-domain layout is
    * CONTRACTED to support: every arrival offset must clear
    * `MaxSupportedCopies · Stride` inside the pair generator's packed
    * bound (IdDomainSpec). The x32-family offset docs state the same
    * 10,000-copy figure. */
  private[graft] val MaxSupportedCopies = 10000L

  private val S = Stride

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_ == "--mutate")
    val mutate = args.contains("--mutate")
    val src = if (pos.length > 0) pos(0) else "/root/testdata/sf0.1"
    val dst = if (pos.length > 1) pos(1) else "/tmp/sf0.5x"
    val copies = if (pos.length > 2) pos(2).toInt else 5
    // under a test harness LocalSession reuses (and main must not
    // stop) the suite's session — main only stops what it created
    val hadSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = LocalSession()
    run(spark, src, dst, copies, mutate)
    if (!hadSession) spark.stop()
  }

  /** Consistent per-copy vocabulary rename (see object doc): token w →
    * `w~k` unless `xxhash64(w, k) ≡ 0 (mod 4)` (the stable quarter),
    * copy 0 verbatim. An HOF lambda is fine here — MakeScale is
    * offline tooling, run once per replica, not a query path. */
  private def renameTokens(c: Column): Column =
    when(col("_k") === 0, c).otherwise(array_join(
      transform(split(c, " "), w =>
        when(pmod(xxhash64(w, col("_k")), lit(4)) === 0, w)
          .otherwise(concat(w, lit("~"), col("_k")))),
      " "))

  /** The replication pass itself, session supplied by the caller. */
  def run(spark: SparkSession, src: String, dst: String,
      copies: Int, mutateText: Boolean = false): Unit = {
    // tolerate either events.ts generation (nanos-as-long or micros)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def rep(name: String, idCols: Seq[String],
        mutate: Map[String, Column => Column] = Map.empty,
        nCopies: Int = copies): Unit = {
      // events must round-trip through the ts-absorbing loader so the
      // replica lands as one canonical TIMESTAMP_NTZ micros layout
      // regardless of which generation the source corpus shipped
      val df =
        if (name == "events")
          Tables.events(spark, src)
            .withColumn("ts", col("ts").cast("timestamp_ntz"))
        else Tables.load(spark, src, name)
      val out = df
        .select(col("*"), explode(sequence(lit(0), lit(nCopies - 1))).as("_k"))
        .select(df.columns.map { c =>
          if (idCols.contains(c)) (col(c) + col("_k") * S).as(c)
          else mutate.get(c).map(f => f(col(c)).as(c)).getOrElse(col(c))
        }.toIndexedSeq: _*)
      out.repartition(8).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[makescale] $name -> ${nCopies}x")
    }

    // dimensions: plain copy — a bigger corpus has the same 25 nations
    rep("region", Seq.empty, nCopies = 1)
    rep("nation", Seq.empty, nCopies = 1)
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"), Map(
      "p_name" -> { c =>
        // mutate mode renames name tokens too, so t5/t10's shingle
        // blocks decorrelate across copies like the document corpus
        val core = if (mutateText) renameTokens(c) else c
        when(col("_k") === 0, c)
          .otherwise(concat(core, lit(" v"), col("_k")))
      }))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("events", Seq("event_id", "user_id"))
    rep("documents", Seq("doc_id"),
      if (mutateText) Map(
        "text" -> renameTokens,
        // keep the stored-length invariant on the mutated text (the
        // mutate fn for n_chars ignores its own column and recomputes)
        "n_chars" -> (_ => length(renameTokens(col("text"))).cast("bigint")))
      else Map.empty)
    rep("embeddings", Seq("vec_id"), Map(
      "embedding" -> { c =>
        val rot = pmod(col("_k") * 13, lit(64)).cast("int")
        concat(slice(c, rot + 1, lit(64) - rot), slice(c, lit(1), rot))
          .cast("array<float>")
      }))
    println(s"[makescale] done: $dst (${copies}x $src" +
      (if (mutateText) ", mutated)" else ")"))
  }
}
