package graft.operators

import graft.{SparkEntry, SparkTestBase, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins x34 (the incremental curation pipeline) to independent
  * formulations of each stage on the sf0.001 fixture:
  *
  *  - the near_dup set must equal the EXPENSIVE path — the full
  *    union-corpus capped pair recompute restricted to ≥1-new pairs
  *    (the x32 identity, here composed with filtering and exact dedup
  *    upstream);
  *  - the exact_dup set must equal a groupBy-min restatement of the
  *    window-rank dedup plus the corpus fingerprint probe;
  *  - the verdicts must partition the filtered batch, with all three
  *    branches and BOTH exact mechanisms (corpus hit, within-batch
  *    resubmit) non-trivially exercised by the shipped fixture mix;
  *  - split is the minstd 80/20 on kept rows and NULL elsewhere.
  */
class IncrementalCurationSpec extends SparkTestBase {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private lazy val out = SparkEntry.queries("x34_incremental_curation")(
    spark, d).collect()

  // the batch + filter + exact-dedup chain, restated with groupBy-min
  // instead of the window rank (independent exact-dup formulation)
  private lazy val pieces = {
    val docs = Tables.wide(Tables.documents(spark, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val prefixText = array_join(slice(ws, lit(1), kWords), " ")
    val batch = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + 5000000000000L).as("doc_id"),
        prefixText.as("text"))
      .unionByName(docs.filter(col("doc_id") % 9 === 7)
        .select((col("doc_id") + 5000000000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 36 === 4)
        .select((col("doc_id") + 6000000000000L).as("doc_id"),
          prefixText.as("text")))
      .unionByName(docs.filter(col("doc_id") % 9 === 2)
        .select((col("doc_id") + 5000000000000L).as("doc_id"),
          array_join(reverse(ws), " ").as("text")))
    val filt = batch
      .withColumn("lang", TextAnalysis.langIdNative(col("text")))
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
      .filter(col("lang") === "en" && col("q") >= 0.3)
    val corpusFps = docs
      .select(TextAnalysis.fingerprintMd5(col("text")).as("fp")).distinct()
    val minPerFp = filt.groupBy("fp").agg(min("doc_id").as("keeper"))
    val exactIds = filt.join(corpusFps.withColumn("_c", lit(1)), Seq("fp"), "left")
      .join(minPerFp, Seq("fp"))
      .filter(col("_c").isNotNull || col("doc_id") =!= col("keeper"))
      .select("doc_id").as[Long].collect().toSet
    val survivors = filt.filter(!col("doc_id").isin(exactIds.toSeq: _*))
      .select("doc_id", "text")
    (docs, filt, exactIds, survivors)
  }

  test("exact_dup set matches the groupBy-min + corpus-probe restatement") {
    val got = out.filter(_.getString(2) == "exact_dup").map(_.getLong(0)).toSet
    assert(got === pieces._3)
  }

  test("near_dup set matches the full union recompute restricted to >=1-new") {
    val (docs, _, _, survivors) = pieces
    val full = Dedup.ngramJaccardPairsPpm(docs.unionByName(survivors),
        "doc_id", "text", 3, 500000L, Dedup.DfCap.AdaptiveAvg(2))
      .filter(col("idb") >= 5000000000000L)
      .select("idb").distinct().as[Long].collect().toSet
    val got = out.filter(_.getString(2) == "near_dup").map(_.getLong(0)).toSet
    assert(got === full)
  }

  test("verdicts partition the filtered batch; all branches live") {
    val (_, filt, _, _) = pieces
    val ids = filt.select("doc_id").as[Long].collect().toSet
    assert(out.map(_.getLong(0)).toSet === ids)
    assert(out.map(_.getLong(0)).distinct.length === out.length)
    val byVerdict = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byVerdict.keySet === Set("exact_dup", "near_dup", "kept"))
    // both exact mechanisms: resubmits (+6e12, within-batch rank) and
    // unchanged re-crawls (corpus fp hit) must each contribute
    val exacts = out.filter(_.getString(2) == "exact_dup").map(_.getLong(0))
    assert(exacts.exists(_ >= 6000000000000L), "resubmit rn>1 branch")
    assert(exacts.exists(_ < 6000000000000L), "corpus fp-hit branch")
  }

  test("x34b (served from the posting index) is row-identical to x34") {
    val b = SparkEntry.queries("x34b_curation_from_index")(spark, d)
      .collect()
    assert(b.map(_.toString).toSeq === out.map(_.toString).toSeq)
  }

  test("split is minstd 80/20 on kept rows, NULL on dropped rows") {
    out.foreach { r =>
      if (r.getString(2) == "kept") {
        val want = if ((r.getLong(0) % 2147483647L) * 48271L % 2147483647L % 10 < 8)
          "train" else "eval"
        assert(r.getString(3) === want, s"doc ${r.getLong(0)}")
      } else assert(r.isNullAt(3), s"doc ${r.getLong(0)}")
    }
  }
}
