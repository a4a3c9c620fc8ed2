package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the incremental MinHash-LSH listing to its semantic contract:
  * it equals the FULL-corpus LSH recompute restricted to pairs with
  * ≥1 increment side — with both candidate kinds (increment×corpus
  * bucket join, increment-internal self-join) present, corpus-internal
  * pairs absent, and the empty-side edges total. The point of the
  * operator is what it does NOT compute (the corpus bucket table's
  * self-join), which no output check can see — this spec proves the
  * restricted semantics lose no required pair. */
class IncrementalLshSpec extends SparkTestBase {
  import spark.implicits._

  private def pairSet(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def fullRestricted(corpus: DataFrame, increment: DataFrame,
      newFrom: Long) =
    pairSet(Dedup.minhashLshPairs(corpus.unionByName(increment),
        "doc_id", "text", 3, 128, 32, 0.8)
      .filter(col("ida") >= newFrom || col("idb") >= newFrom))

  test("incremental == full LSH recompute restricted to >=1-new pairs, " +
      "both candidate kinds live, corpus-internal pairs absent") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base + " lambda mu"),
      (2L, base + " lambda nu"),   // corpus-internal near-dup of 1
      (3L, "totally different words about completely other topics here now")
    ).toDF("doc_id", "text")
    val increment = Seq(
      (101L, base + " lambda"),    // re-crawl of 1 → increment×corpus
      (102L, "shared tail one two three four five six seven eight nine"),
      (103L, "shared tail one two three four five six seven eight ten")
    ).toDF("doc_id", "text")
    val inc = pairSet(Dedup.incrementalMinhashLshPairs(
      corpus, increment, "doc_id", "text", 3, 128, 32, 0.8))
    assert(inc === fullRestricted(corpus, increment, 100L))
    assert(inc.exists { case (a, b, _) => a < 100L && b >= 100L },
      "increment x corpus")
    assert(inc.exists { case (a, b, _) => a >= 100L && b >= 100L },
      "increment-internal")
    assert(!inc.exists { case (a, b, _) => a < 100L && b < 100L },
      "corpus-internal pairs must not appear")
  }

  test("x35's fixture split: incremental == restricted full recompute " +
      "on sf0.001, non-trivially") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + 5000000000000L).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    val inc = pairSet(Dedup.incrementalMinhashLshPairs(
      docs, increment, "doc_id", "text", 3, 128, 32, 0.8))
    assert(inc === fullRestricted(docs, increment, 5000000000000L))
    assert(inc.nonEmpty, "the re-crawl fixture must produce pairs")
  }

  test("x35b (served from the banded + set artifacts) is row-identical " +
      "to x35") {
    val d = "/root/testdata/sf0.001"
    val a = graft.SparkEntry.queries("x35_incremental_lsh")(spark, d)
      .collect().map(_.toString).toSeq
    val b = graft.SparkEntry.queries("x35b_lsh_from_artifact")(spark, d)
      .collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("empty increment and empty corpus edges") {
    val docs = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val none = docs.filter(col("doc_id") < 0)
    assert(Dedup.incrementalMinhashLshPairs(docs, none,
      "doc_id", "text", 3, 128, 32, 0.8).count() === 0L)
    // empty corpus: increment-internal pairs still emit (12 words, one
    // tail word changed → J = 9/11 ≈ 0.818 ≥ 0.8)
    val inc = Seq(
      (101L, "one two three four five six seven eight nine ten eleven twelve"),
      (102L, "one two three four five six seven eight nine ten eleven other")
    ).toDF("doc_id", "text")
    val got = pairSet(Dedup.incrementalMinhashLshPairs(none, inc,
      "doc_id", "text", 3, 128, 32, 0.8))
    assert(got.map(p => (p._1, p._2)) === Set((101L, 102L)))
  }
}
