package graft.functions

import graft.SparkTestBase
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Pins the bounded-state posting-list collector to the plain
  * collect-then-filter form it replaces, at three levels: the
  * aggregator's own contract, a hot key far past the cap (the
  * pathological-boilerplate profile it exists for), and the full
  * x2c ≡ x2b query path whose oracle reuse depends on the identity. */
class CappedCollectSpec extends SparkTestBase {
  import spark.implicits._

  test("cappedSortedList == sort_array(collect_list) under the cap, " +
      "empty over it") {
    val rows = Seq(
      (1L, 30L), (1L, 10L), (1L, 20L),          // 3 values, under cap
      (2L, 5L), (2L, 4L), (2L, 3L), (2L, 2L),   // 4 values == cap
      (3L, 9L), (3L, 8L), (3L, 7L), (3L, 6L), (3L, 5L), // 5 > cap
      (4L, 42L)                                  // singleton
    ).toDF("k", "v")
    val capped = rows.groupBy("k")
      .agg(CappedCollectAgg.cappedSortedList(4)(col("v")).as("lst"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val plain = rows.groupBy("k")
      .agg(sort_array(collect_list(col("v"))).as("lst"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(capped(1L) === plain(1L) && capped(1L) === Seq(10L, 20L, 30L))
    assert(capped(2L) === plain(2L)) // boundary: count == cap is kept
    assert(capped(3L) === Seq.empty) // over the cap → empty, not truncated
    assert(capped(4L) === plain(4L))
  }

  test("cappedSortedListRuntime (cap from a column) == the fixed-cap " +
      "form, including merge saturation on a hot key") {
    val rows = Seq(
      (1L, 30L), (1L, 10L), (1L, 20L),
      (2L, 5L), (2L, 4L), (2L, 3L), (2L, 2L),
      (3L, 9L), (3L, 8L), (3L, 7L), (3L, 6L), (3L, 5L),
      (4L, 42L)
    ).toDF("k", "v")
    val hot = spark.range(0, 50000)
      .select(lit(9L).as("k"), col("id").as("v")).repartition(32)
    val in = rows.union(hot)
    val runtime = in.groupBy("k")
      .agg(CappedCollectAgg.cappedSortedListRuntime(col("v"), lit(4L))
        .as("lst"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fixed = in.groupBy("k")
      .agg(CappedCollectAgg.cappedSortedList(4)(col("v")).as("lst"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(runtime === fixed)
    assert(runtime(2L) === Seq(2L, 3L, 4L, 5L)) // boundary kept
    assert(runtime(3L) === Seq.empty)           // over the cap → empty
    assert(runtime(9L) === Seq.empty)           // hot key, merge-saturated

    // under-cap key whose values arrive as MULTI-VALUE partials: the
    // final merge must grow the buffer mid-copy (the stale-count
    // capacity bug this pins was only reachable through merge)
    val wide = spark.range(0, 35)
      .select(lit(7L).as("k"), col("id").as("v")).repartition(8)
    val merged = wide.groupBy("k")
      .agg(CappedCollectAgg.cappedSortedListRuntime(col("v"), lit(40L))
        .as("lst"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(merged(7L) === (0L until 35L))
  }

  test("a hot key 1000x past the cap aggregates (bounded state) and " +
      "finishes empty; duplicates under the cap are all retained") {
    // 50k rows on one key at cap 8 would be ~400 KB of transient list
    // state in the plain shape; here it must cost 10 longs. The test
    // can't observe heap, but it pins the semantics the bound relies
    // on: saturation across partial merges still detects df > cap.
    val hot = spark.range(0, 50000).select(lit(1L).as("k"), col("id").as("v"))
      .repartition(32) // force many partial buffers → exercises merge
    val cold = Seq((2L, 7L), (2L, 7L), (2L, 1L)).toDF("k", "v") // dup values
    val out = hot.union(cold).groupBy("k")
      .agg(CappedCollectAgg.cappedSortedList(8)(col("v")).as("lst"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) === Seq.empty)
    assert(out(2L) === Seq(1L, 7L, 7L)) // duplicates are values, not a set
  }

  test("x2c (AdaptiveBounded) emits exactly x2b's (AdaptiveAvg) rows " +
      "on the sf0.001 corpus, and the cap bites") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def pairSet(dc: Dedup.DfCap) =
      Dedup.ngramJaccardPairsPpm(corpus, "doc_id", "text", 3, 500000L, dc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bounded = pairSet(Dedup.DfCap.AdaptiveBounded(2))
    assert(bounded === pairSet(Dedup.DfCap.AdaptiveAvg(2)))
    assert(bounded.nonEmpty, "capped pair set must be non-trivial here")
    assert(bounded !== pairSet(Dedup.DfCap.NoCap), "cap must bite")
  }

  test("x27c (AdaptiveBounded) emits exactly x27b's (AdaptiveAvg) rows " +
      "on the sf0.001 snippet corpus — the containment path, wider 4x cap") {
    def rowSet(name: String) =
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bounded = rowSet("x27c_containment_bounded")
    assert(bounded === rowSet("x27b_containment_capped"))
    assert(bounded.nonEmpty, "capped containment set must be non-trivial")
  }

  test("bounded caps on empty input: empty result, no crash") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsPpm(noDocs, "doc_id", "text", 3, 500000L,
      Dedup.DfCap.AdaptiveBounded(2)).count() === 0)
    assert(Dedup.ngramJaccardPairsPpm(noDocs, "doc_id", "text", 3, 500000L,
      Dedup.DfCap.FixedBounded(4)).count() === 0)
  }
}
