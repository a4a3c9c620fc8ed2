package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PackingSpec extends SparkTestBase {
  import spark.implicits._

  // sparse, unordered, negative-heavy keys — exercises bucket math
  private def corpus = Seq(
    (-500L, 17L), (3L, 1L), (9999L, 256L), (7L, 300L), (0L, 5L),
    (42L, 255L), (-2L, 1L), (100L, 1024L), (101L, 1L), (55L, 128L)
  ).toDF("id", "n_tok")

  test("globalOffsets matches the naive single-partition global window") {
    val got = Packing.globalOffsets(corpus, "n_tok", "id")
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    val want = corpus
      .withColumn("start_off",
        coalesce(sum($"n_tok").over(
          Window.orderBy($"id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("globalOffsets is deterministic across invocations and bucket counts") {
    val a = Packing.globalOffsets(corpus, "n_tok", "id", numBuckets = 2)
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    val b = Packing.globalOffsets(corpus, "n_tok", "id", numBuckets = 7)
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    val c = Packing.globalOffsets(corpus, "n_tok", "id", numBuckets = 7)
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    assert(a == b && b == c)
  }

  test("caller-supplied bounds skip the probe pass but keep the values") {
    val probed = Packing.globalOffsets(corpus, "n_tok", "id")
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    val supplied = Packing.globalOffsets(corpus, "n_tok", "id",
        bounds = Some((-500L, 9999L)))
      .select("id", "start_off").as[(Long, Long)].collect().toMap
    assert(supplied == probed)
  }

  // keyed fixture: a dominant key ("en" — 60 of 100 rows) plus small
  // keys, hash-ordered admit — rows deliberately span many shard
  // boundaries so the shard-offset join is load-bearing
  private def keyedCorpus = {
    val rows = (1L to 100L).map { id =>
      val key = if (id % 10 < 6) "en" else s"l${id % 7}"
      (id, key, 50L + id % 13)
    }
    rows.toDF("doc_id", "key", "n_tok")
      .withColumn("h", Sampling.minstdHash(col("doc_id")))
  }

  test("keyedOffsets matches the per-key window prefix exactly") {
    for (shards <- Seq(1, 3, 8, 32)) {
      val got = Packing.keyedOffsets(keyedCorpus, "key", "n_tok", "h",
          "doc_id", numShards = shards)
        .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
      val want = keyedCorpus
        .withColumn("start_off",
          coalesce(sum($"n_tok").over(
            Window.partitionBy("key").orderBy($"h", $"doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
      assert(got == want, s"shards=$shards")
    }
  }

  test("keyedOffsets preserves payload columns and row count") {
    val out = Packing.keyedOffsets(keyedCorpus, "key", "n_tok", "h", "doc_id")
    assert(out.columns.toSet ===
      Set("doc_id", "key", "n_tok", "h", "start_off"))
    assert(out.count() === 100L)
  }

  test("keyedOffsets plans no whole-key single-task sort window") {
    // the running sum over the DATA rows must be partitioned by
    // (key, _shard) — a partitionBy(key)-only window over the rows is
    // the hot-key funnel this operator exists to avoid. The only
    // 1-key window allowed is the offsets prefix over the
    // O(keys·shards) aggregate rows.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = Packing.keyedOffsets(keyedCorpus, "key", "n_tok", "h",
        "doc_id", numShards = 8)
      .queryExecution.executedPlan match {
      // AQE's root is a leaf node — collect over the pre-adaptive tree
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size === 2, s"expected 2 windows, got ${windows.size}")
    windows.foreach { w =>
      val overAggregate = w.child.exists(_.isInstanceOf[BaseAggregateExec])
      if (!overAggregate)
        assert(w.partitionSpec.size === 2,
          s"data window must partition by (key, shard): $w")
    }
  }

  test("x20's source budget through keyedOffsets is bit-identical " +
      "(skew guard for a mega-source corpus)") {
    // x20 keeps the plain partitionBy(source) window on a "low-skew by
    // construction" argument; this pins that the keyedOffsets swap is
    // drop-in — same kept set, same aggregate rows — so a corpus that
    // ships a mega-source needs a one-line change, not a new operator.
    import graft.{ExtensionQueries, Tables}
    val d = "/root/testdata/sf0.001"
    val docs = Tables.wide(Tables.documents(spark, d))
      .select(col("doc_id"), col("source"),
        TextAnalysis.wordCount(col("text")).as("n_tok"),
        Sampling.minstdHash(col("doc_id")).as("h"))
    val totals = docs.groupBy("source").agg(sum("n_tok").as("total_tokens"))
    val sharded = Packing.keyedOffsets(docs, "source", "n_tok", "h",
        "doc_id", outCol = "off", numShards = 8)
      .withColumn("cum_tok", col("off") + col("n_tok"))
      .join(broadcast(totals), Seq("source"))
      .withColumn("kept", col("cum_tok") * 2 <= col("total_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
        max(col("total_tokens")).as("total_tokens"))
      .orderBy("source")
      .collect().toSeq
    val window = ExtensionQueries.x20SourceBudget(spark, d).collect().toSeq
    assert(sharded === window)
  }

  test("packManifest spans cut boundaries correctly") {
    val df = Seq((1L, 100L), (2L, 100L), (3L, 400L), (4L, 56L))
      .toDF("id", "n_tok")
    val m = Packing.packManifest(df, "n_tok", "id", 256)
      .select("id", "start_off", "first_seq", "last_seq", "n_seqs")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // offsets: 0, 100, 200, 600; doc 3 spans tokens [200,600) → seqs 0..2
    assert(m.toSeq == Seq(
      (1L, 0L, 0L, 0L, 1L),
      (2L, 100L, 0L, 0L, 1L),
      (3L, 200L, 0L, 2L, 3L),
      (4L, 600L, 2L, 2L, 1L)))
  }

  test("globalOffsets on empty input yields empty output") {
    val empty = corpus.filter($"id" > 100000L)
    assert(Packing.globalOffsets(empty, "n_tok", "id").count() == 0L)
  }

  test("plan has no single-partition global window") {
    val plan = Packing.globalOffsets(corpus, "n_tok", "id")
      .queryExecution.executedPlan.toString
    // a global Window.orderBy would show an empty partition spec with
    // a SinglePartition exchange feeding it
    assert(!plan.contains("SinglePartition"))
  }
}
