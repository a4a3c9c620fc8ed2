package graft.streaming

import graft.{DurableArtifact, ExtensionQueries, SparkTestBase}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Pins the stream-side parameter-provenance contract: the first
  * committing entry point records the dir's parameterization, every
  * later trigger/seed/maintenance call verifies against it, and the
  * table-seeding conveniences check the durable tables' recorded
  * build params — closing the silently-wrong-verdict class where an
  * n=4 index seeded into an n=3 stream (or a trigger run with
  * drifting parameters) matches no probe and misses every near-dup
  * with no error. */
class StreamParamsSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val b1 = Seq(
    NdDoc(1L, base + " lambda mu"),
    NdDoc(2L, base + " lambda nu"))
  private val b2 = Seq(NdDoc(11L, base + " lambda"))

  test("trigger 0 records the dir's params; a later trigger with " +
      "different parameters throws instead of composing wrong layers") {
    val dir = Files.createTempDirectory("graft_sp_trig").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    assert(StreamParams.recorded(dir)
      === Some(StreamParams.neardup(3, 500000L, Dedup.DfCap.NoCap)))
    // different threshold
    val e1 = intercept[IllegalArgumentException] {
      StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 800000L)
    }
    assert(e1.getMessage.contains("params mismatch"))
    // different n — the headline hazard
    val e2 = intercept[IllegalArgumentException] {
      StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 4, 500000L)
    }
    assert(e2.getMessage.contains("params mismatch"))
    // the recorded parameters keep streaming
    assert(StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L))
    // maintenance under the wrong n is refused too (the heal would
    // re-shingle at the wrong width)
    val e3 = intercept[IllegalArgumentException] {
      StreamNearDup.compactIndex(spark, dir, 4)
    }
    assert(e3.getMessage.contains("params mismatch"))
    assert(StreamNearDup.compactIndex(spark, dir, 3) === Some(1L))
  }

  test("an uncommitted dir redefines its params freely (a torn first " +
      "trigger never pins a parameterization)") {
    val dir = Files.createTempDirectory("graft_sp_torn").toString
    // a first attempt that recorded params but never committed (crash
    // before the corpus _SUCCESS): only the marker exists
    StreamParams.establish(dir, StreamParams.neardup(4, 100000L,
      Dedup.DfCap.NoCap))
    assert(StreamIndex.committedBatches(s"$dir/corpus").isEmpty)
    // the restart with the REAL parameters just works
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    assert(StreamParams.recorded(dir)
      === Some(StreamParams.neardup(3, 500000L, Dedup.DfCap.NoCap)))
  }

  test("a pre-params dir (committed history, no marker) refuses new " +
      "triggers, naming a fresh dir, and commits nothing") {
    val dir = Files.createTempDirectory("graft_sp_legacy").toString
    assert(StreamNearDup.pairBatch(b1.toDS(), 0L, dir, 3, 500000L))
    // history with no marker: nothing records its parameters
    Files.delete(Paths.get(dir, "_params"))
    val e = intercept[IllegalArgumentException] {
      StreamNearDup.pairBatch(b2.toDS(), 1L, dir, 3, 500000L)
    }
    assert(e.getMessage.contains("fresh dir"),
      s"the refusal must name the fix: ${e.getMessage}")
    assert(StreamIndex.committedBatches(s"$dir/corpus") === Seq(0L))
    assert(StreamParams.recorded(dir).isEmpty,
      "the refused trigger must not guess a marker")
  }

  test("seeding an n=4 posting-index TABLE into an n=3 stream throws " +
      "with a parameter-mismatch message — the headline silent-wrong-" +
      "verdict class, now loud") {
    val ti = "g_sp_idx_n4_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $ti")
    val corpus = b1.toDF("doc_id", "text")
    // an index table built at n=4 and STAMPED that way (what the
    // posting-index artifact's write records for n=4)
    Dedup.postingIndex(corpus, "doc_id", "text", 4)
      .withColumn(DurableArtifact.FoldEpochCol, lit(0))
      .write.bucketBy(8, "_sh").sortBy("_sh")
      .format("parquet").saveAsTable(ti)
    spark.sql(s"ALTER TABLE $ti SET TBLPROPERTIES " +
      s"('${DurableArtifact.ParamsProp}' = 'n=4')")
    val dir = Files.createTempDirectory("graft_sp_seed").toString
    val e = intercept[IllegalArgumentException] {
      ExtensionQueries.seedStreamFromTables(spark, dir, corpus, ti,
        cmapTable = None, n = 3, thresholdPpm = 500000L)
    }
    assert(e.getMessage.contains("n=4") && e.getMessage.contains("n=3"),
      s"the refusal must state both widths: ${e.getMessage}")
    assert(!Files.exists(Paths.get(dir, "_params")) &&
      StreamIndex.committedBatches(s"$dir/corpus").isEmpty,
      "a refused seed must write nothing")
    // an n=3 table (content AND stamp) seeds fine, and the live
    // trigger composes against it
    spark.sql(s"DROP TABLE IF EXISTS $ti")
    Dedup.postingIndex(corpus, "doc_id", "text", 3)
      .withColumn(DurableArtifact.FoldEpochCol, lit(0))
      .write.bucketBy(8, "_sh").sortBy("_sh")
      .format("parquet").saveAsTable(ti)
    spark.sql(s"ALTER TABLE $ti SET TBLPROPERTIES " +
      s"('${DurableArtifact.ParamsProp}' = 'n=3')")
    ExtensionQueries.seedStreamFromTables(spark, dir, corpus, ti,
      cmapTable = None, n = 3, thresholdPpm = 500000L)
    assert(StreamNearDup.pairBatch(b2.toDS(), 0L, dir, 3, 500000L))
    val pairs = StreamNearDup.allPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 11L)),
      "the matched-params seed must serve cross-seed pairs")
    spark.sql(s"DROP TABLE IF EXISTS $ti")
  }

  test("a cluster-map table recorded under a different pair gate " +
      "refuses to seed (labels are a function of the gate)") {
    val tc = "g_sp_cmap_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tc")
    val corpus = b1.toDF("doc_id", "text")
    Dedup.connectedComponents(Dedup.ngramJaccardPairsPpm(
        corpus, "doc_id", "text", 3, 800000L, Dedup.DfCap.NoCap))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .withColumn(DurableArtifact.FoldEpochCol, lit(0))
      .write.bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(tc)
    spark.sql(s"ALTER TABLE $tc SET TBLPROPERTIES " +
      s"('${DurableArtifact.ParamsProp}' = " +
      "'dfCap=NoCap;n=3;thresholdPpm=800000')")
    val ti = "g_sp_cmap_idx_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $ti")
    Dedup.postingIndex(corpus, "doc_id", "text", 3)
      .withColumn(DurableArtifact.FoldEpochCol, lit(0))
      .write.bucketBy(8, "_sh").sortBy("_sh")
      .format("parquet").saveAsTable(ti)
    val dir = Files.createTempDirectory("graft_sp_cmseed").toString
    val e = intercept[IllegalArgumentException] {
      ExtensionQueries.seedStreamFromTables(spark, dir, corpus, ti,
        Some(tc), n = 3, thresholdPpm = 500000L)
    }
    assert(e.getMessage.contains("thresholdPpm"))
    // at the recorded gate it seeds
    ExtensionQueries.seedStreamFromTables(spark, dir, corpus, ti,
      Some(tc), n = 3, thresholdPpm = 800000L)
    assert(StreamParams.recorded(dir)
      === Some(StreamParams.neardup(3, 800000L, Dedup.DfCap.NoCap)))
    Seq(tc, ti).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("the admission stream enforces the same contract (kind included: " +
      "an ST8 dir never serves ST9 triggers)") {
    val en = "the alpha of beta and gamma the delta of epsilon " +
      "and zeta the eta of theta and iota the kappa of lambda and mu"
    val dir = Files.createTempDirectory("graft_sp_adm").toString
    assert(StreamAdmission.curateBatch(
      Seq(NdDoc(1L, en + " nu xi")).toDS(), 0L, dir))
    val e1 = intercept[IllegalArgumentException] {
      StreamAdmission.curateBatch(
        Seq(NdDoc(2L, en + " nu pi")).toDS(), 1L, dir,
        thresholdPpm = 300000L)
    }
    assert(e1.getMessage.contains("params mismatch"))
    // kind mismatch: an ST8 trigger on the admission dir
    val e2 = intercept[IllegalArgumentException] {
      StreamNearDup.pairBatch(
        Seq(NdDoc(2L, en + " nu pi")).toDS(), 1L, dir, 3, 500000L)
    }
    assert(e2.getMessage.contains("params mismatch"))
  }
}
