package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.{NdDoc, StreamAdmission, StreamBootstrap}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures ST9's adoption economics at replica scale — the curation
  * twin of StreamClustersProbe's seed phase: a deployment with an
  * existing CURATED corpus enters the admission stream either by
  * replaying the whole corpus through trigger 0 (its survivors'
  * batch-internal pairing is the full corpus pair listing, plus the
  * corpus-wide lang/quality/fingerprint pass) or by seeding the
  * fps + exact-survivor-index layers from the nightly artifacts
  * ([[graft.streaming.StreamBootstrap.seedAdmission]] — three map-only
  * copies).
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
  *   SPARK_GRAFT_CONF="spark.local.dir=/dev/shm/graft_probe" \
  *   sbt "runMain graft.AdmissionSeedProbe /tmp/sf12.5xm"
  *
  * Stages: bootstrap_s (from-scratch trigger 0 over the corpus),
  * day_s (one daily batch on that dir), artifacts_s (building +
  * materializing the filtered corpus / fp set / survivor index — the
  * cost the nightly snapshot job already paid; timed for reference),
  * seed_s (the copies), day_seeded_s (the same daily batch on the
  * seeded dir — must track the batch like day_s). Verdict counts from
  * both days are printed; StreamBootstrapSpec pins their exact
  * equality at fixture scale. Prints one JSON line. */
object AdmissionSeedProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = LocalCpus()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = scala.collection.mutable.LinkedHashMap[String, String](
      "probe" -> "\"admission_seed\"", "sf" -> s""""$sfDir"""")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      out(name) = f"${(System.nanoTime() - t0) / 1e9}%.2f"
      r
    }

    val dirA = java.nio.file.Files.createTempDirectory("graft_asp_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_asp_b").toString
    try {
      val docs = Tables.wide(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"))
      val corpus = docs.as(Encoders.product[NdDoc])
      out("corpus_docs") = corpus.count().toString
      val pfx = array_join(slice(split(col("text"), " "), lit(1),
        expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")), " ")
      val day = docs.filter(col("doc_id") % 200 === 0)
        .select((col("doc_id") +
            ExtensionQueries.ArrivalOffsets("increment")).as("doc_id"),
          pfx.as("text"))
        .as(Encoders.product[NdDoc]).localCheckpoint()
      out("batch_docs") = day.count().toString

      // from scratch: the whole curated corpus replays as trigger 0
      timed("bootstrap_s") {
        val _ = StreamAdmission.curateBatch(corpus, 0L, dirA)
      }
      timed("day_s") {
        val _ = StreamAdmission.curateBatch(day, 1L, dirA)
      }
      def dayVerdicts(dir: String): Long =
        StreamAdmission.allVerdicts(spark, dir)
          .filter(col("doc_id") >=
            ExtensionQueries.ArrivalOffsets("increment"))
          .count()
      out("verdicts_scratch") = StreamAdmission.allVerdicts(spark, dirA)
        .count().toString
      out("day_verdicts_scratch") = dayVerdicts(dirA).toString

      // the nightly artifacts a deployment already holds — built and
      // MATERIALIZED here so seed_s times only the copies
      val (filtDocs, fps, index) = timed("artifacts_s") {
        val filt = docs
          .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
          .filter(TextAnalysis.langIdNative(col("text")) === "en" &&
            TextAnalysis.qualityScore(col("text")) >= 0.3)
          .localCheckpoint()
        val wFp = Window.partitionBy("fp").orderBy("doc_id")
        val surv = filt.withColumn("_rn", row_number().over(wFp))
          .filter(col("_rn") === 1).select("doc_id", "text")
        val idx = Dedup.postingIndex(surv, "doc_id", "text", 3)
          .localCheckpoint()
        val f = filt.select("fp").distinct().localCheckpoint()
        (filt.select("doc_id", "text"), f, idx)
      }
      timed("seed_s") {
        StreamBootstrap.seedAdmission(dirB, filtDocs, index, fps,
          graft.streaming.StreamParams.admission(3, 500000L,
            Dedup.DfCap.NoCap))
      }
      timed("day_seeded_s") {
        val _ = StreamAdmission.curateBatch(day, 0L, dirB)
      }
      out("day_verdicts_seeded") = dayVerdicts(dirB).toString
    } finally {
      println(out.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
      graft.streaming.StreamIndex.deleteTree(dirA)
      graft.streaming.StreamIndex.deleteTree(dirB)
      spark.stop()
    }
  }
}
