package graft

import graft.operators.Similarity
import graft.streaming.{EmbDoc, StreamBootstrap, StreamEmbed, StreamParams}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** ST12's replica-scale economics — the vector twin of
  * StreamClustersProbe's measurement set:
  *
  *  - bootstrap_s: the whole vector corpus through trigger 0 (its
  *    batch-internal candidate listing is the full bucket self-join —
  *    the cost a seedless adoption pays);
  *  - day_s: a ~0.5% re-embed trigger on that dir (the steady state —
  *    must track the batch, not the corpus);
  *  - rerank A/B on IDENTICAL post-bootstrap state, uncommitted: the
  *    exact quantized rerank fed with (A) the full corpus∪batch — the
  *    x36 serve shape, which quantizes AND shuffles the whole corpus
  *    per trigger — vs (B) the corpus RESTRICTED to candidate-touched
  *    ids first (broadcast semi-join), which quantizes O(candidates);
  *    the winner at scale informs StreamEmbed's default;
  *  - seed_s / seed_byref_s: ST12 adoption from the durable
  *    probed-bucket artifact — physical copy vs pointer markers —
  *    then a day trigger on each seeded dir (verdict parity with the
  *    scratch day is spec-pinned at fixture scale; here the cost).
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
  *   SPARK_GRAFT_CONF="spark.local.dir=/dev/shm/graft_probe" \
  *   sbt "runMain graft.StreamEmbedProbe /tmp/sf12.5xm"
  */
object StreamEmbedProbe {
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
      "probe" -> "\"stream_embed\"", "sf" -> s""""$sfDir"""")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      out(name) = f"${(System.nanoTime() - t0) / 1e9}%.2f"
      r
    }

    val dir = java.nio.file.Files.createTempDirectory("graft_sep").toString
    val dirP = java.nio.file.Files.createTempDirectory("graft_sep_p").toString
    val dirR = java.nio.file.Files.createTempDirectory("graft_sep_r").toString
    val enc = Encoders.product[EmbDoc]
    val ppm = 990000L
    try {
      val corpus = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint()
      out("corpus_vecs") = corpus.count().toString
      val day = corpus.filter(col("vec_id") % 200 === 0)
        .select((col("vec_id") +
            ExtensionQueries.ArrivalOffsets("increment")).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
        .localCheckpoint()
      out("batch_vecs") = day.count().toString

      timed("bootstrap_s") {
        val _ = StreamEmbed.pairBatch(corpus.as(enc), 0L, dir,
          cosThresholdPpm = ppm)
      }
      out("bootstrap_pairs") = StreamEmbed.allPairs(spark, dir)
        .count().toString

      // rerank A/B on identical state, uncommitted: candidates from
      // the accumulated buckets, then the exact quantized rerank fed
      // (A) the whole corpus∪batch vs (B) the candidate-touched subset
      val floatDay = day.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      val cand = Similarity.incrementalLshCandidates(
          StreamEmbed.bucketsView(spark, dir), floatDay,
          "vec_id", "embedding", 64, 12)
        .localCheckpoint()
      out("day_candidates") = cand.count().toString
      val union = StreamEmbed.corpusView(spark, dir).unionByName(day)
      out("rerank_full_n") = timed("rerank_full_s") {
        ExtensionQueries.quantizedCosOnPairs(union, cand, "ida", "idb")
          .filter(col("cos") >= ppm / 1e6).count()
      }.toString
      val touched = cand.select(col("ida").as("vec_id"))
        .unionByName(cand.select(col("idb").as("vec_id"))).distinct()
      val restricted = union.join(broadcast(touched), Seq("vec_id"),
        "left_semi")
      out("rerank_restricted_n") = timed("rerank_restricted_s") {
        ExtensionQueries.quantizedCosOnPairs(restricted, cand, "ida", "idb")
          .filter(col("cos") >= ppm / 1e6).count()
      }.toString

      // the committed steady-state day trigger
      timed("day_s") {
        val _ = StreamEmbed.pairBatch(day.as(enc), 1L, dir,
          cosThresholdPpm = ppm)
      }
      out("day_pairs") = spark.read.parquet(s"$dir/pairs/b=1")
        .count().toString
      timed("compact_s") {
        val _ = StreamEmbed.compactBuckets(spark, dir)
      }

      // ST12 adoption: the durable artifacts a deployment holds
      val tc = "g_sep_corpus"; val tb = "g_sep_buckets"
      Seq(tc, tb).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val buckets = Similarity.probedBuckets(
        corpus.select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
        "vec_id", "embedding", 64, 12)
      timed("tables_s") {
        corpus.write.format("parquet").saveAsTable(tc)
        buckets.write.format("parquet").saveAsTable(tb)
      }
      val params = StreamParams.embed(64, 12, ppm)
      timed("seed_s") {
        StreamBootstrap.seedEmbed(dirP, corpus, buckets, params)
      }
      timed("seed_byref_s") {
        ExtensionQueries.seedEmbedFromTablesByRef(spark, dirR, tc, tb,
          cosThresholdPpm = ppm)
      }
      timed("day_seeded_s") {
        val _ = StreamEmbed.pairBatch(day.as(enc), 0L, dirP,
          cosThresholdPpm = ppm)
      }
      timed("day_byref_s") {
        val _ = StreamEmbed.pairBatch(day.as(enc), 0L, dirR,
          cosThresholdPpm = ppm)
      }
      out("day_pairs_seeded") = spark.read.parquet(s"$dirP/pairs/b=0")
        .count().toString
      out("day_pairs_byref") = spark.read.parquet(s"$dirR/pairs/b=0")
        .count().toString
      Seq(tc, tb).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally {
      println(out.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
      graft.streaming.StreamIndex.deleteTree(dir)
      graft.streaming.StreamIndex.deleteTree(dirP)
      graft.streaming.StreamIndex.deleteTree(dirR)
      spark.stop()
    }
  }
}
