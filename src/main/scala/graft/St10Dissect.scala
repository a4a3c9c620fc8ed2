package graft

import graft.operators.Dedup
import graft.streaming.{NdDoc, StreamClusters, StreamIndex, StreamNearDup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage dissection for the st10/st11 bench rows: times every eager
  * action of the streamed cluster-maintenance protocol proof at bench
  * SF, so the ~8 s in-suite cost can be attributed (pairs write vs
  * index write vs corpus write vs fold vs composed view) before any
  * optimization touches the protocol. Run twice per JVM — rep 2 is
  * the warm number (codegen + FS caches). */
object St10Dissect {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = LocalCpus()
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[st10dissect] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // variant B: batch postings built once (localCheckpoint), pairs
    // from the prebuilt frame, index delta written from memory
    val optimized = args.length > 2 && args(2) == "opt"
    (1 to reps).foreach { rep =>
      println(s"[st10dissect] ---- rep $rep (opt=$optimized) ----")
      val docs = Tables.wide(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft_st10d").toString
      try {
        (0 until 3).foreach { b =>
          val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .as(org.apache.spark.sql.Encoders.product[NdDoc])
          // inlined pairBatch with per-write timers (same order:
          // pairs -> index delta -> corpus commit)
          t(s"trigger$b pairBatch") {
            graft.streaming.StreamParams.establish(dir,
              graft.streaming.StreamParams.neardup(3, 800000L,
                Dedup.DfCap.NoCap))
            if (optimized) {
              val bIdx = t(s"trigger$b   batch postings ckpt") {
                StreamIndex.batchCkpt(StreamIndex.deltaSized(
                  Dedup.postingIndex(batch.toDF(), "doc_id", "text", 3)))
              }
              t(s"trigger$b   pairs plan+write") {
                val p = Dedup.incrementalJaccardPairsFromIndexDeltasPrebuilt(
                  StreamNearDup.indexView(spark, dir, 3), bIdx,
                  800000L, Dedup.DfCap.NoCap)
                StreamIndex.deltaSized(p)
                  .write.mode("overwrite").parquet(s"$dir/pairs/b=$b")
              }
              t(s"trigger$b   index write") {
                bIdx.write.mode("overwrite").parquet(s"$dir/index/b=$b")
              }
            } else {
              t(s"trigger$b   pairs plan+write") {
                val p = Dedup.incrementalJaccardPairsFromIndexDeltas(
                  StreamNearDup.indexView(spark, dir, 3), batch.toDF(),
                  "doc_id", "text", 3, 800000L, Dedup.DfCap.NoCap)
                StreamIndex.deltaSized(p)
                  .write.mode("overwrite").parquet(s"$dir/pairs/b=$b")
              }
              t(s"trigger$b   index write") {
                StreamIndex.deltaSized(Dedup.postingIndex(batch.toDF(),
                    "doc_id", "text", 3))
                  .write.mode("overwrite").parquet(s"$dir/index/b=$b")
              }
            }
            t(s"trigger$b   corpus write") {
              StreamIndex.deltaSized(batch.toDF()).write.mode("overwrite")
                .parquet(s"$dir/corpus/b=$b")
            }
          }
          t(s"trigger$b fold") {
            StreamClusters.foldCommitted(spark, dir)
          }
        }
        val v = t("clusterView compose") {
          StreamClusters.clusterView(spark, dir)
        }
        val ck = t("localCheckpoint") { v.localCheckpoint() }
        t("noop sink (orderBy)") {
          ck.orderBy("doc_id").write.format("noop").mode("overwrite").save()
        }
      } finally StreamIndex.deleteTree(dir)
    }
    spark.stop()
  }
}
