package graft

import graft.operators.Dedup
import graft.streaming.StreamNearDup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Measures what [[graft.streaming.StreamNearDup.compactIndex]] buys:
  * the per-trigger incremental pairing cost against T accumulated
  * per-batch index deltas (a stream that has run T triggers without
  * maintenance) vs against the ONE compacted snapshot, plus the
  * compaction cost itself — the amortization evidence for running the
  * maintenance pass every K triggers.
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "runMain graft.CompactionProbe /tmp/sf2.5xm 64 [reps]"
  *
  * Builds the T-delta layout directly (postingIndex per batch — the
  * write path's artifact, skipping the per-trigger pair stages the
  * probe doesn't time), then times the LAST batch's pairing through
  * [[graft.streaming.StreamNearDup.indexView]] both ways. Prints one
  * JSON line. */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nBatches = if (args.length > 1) args(1).toInt else 64
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = LocalCpus()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        pmod(xxhash64(col("doc_id")), lit(nBatches)).as("_b"))
      .persist()
    val nDocs = docs.count()
    val baseDir = Files.createTempDirectory("graft_compact_probe").toString

    // lay down the committed stream state: corpus + index delta + fp
    // delta per batch (the write path's artifacts; pair/verdict
    // outputs aren't timed here)
    (0 until nBatches - 1).foreach { b =>
      val part = docs.filter(col("_b") === b).select("doc_id", "text")
      Dedup.postingIndex(part, "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$baseDir/index/b=$b")
      part.select(graft.operators.TextAnalysis.fingerprintMd5(col("text"))
          .as("fp")).distinct()
        .write.mode("overwrite").parquet(s"$baseDir/fps/b=$b")
      part.write.mode("overwrite").parquet(s"$baseDir/corpus/b=$b")
    }
    val lastBatch = docs.filter(col("_b") === (nBatches - 1))
      .select("doc_id", "text").persist()
    val nLast = lastBatch.count()

    def timePairing(): Double = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = Dedup.incrementalJaccardPairsFromIndexDeltas(
          StreamNearDup.indexView(spark, baseDir, 3), lastBatch,
          "doc_id", "text", 3, 500000L).count()
        require(n >= 0)
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }
    // ST9's exact-dup probe: the last batch's fps against the
    // accumulated fp view (the other layer that grows one file per
    // trigger without maintenance)
    def timeFpProbe(): Double = {
      val lastFps = lastBatch.select(
        graft.operators.TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = lastFps.join(
          graft.streaming.StreamAdmission.fpView(spark, baseDir),
          Seq("fp"), "left_semi").count()
        require(n >= 0)
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }
    def countFiles(layer: String): Long = {
      val walk = Files.walk(java.nio.file.Paths.get(s"$baseDir/$layer"))
      try walk.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .count()
      finally walk.close()
    }

    val deltaFiles = countFiles("index")
    val fpDeltaFiles = countFiles("fps")
    val viaDeltas = timePairing()
    val fpViaDeltas = timeFpProbe()
    val t0 = System.nanoTime()
    val snap = StreamNearDup.compactIndex(spark, baseDir, 3)
    val compactS = (System.nanoTime() - t0) / 1e9
    require(snap.contains((nBatches - 2).toLong), s"snapshot=$snap")
    val t1 = System.nanoTime()
    val fpSnap = graft.streaming.StreamAdmission.compactFps(spark, baseDir)
    val fpCompactS = (System.nanoTime() - t1) / 1e9
    require(fpSnap.contains((nBatches - 2).toLong), s"fp snapshot=$fpSnap")
    // covered-dir cleanup is deferred one pass (reader safety); the
    // no-op follow-ups perform the sweep so snapshot file counts
    // report the steady-state population
    require(StreamNearDup.compactIndex(spark, baseDir, 3).isEmpty)
    require(graft.streaming.StreamAdmission.compactFps(spark, baseDir).isEmpty)
    val snapFiles = countFiles("index")
    val fpSnapFiles = countFiles("fps")
    val viaSnapshot = timePairing()
    val fpViaSnapshot = timeFpProbe()

    println(f"""{"docs":$nDocs,"batches":$nBatches,"last_batch_docs":$nLast,""" +
      f""""delta_files":$deltaFiles,"snapshot_files":$snapFiles,""" +
      f""""pair_deltas_s":$viaDeltas%.3f,"compact_s":$compactS%.3f,""" +
      f""""pair_snapshot_s":$viaSnapshot%.3f,""" +
      f""""fp_delta_files":$fpDeltaFiles,"fp_snapshot_files":$fpSnapFiles,""" +
      f""""fp_probe_deltas_s":$fpViaDeltas%.3f,"fp_compact_s":$fpCompactS%.3f,""" +
      f""""fp_probe_snapshot_s":$fpViaSnapshot%.3f}""")
    spark.stop()
  }
}
