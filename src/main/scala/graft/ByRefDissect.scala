package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off dissection of the by-ref day-trigger tax seen at 125×m
  * (StreamClustersProbe: day_byref 37 s vs day_seeded 6.7 s): times
  * the incremental pair listing and the cluster fold delta with the
  * index/cmap consumed EITHER as a parquet dir read (the physical
  * seed's shape) OR as a catalog-table read (the pointer's shape),
  * everything else held constant.
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g sbt \
  *     "runMain graft.ByRefDissect /tmp/sf12.5xm"
  */
object ByRefDissect {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
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
    val out = scala.collection.mutable.LinkedHashMap[String, String](
      "probe" -> "\"byref_dissect\"", "sf" -> s""""$sfDir"""")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      out(name) = f"${(System.nanoTime() - t0) / 1e9}%.2f"
      r
    }
    val scratch = java.nio.file.Files.createTempDirectory("graft_brd").toString
    try {
      val docs = Tables.wide(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"))
      val kWords =
        expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
      val pfx = array_join(
        slice(split(col("text"), " "), lit(1), kWords), " ")
      val day = docs.filter(col("doc_id") % 200 === 50)
        .select((col("doc_id") +
            ExtensionQueries.ArrivalOffsets("day2")).as("doc_id"),
          pfx.as("text")).localCheckpoint()
      out("batch_docs") = day.count().toString

      // the index both ways
      val idxDir = s"$scratch/index"
      timed("index_build_s") {
        Dedup.postingIndex(docs, "doc_id", "text", 3)
          .write.parquet(idxDir)
      }
      spark.sql("DROP TABLE IF EXISTS g_brd_index")
      timed("index_table_s") {
        spark.read.parquet(idxDir).write.format("parquet")
          .saveAsTable("g_brd_index")
      }
      def pairsOf(idx: org.apache.spark.sql.DataFrame): Long =
        Dedup.incrementalJaccardPairsFromIndexDeltas(idx, day,
          "doc_id", "text", 3, 700000L, Dedup.DfCap.NoCap).count()
      out("pairs_dir_n") = timed("pairs_dir_s") {
        pairsOf(spark.read.parquet(idxDir)) }.toString
      out("pairs_tbl_n") = timed("pairs_tbl_s") {
        pairsOf(DurableArtifact.epochRead(spark, "g_brd_index")) }.toString
      // repeat to split cache-warmth from path cost
      out("pairs_dir2_n") = timed("pairs_dir2_s") {
        pairsOf(spark.read.parquet(idxDir)) }.toString
      out("pairs_tbl2_n") = timed("pairs_tbl2_s") {
        pairsOf(DurableArtifact.epochRead(spark, "g_brd_index")) }.toString

      // the cluster-map fold both ways (map = trivial singletons here;
      // the fold's cost is the pair join against the map)
      val cmapDir = s"$scratch/cmap"
      val cmap = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
      timed("cmap_build_s") { cmap.write.parquet(cmapDir) }
      spark.sql("DROP TABLE IF EXISTS g_brd_cmap")
      spark.read.parquet(cmapDir).write.format("parquet")
        .saveAsTable("g_brd_cmap")
      val pairs = Dedup.incrementalJaccardPairsFromIndexDeltas(
          spark.read.parquet(idxDir), day, "doc_id", "text", 3, 700000L,
          Dedup.DfCap.NoCap)
        .select("ida", "idb").localCheckpoint()
      def foldOf(m: org.apache.spark.sql.DataFrame): Long = {
        val d0 = Dedup.clusterFoldDelta(m, pairs)
        d0.newNodes.count() + d0.relabel.count()
      }
      out("fold_dir_n") = timed("fold_dir_s") {
        foldOf(spark.read.parquet(cmapDir)) }.toString
      out("fold_tbl_n") = timed("fold_tbl_s") {
        foldOf(ExtensionQueries.readClusterMap(spark, "g_brd_cmap"))
      }.toString
    } finally {
      println(out.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
      graft.streaming.StreamIndex.deleteTree(scratch)
      spark.sql("DROP TABLE IF EXISTS g_brd_index")
      spark.sql("DROP TABLE IF EXISTS g_brd_cmap")
      spark.stop()
    }
  }
}
