package graft

import org.apache.spark.sql.functions._

/** Dev probe (like PlanAudit/TimeOne): measures LSH and IVF top-k
  * recall against brute force on the real embeddings fixture, for
  * parameter selection behind x5b/x5c's recall contracts.
  *
  * Usage: runMain graft.AnnRecall [sfDir] */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession()

    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val queries = corpus.filter(col("vec_id") < 8)
    val k = 10

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val brute = pairSet(operators.Similarity.bruteForceTopK(
      corpus, queries, "vec_id", "embedding", k))
    println(s"[annrecall] sf=$sfDir brute pairs=${brute.size}")

    def perQueryMin(hits: Set[(Long, Long)]): Double =
      brute.groupBy(_._1).map { case (q, t) =>
        (t intersect hits).size.toDouble / t.size
      }.min

    for (nPlanes <- Seq(6, 8, 10, 12); mp <- Seq(true, false)) {
      val lsh = pairSet(operators.Similarity.lshTopKMulti(
        corpus, queries, "vec_id", "embedding", 64, k, nPlanes, nTables = 1, mp))
      val rec = (brute intersect lsh).size.toDouble / brute.size
      println(f"[annrecall] lsh nPlanes=$nPlanes multiProbe=$mp recall=$rec%.3f")
    }
    for (r <- Seq(3, 4, 5); l <- Seq(8, 16); mp <- Seq(true, false)) {
      val lsh = pairSet(operators.Similarity.lshTopKMulti(
        corpus, queries, "vec_id", "embedding", 64, k, r, l, mp))
      val rec = (brute intersect lsh).size.toDouble / brute.size
      println(f"[annrecall] lshMulti r=$r L=$l multiProbe=$mp recall=$rec%.3f minPerQuery=${perQueryMin(lsh)}%.3f")
    }
    for (nLists <- Seq(8, 16); nProbe <- Seq(2, 4, 5)) {
      val ivf = pairSet(operators.Similarity.ivfTopK(
        corpus, queries, "vec_id", "embedding", k, nLists, nProbe))
      val rec = (brute intersect ivf).size.toDouble / brute.size
      println(f"[annrecall] ivf nLists=$nLists nProbe=$nProbe recall=$rec%.3f minPerQuery=${perQueryMin(ivf)}%.3f")
    }
    spark.stop()
  }
}
