package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for scale-critical queries
  * so pushdown / pruning / join strategy can be audited (the "is this
  * the plan you'd want at 100 TB" check). A name prefixed `exec:` is
  * EXECUTED first and the final adaptive plan printed — the only way
  * to see AQE-time decisions (exchange/stage reuse, runtime broadcast
  * demotion, skew splits), which never appear in the static explain. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("a1_po_totals", "j1_reconciliation", "j5_threeway_2key",
        "w1_top1_per_key", "j3_knn_nearest", "x5_ann_cosine_topk",
        "j7_asof_join", "j8_range_join", "a5_rollup", "a8_pivot",
        "c3_exists", "x9_hash_sample")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val (exec, name) = if (n.startsWith("exec:")) (true, n.drop(5)) else (false, n)
      println(s"\n========== $n ==========")
      val df = SparkEntry.all(name)(spark, sfDir)
      if (exec) { val _ = df.collect() } // materialize → AQE final plan
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
