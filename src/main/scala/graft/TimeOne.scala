package graft
/** Times one registered row: a noop-sink write per rep, after a1 has
  * warmed the session, with the Janino compiles each rep paid.
  *
  * Usage: runMain graft.TimeOne <row> [sfDir] [reps] */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    SparkEntry.requireKnown(Seq(name), SparkEntry.all.keySet, "TimeOne: no such row")
    val row = SparkEntry.all(name)
    val spark = LocalSession("spark.sql.adaptive.enabled" -> "true")
    SparkEntry.queries("a1_po_totals")(spark, sfDir).write.format("noop").mode("overwrite").save()
    // SPARK_GRAFT_WARMUP_DIR: run the SAME query once on a tiny SF
    // first — the rep1-dissection protocol that separates JVM/codegen
    // warmup (paid here, on negligible data) from data-dependent
    // first-run cost (still in rep1)
    sys.env.get("SPARK_GRAFT_WARMUP_DIR").foreach { wd =>
      val t0 = System.nanoTime()
      row(spark, wd).write.format("noop").mode("overwrite").save()
      println(f"[timeone] $name code-warmup on $wd: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // codegen_compiles: Janino compiles during the rep (JVM-wide), so
    // a warm rep that still compiles shows its codegen cache misses
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    (1 to reps).foreach { r =>
      val c0 = compiles
      val t0 = System.nanoTime()
      row(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[timeone] $name rep$r: ${(System.nanoTime()-t0)/1e9}%.2f s" +
        s" codegen_compiles=${compiles - c0}")
    }
    spark.stop()
  }
}
