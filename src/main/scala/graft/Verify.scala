package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts both the dump and
    // oracle_sql.json to those rows (absent → all), so check_oracle.py
    // compares exactly them. A name that is not an oracle row fails
    // here instead of dumping nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach(SparkEntry.requireKnown(_, SparkEntry.queries.keySet,
      "SPARK_GRAFT_ONLY names no oracle row"))
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (n, _) => set(n) }
      case None      => SparkEntry.queries
    }
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // Exercise every materialized per-snapshot artifact end-to-end:
    // write the bucketed snapshot table once, point the session conf
    // at it, and evict the memo — the consuming queries then run the
    // READ-BACK path, so their oracle rows prove the durable tables
    // serve the same rows the build path does (x35b/x36/x34b in a
    // fresh JVM read saveAsTable artifacts, not memos). Any failure
    // falls back to the memo build. A consumer name must be an oracle
    // row: after a rename the read-back path would silently go unrun.
    def snapshot(consumers: Set[String], what: String)(write: => Unit): Unit = {
      SparkEntry.requireKnown(consumers, SparkEntry.queries.keySet,
        s"$what snapshot consumers are not oracle rows")
      if (selected.keys.exists(consumers)) {
        try write
        catch { case e: Throwable =>
          System.err.println(
            s"[verify] $what snapshot failed (memo fallback): ${e.getMessage}")
        }
      }
    }
    snapshot(Set("x11_dup_clusters", "x17_cluster_canonical",
        "x29_leakage_split"), "cluster-map") {
      ExtensionQueries.useClusterMap(spark, sfDir, "g_cluster_map_snapshot")
      ExtensionQueries.evictClusterMap(spark, sfDir)
    }
    snapshot(Set("x33_incremental_from_index", "x37b_containment_from_index",
        "x34b_curation_from_index"), "posting-index") {
      ExtensionQueries.usePostingIndex(spark, sfDir, "g_posting_index_snapshot")
      ExtensionQueries.evictPostingIndex(spark, sfDir)
    }
    snapshot(Set("x35b_lsh_from_artifact", "x41_lsh_fold_serve"),
        "lsh-artifacts") {
      ExtensionQueries.useLshArtifacts(spark, sfDir, "g_lsh_snapshot")
      ExtensionQueries.evictLshArtifacts(spark, sfDir)
    }
    snapshot(Set("x34b_curation_from_index"), "corpus-fp") {
      ExtensionQueries.useCorpusFp(spark, sfDir, "g_corpus_fp_snapshot")
      ExtensionQueries.evictCorpusFp(spark, sfDir)
    }
    snapshot(Set("x36_incremental_embed_neardup", "x42_emb_fold_serve"),
        "emb-buckets") {
      ExtensionQueries.useEmbBuckets(spark, sfDir, "g_emb_buckets_snapshot")
      ExtensionQueries.evictEmbBuckets(spark, sfDir)
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
