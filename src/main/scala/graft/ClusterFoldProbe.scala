package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures what [[ExtensionQueries.foldClusterMapDurable]] buys a
  * nightly deployment: the durable persist cost of a day's cluster-map
  * fold (staged patch write + batch-sized new-node append + one
  * properties flip) vs the corpus-sized snapshot overwrite
  * ([[ExtensionQueries.writeClusterMap]]) it replaces — plus the
  * patched-read tax and the periodic compaction cost, at replica scale
  * where the corpus:batch ratio makes the difference visible.
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
  *   sbt "runMain graft.ClusterFoldProbe /tmp/sf12.5xm"
  *
  * TWO fold days, and — unlike the round-13 fixture, whose increment
  * produced patch_rows=0 (pure appends) — both days RELABEL: besides
  * x39's re-crawl prefixes, each day adds word-mixture BRIDGE CHAINS
  * between existing cluster roots (step k of a chain takes the first
  * (S−k)/S of root a's words + the first k/S of root b's words, so
  * consecutive chain docs stay near-dup while the ends are exact
  * copies of a and b) — day 1 bridges root pairs (1,2),(3,4),…, day 2
  * bridges (2,3),(4,5),…, so day 2's relabels UNDERCUT day 1's and
  * the stored patch composes. Stages timed separately so the persist
  * cost is isolated from the pair discovery and CC build every
  * strategy shares:
  *  1. ccbuild   — the corpus cluster map (label propagation), built
  *                 once per snapshot under EITHER strategy;
  *  2. snapwrite — the bucketed corpus-sized table write (what a
  *                 fold-less nightly job re-pays per day);
  *  3. pairs1/2  — each day's new incremental pairs;
  *  4. fold1/2   — foldClusterMapDurable (fold 2 composes the patch);
  *  5. read1/2   — readClusterMap full count (the broadcast-relabel
  *                 tax every consumer pays, with a NON-EMPTY patch);
  *  6. compact   — compactClusterMap with real relabels to fold in.
  * Prints one JSON line (emitted even if a stage throws, with the
  * stages completed so far). */
object ClusterFoldProbe {
  private val BridgeSteps = 30
  private val MaxBridges = 400
  // bridge doc ids come from the REGISTERED probe domains (IdDomainSpec
  // guards them against the packed-id bound and cross-domain collision
  // at full replica scale — see ExtensionQueries.ArrivalOffsets)
  private val Day1BridgeOffset =
    ExtensionQueries.ArrivalOffsets("probe_bridge_day1")
  private val Day2BridgeOffset =
    ExtensionQueries.ArrivalOffsets("probe_bridge_day2")

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
    // SPARK_GRAFT_CONF="k=v;…" — the same posture-injection hook as
    // TimeOne/Bench (tmpfs local-dir for replica-scale runs)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = scala.collection.mutable.LinkedHashMap[String, String](
      "probe" -> "\"cluster_fold\"", "sf" -> s""""$sfDir"""")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      out(name) = f"${(System.nanoTime() - t0) / 1e9}%.2f"
      r
    }

    val table = "g_fold_probe_map"
    // a previous run's base AND patch tables would poison this one
    // (a stale patch would compose into the first fold)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"SHOW TABLES LIKE '${table}_patch_e*'").collect()
      .map(_.getString(1))
      .foreach(p => spark.sql(s"DROP TABLE IF EXISTS $p"))

    try {
      // 1. corpus cluster map build (memoized persisted frame)
      val map = timed("ccbuild_s") {
        val m = ExtensionQueries.clusterMapArtifact.memoized(spark, sfDir)
        val _ = m.count()
        m
      }
      out("map_rows") = map.count().toString
      // 2. the corpus-sized snapshot write — the per-day cost WITHOUT
      // the durable fold (build already paid above, so this times the
      // bucketed table write alone)
      timed("snapwrite_s") {
        ExtensionQueries.writeClusterMap(spark, sfDir, table)
      }

      val docs = Tables.wide(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"))
      val kWords =
        expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
      val roots = ProbeFixtures.rankedRoots(map, docs, 2 * MaxBridges + 2)

      // day 1: x39's re-crawl prefixes (pure appends) + bridges over
      // root pairs (1,2),(3,4),… (relabels)
      val day1 = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + 5000000000000L).as("doc_id"),
          array_join(slice(split(col("text"), " "), lit(1), kWords), " ")
            .as("text"))
        .unionByName(ProbeFixtures.bridges(roots, 1, Day1BridgeOffset,
          BridgeSteps))
      // day 2: bridges over root pairs (2,3),(4,5),… — merges ACROSS
      // day 1's merged clusters, so fold 2 must compose the patch
      val day2 = ProbeFixtures.bridges(roots, 2, Day2BridgeOffset,
        BridgeSteps)

      def patchRows(): Long = {
        val pt = ExtensionQueries.clusterPatchTable(table,
          DurableArtifact.foldsOf(spark, table))
        if (spark.catalog.tableExists(pt)) spark.table(pt).count() else 0L
      }

      Seq(("1", day1), ("2", day2)).foreach { case (dayTag, inc) =>
        // 700000 ppm (not the x39 oracle's 800000): the probe's chain
        // steps sit near J ≈ 0.82-0.86 — the looser gate keeps every
        // consecutive chain link, which is what makes the bridges
        // actually merge clusters. The probe measures cost, not an
        // oracle row.
        val p = timed(s"pairs${dayTag}_s") {
          val pf = Dedup.incrementalJaccardPairsPpm(docs, inc,
            "doc_id", "text", 3, 700000L, Dedup.DfCap.NoCap).persist()
          out(s"n_pairs$dayTag") = pf.count().toString
          pf
        }
        // the PERSISTED frame goes straight into the fold — the fold
        // reads it once more (roots lookup + contraction), so cache
        // reuse here is load-bearing, not cosmetic
        timed(s"fold${dayTag}_s") {
          ExtensionQueries.foldClusterMapDurable(spark, sfDir, table, p)
        }
        p.unpersist()
        out(s"patch_rows$dayTag") = patchRows().toString
        val n = timed(s"read${dayTag}_s") {
          ExtensionQueries.readClusterMap(spark, table).count()
        }
        out(s"folded_rows$dayTag") = n.toString
      }

      // periodic compaction back to a canonical snapshot — with a
      // composed non-empty patch to fold in
      timed("compact_s") {
        ExtensionQueries.compactClusterMap(spark, table)
      }
    } finally {
      println(out.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
      spark.stop()
    }
  }
}
