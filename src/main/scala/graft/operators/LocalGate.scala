package graft.operators

import org.apache.spark.sql.SparkSession

/** The driver-path gate for small inputs: an operator whose input fits
  * [[MaxRowsConf]] collects it and computes on the driver, where each
  * distributed round would pay ~0.5 s of local stage latency at ANY SF
  * for microseconds of work; above the gate the distributed plan runs
  * unchanged. Shared by [[Dedup.connectedComponents]],
  * [[Dedup.clusterFoldDelta]] and [[Hierarchy.resolveToRoot]]. */
object LocalGate {

  /** Session conf: row/edge count up to which the gated operators run
    * on the driver (default 4M ≈ 64-96 MB collected — the
    * broadcast-join budget a cluster relabel map must fit anyway).
    * [[Dedup.clusterFoldDelta]] probes the batch's PAIR count first:
    * when the pairs fit (and the ids are longs), the whole fold — root
    * lookup aside — runs on the driver. Otherwise the distributed fold
    * probes its CONTRACTED edge count against the same gate and labels
    * the touched-cluster graph with a driver-side union-find when that
    * fits, the distributed min-label loop when not.
    * [[Dedup.connectedComponents]] gates its edge list and
    * [[Hierarchy.resolveToRoot]] its node and edge counts the same way.
    * IncrementalClusterSpec and HierarchySpec pin every path identical;
    * set 0 to force the distributed loops. */
  val MaxRowsConf = "spark.graft.foldLocalCcMaxEdges"

  /** [[MaxRowsConf]], validated. */
  def maxRows(spark: SparkSession): Long = {
    val raw = spark.conf.get(MaxRowsConf, "4000000")
    scala.util.Try(raw.toLong).toOption.filter(_ >= 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$MaxRowsConf must be a non-negative long, got '$raw'"))
  }
}
