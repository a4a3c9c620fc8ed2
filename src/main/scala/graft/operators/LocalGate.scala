package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-path gate for small inputs: an operator whose input fits
  * [[MaxRowsConf]] collects it and computes on the driver, where each
  * distributed round would pay ~0.5 s of local stage latency at ANY SF
  * for microseconds of work; above the gate the distributed plan runs
  * unchanged. Shared by [[Dedup.connectedComponents]],
  * [[Dedup.clusterFoldDelta]], [[Hierarchy.resolveToRoot]] and the
  * vector serve kernels ([[Similarity.incrementalLshCandidates]] and
  * the quantized cosine rerank). The helpers below are the pattern's
  * three pieces: the bounded probe ([[collectIfFits]], and
  * [[localIfFits]] on top of it), the way back into Spark
  * ([[longPairFrame]]), and the scan restricted to a driver-known id
  * set ([[filterToIds]]). */
object LocalGate {

  /** Session conf: collected elements up to which the gated operators
    * run on the driver (default 4M ≈ 64-96 MB collected — the
    * broadcast-join budget a cluster relabel map must fit anyway). An
    * id row or pair counts one element, a vector row its `dim`.
    * [[Dedup.clusterFoldDelta]] probes the batch's PAIR count first:
    * when the pairs fit (and the ids are longs), the whole fold — root
    * lookup aside — runs on the driver. Otherwise the distributed fold
    * probes its CONTRACTED edge count against the same gate and labels
    * the touched-cluster graph with a driver-side union-find when that
    * fits, the distributed min-label loop when not.
    * [[Dedup.connectedComponents]] gates its edge list and
    * [[Hierarchy.resolveToRoot]] its node and edge counts the same way.
    * IncrementalClusterSpec, HierarchySpec and VectorDriverPathSpec pin
    * every path identical; set 0 to force the distributed loops. */
  val MaxRowsConf = "spark.graft.foldLocalCcMaxEdges"

  /** [[MaxRowsConf]], validated. */
  def maxRows(spark: SparkSession): Long = {
    val raw = spark.conf.get(MaxRowsConf, "4000000")
    scala.util.Try(raw.toLong).toOption.filter(_ >= 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$MaxRowsConf must be a non-negative long, got '$raw'"))
  }

  /** The probe: `df`'s rows (in partition order) when `rows × width`
    * fits the gate, else None; over the gate the caller runs its
    * distributed plan. Gate 0 (or a row wider than the gate) always
    * answers None. A frame whose plan optimizes to a local relation (a
    * driver path's output) is answered with no Spark job. Otherwise
    * `df`'s own plan runs once and [[boundedCollect]] reads it. */
  def collectIfFits(df: DataFrame, width: Long = 1): Option[Array[Row]] = {
    val cap = (maxRows(df.sparkSession) / width.max(1L))
      .min(Int.MaxValue - 1L).toInt
    if (cap <= 0) return None
    val qe = df.queryExecution
    val rows = qe.optimizedPlan match {
      case l: LocalRelation => Option.when(l.data.length <= cap)(l.data)
      case _ => boundedCollect(qe.toRdd, cap)
    }
    rows.map { rs =>
      val toRow = ExpressionEncoder(df.schema).resolveAndBind()
        .createDeserializer()
      rs.iterator.map(toRow).toArray
    }
  }

  /** `rdd`'s rows when it holds at most `cap`, else None — in at most
    * three jobs, with the rows that reach the driver bounded by
    * 2 × cap + 3 per partition over all of them:
    *  1. every partition sends up to its share of `cap` (cap over the
    *     partition count, rounded up) plus one row; when none sends
    *     the extra row, that was all of `rdd` — the common case;
    *  2. else the partitions that did report their row counts (capped
    *     at cap + 1) — None when the total passes `cap`;
    *  3. else those partitions send their rows (each at most its
    *     count + 1, so a plan that re-runs differently is caught too).
    * A `limit(cap + 1).collect()` scans partitions incrementally (1,
    * then 4×, …), so a fitting probe of a multi-partition input (a
    * union) paid two or more jobs; one job that sends cap + 1 rows
    * from EVERY partition would ship partitions × cap rows over the
    * gate, past `spark.driver.maxResultSize`. */
  private def boundedCollect(rdd: RDD[InternalRow],
      cap: Int): Option[Seq[InternalRow]] = {
    val sc = rdd.sparkContext
    val share = ((cap + rdd.getNumPartitions - 1L) /
      rdd.getNumPartitions.max(1)).toInt
    val parts = sc.runJob(rdd, (it: Iterator[InternalRow]) =>
      it.take(share + 1).map(_.copy()).toArray)
    val full = parts.indices.filter(parts(_).length > share)
    val done = parts.iterator.filter(_.length <= share)
      .map(_.length.toLong).sum
    if (full.nonEmpty) {
      if (done + full.size * (share + 1L) > cap) return None
      val counts = sc.runJob(rdd, (it: Iterator[InternalRow]) =>
        it.take(cap + 1).size, full)
      if (done + counts.map(_.toLong).sum > cap) return None
      val limit = full.zip(counts).toMap
      val rest = sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) =>
        it.take(limit(ctx.partitionId()) + 1).map(_.copy()).toArray, full)
      full.zip(rest).foreach { case (i, part) => parts(i) = part }
    }
    Option.when(parts.iterator.map(_.length.toLong).sum <= cap)(
      parts.toSeq.flatten)
  }

  /** `df` as a local relation when `rows × width` fits the gate (its
    * rows collected by [[collectIfFits]]), else `df` itself — the input
    * of a chain whose steps each take their driver path on local input. */
  def localIfFits(df: DataFrame, width: Long = 1): DataFrame =
    collectIfFits(df, width).fold(df)(rows => df.sparkSession
      .createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))

  /** Whether `df` optimizes to a local relation — rows the driver
    * already holds, collected with no Spark job. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** A two-long-column local relation — driver-computed rows handed
    * back to Spark. */
  def longPairFrame(spark: SparkSession, a: String, b: String,
      rows: Iterable[(Long, Long)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toSeq.map { case (x, y) => Row(x, y) }: _*),
      StructType(Seq(a, b).map(StructField(_, LongType))))

  /** Id sets up to this size filter as an `InSet` predicate, larger
    * ones as a broadcast left-semi join. Measured on a 200k-row parquet
    * scan + collect, `local[4]`, ms/op (PERF.md "Small vector batches
    * on the driver"): 19 ids 87 vs 213, 1k ids 132 vs 172, 10k ids 395
    * vs 196. The predicate plans one job where the join plans two
    * (under AQE the broadcast stages as its own job), but its planning
    * cost grows with the literal set while the join's barely does. */
  val InSetMaxIds = 2000

  /** `df`'s rows whose `column` is in `ids` — the same rows (null keys
    * dropped) either way: `InSet` up to [[InSetMaxIds]], a broadcast
    * left-semi join against a local relation of the ids above it. */
  def filterToIds(df: DataFrame, column: String,
      ids: Iterable[Long]): DataFrame = {
    val distinct = ids.toSet
    if (distinct.size <= InSetMaxIds) df.filter(col(column).isInCollection(distinct))
    else {
      val keys = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(distinct.toSeq.map(Row(_)): _*),
        StructType(Seq(StructField("_gate_id", LongType))))
      df.join(broadcast(keys), df(column) === keys("_gate_id"), "left_semi")
    }
  }
}
