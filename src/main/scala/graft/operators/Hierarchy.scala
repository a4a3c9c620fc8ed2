package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy traversal — the `WITH RECURSIVE` migration gap. Spark has
  * no recursive CTE; the scale-correct replacement for "walk every
  * node to its root" is POINTER DOUBLING: keep a jump table of
  * (node → 2^k-th ancestor, distance) and square it each round while
  * states apply the current jumps. After r rounds every node has
  * advanced up to 2^r − 1 steps, so SIX rounds resolve any hierarchy
  * of depth ≤ 63 — org charts, BOM explosions, thread trees, category
  * taxonomies all fit with room to spare. A naive per-level loop costs
  * O(depth) shuffle rounds (a 40-deep BOM = 40 jobs); doubling costs
  * O(log depth) with the same per-round join+select shape, which is
  * the difference between 6 and 40 barriers at 100 TB.
  */
object Hierarchy {

  /** Resolve every node to (id, anc, depth): `anc` = the root of its
    * tree (or the 2^rounds−1-step ancestor if deeper — callers size
    * `rounds` to ⌈log2(maxDepth+1)⌉), `depth` = exact distance
    * travelled. Roots (no outgoing edge) keep anc = id, depth = 0.
    * Both the state and the jump table persist per round, and the
    * previous round unpersists — bounded lineage, bounded storage,
    * exactly the connectedComponents discipline.
    *
    * CONVERGENCE-AWARE: the per-round materialization action doubles
    * as the convergence probe (number of nodes that advanced this
    * round — same job, one extra aggregate column, never an extra
    * pass), and a zero-advance round ends the loop: `rounds` is a
    * ceiling for the deepest tree the caller accepts, not a fixed
    * price. An org-chart-shaped hierarchy (depth ≤ 7) resolves in 4
    * rounds under the default 6; callers can leave a generous ceiling
    * without paying for it (HierarchySpec pins the job count).
    *
    * DRIVER PATH: when both node and edge counts fit [[LocalGate]],
    * the hierarchy is walked with a driver-side memoized chase instead
    * of the doubling loop. Each doubling round costs two driver
    * actions at ~0.5 s of local stage latency at ANY SF, so a 4-round
    * org-chart resolution was paying ~8 stage floors for microseconds
    * of pointer chasing; above the gate (or on inputs the walk cannot
    * faithfully replay: duplicate child edges, depth past the rounds
    * budget, cycles) the loop runs unchanged. HierarchySpec pins
    * local ≡ forced-distributed. */
  def resolveToRoot(nodes: DataFrame, idCol: String,
      edges: DataFrame, childCol: String, parentCol: String,
      rounds: Int = 6): DataFrame = {
    val spark = nodes.sparkSession
    val maxLocal = LocalGate.maxRows(spark)
    if (maxLocal > 0) {
      val nodesL = nodes.select(col(idCol).cast("long").as("id")).persist()
      val edgesL = edges.select(col(childCol).cast("long").as("c"),
        col(parentCol).cast("long").as("p")).persist()
      val fits = nodesL.count() <= maxLocal && edgesL.count() <= maxLocal
      val resolved = if (fits)
        localResolve(nodesL.collect().map(_.getLong(0)),
          edgesL.collect().map(r => (r.getLong(0), r.getLong(1))), rounds)
      else None
      resolved match {
        case Some(rows) =>
          nodesL.unpersist(); edgesL.unpersist()
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("anc",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("depth",
              org.apache.spark.sql.types.LongType)))
          return spark.createDataFrame(
            java.util.Arrays.asList(rows.map { case (i, a, dp) =>
              org.apache.spark.sql.Row(i, a, dp) }: _*), schema)
        case None =>
          // above the gate or unreplayable input: run the loop from
          // the ORIGINAL frames (its per-round persists bound the
          // re-derivation to one extra source scan; materializing the
          // corpus-sized result just to free the probe frames would
          // cost far more at scale)
          nodesL.unpersist(); edgesL.unpersist()
          return resolveDistributed(nodes, idCol, edges, childCol,
            parentCol, rounds)
      }
    }
    resolveDistributed(nodes, idCol, edges, childCol, parentCol, rounds)
  }

  /** The driver-side walk: one memoized parent chase per node under
    * the doubling loop's exact step budget (2^rounds − 1). Returns
    * None when the input cannot be replayed faithfully — a child with
    * two parent edges (the join would fan out, the map cannot) or a
    * walk that exhausts the budget (depth past the ceiling, or a
    * cycle: the loop's answer is then the budget-capped ancestor,
    * which the memo cannot cache soundly) — and the caller falls back
    * to the distributed loop. */
  private def localResolve(nodeIds: Array[Long],
      edgeList: Array[(Long, Long)],
      rounds: Int): Option[Array[(Long, Long, Long)]] = {
    val budget =
      if (rounds >= 63) Long.MaxValue else (1L << rounds) - 1
    val parent = new java.util.HashMap[Long, Long](edgeList.length * 2)
    for ((c, p) <- edgeList) {
      if (parent.containsKey(c) && parent.get(c) != p) return None
      parent.put(c, p)
    }
    val memo = new java.util.HashMap[Long, (Long, Long)](nodeIds.length * 2)
    val path = new scala.collection.mutable.ArrayBuffer[Long]()
    val out = new Array[(Long, Long, Long)](nodeIds.length)
    var i = 0
    while (i < nodeIds.length) {
      val start = nodeIds(i)
      var cur = start
      var steps = 0L
      path.clear()
      var hit: (Long, Long) = null
      while (hit == null) {
        val m = memo.get(cur)
        if (m != null) hit = m
        else if (!parent.containsKey(cur)) hit = (cur, 0L)
        else {
          // depth past budget, or (steps > |edges|) a revisit = cycle
          // — the unbounded-budget case must not spin forever
          if (steps >= budget || steps > edgeList.length) return None
          path += cur
          cur = parent.get(cur)
          steps += 1
        }
      }
      // memoize the walked prefix (full resolutions only)
      var back = path.length
      while (back > 0) {
        back -= 1
        val d = hit._2 + (path.length - back)
        memo.put(path(back), (hit._1, d))
      }
      val total = hit._2 + path.length
      if (total > budget) return None // safety: memo-joined depth over budget
      out(i) = (start, hit._1, total.toLong)
      i += 1
    }
    Some(out)
  }

  private def resolveDistributed(nodes: DataFrame, idCol: String,
      edges: DataFrame, childCol: String, parentCol: String,
      rounds: Int): DataFrame = {
    var state = nodes
      .select(col(idCol).cast("long").as("id"),
        col(idCol).cast("long").as("anc"), lit(0L).as("depth"))
    var jump = edges
      .select(col(childCol).cast("long").as("node"),
        col(parentCol).cast("long").as("janc"), lit(1L).as("jd"))
    var prev: Seq[DataFrame] = Nil
    var r = 1
    var converged = false
    while (r <= rounds && !converged) {
      val s2 = state.join(jump, state("anc") === jump("node"), "left")
        .select(state("id"),
          coalesce(col("janc"), state("anc")).as("anc"),
          (state("depth") + coalesce(col("jd"), lit(0L))).as("depth"),
          col("janc").isNotNull.as("_adv"))
        .persist()
      // one action: materializes s2 AND reports how many rows advanced
      val advanced = s2
        .agg(coalesce(sum(when(col("_adv"), 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0)
      converged = advanced == 0L
      val j2 =
        if (converged || r == rounds) jump // no further jumps applied
        else jump.as("a")
          .join(jump.as("b"), col("a.janc") === col("b.node"), "left")
          .select(col("a.node").as("node"),
            coalesce(col("b.janc"), col("a.janc")).as("janc"),
            (col("a.jd") + coalesce(col("b.jd"), lit(0L))).as("jd"))
          .persist()
      if (j2 ne jump) j2.count()
      prev.foreach(_.unpersist(blocking = false))
      prev = Seq(s2) ++ (if (j2 ne jump) Seq(j2) else Nil)
      state = s2
      jump = j2
      r += 1
    }
    state.select(col("id"), col("anc"), col("depth"))
  }
}
