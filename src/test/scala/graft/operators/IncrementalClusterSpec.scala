package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental cluster-map maintenance
  * ([[Dedup.foldPairsIntoClusterMap]]): fold ≡ full recompute on the
  * union pair graph — pinned on handcrafted merge topologies (every
  * structural case the contraction must get right) and on the real
  * corpus fixture with x39's exact pair machinery. The two-old-
  * clusters merge also re-elects the per-cluster canonical (x17's
  * consumer contract). */
class IncrementalClusterSpec extends SparkTestBase {

  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("ida", "idb")
  }

  private def mapOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** fold(cc(base), inc) must equal cc(base ∪ inc), node for node. */
  private def checkFold(base: Seq[(Long, Long)],
      inc: Seq[(Long, Long)]): Unit = {
    val mapped = Dedup.connectedComponents(pairsDf(base))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val folded = Dedup.foldPairsIntoClusterMap(mapped, pairsDf(inc))
    val rebuilt = Dedup.connectedComponents(pairsDf(base ++ inc))
      .select(col("node").as("doc_id"), col("cluster_id"))
    assert(mapOf(folded) === mapOf(rebuilt))
  }

  test("attach: a new node joins an existing cluster") {
    checkFold(base = Seq((1L, 2L), (10L, 11L)), inc = Seq((2L, 100L)))
  }

  test("merge: one new node bridges two old clusters") {
    // clusters {1,2} and {10,11} merge through 100 — every member of
    // the higher-rooted cluster must relabel to 1
    checkFold(base = Seq((1L, 2L), (10L, 11L)),
      inc = Seq((2L, 100L), (11L, 100L)))
  }

  test("chain merge: three old clusters through two new nodes") {
    checkFold(base = Seq((1L, 2L), (10L, 11L), (20L, 21L)),
      inc = Seq((2L, 100L), (10L, 100L), (100L, 101L), (101L, 21L)))
  }

  test("brand-new cluster: both endpoints unmapped") {
    checkFold(base = Seq((1L, 2L)), inc = Seq((100L, 101L), (101L, 102L)))
  }

  test("new node below the old root relabels the whole cluster") {
    // 0 < 1: the merged component's min is the NEW node
    checkFold(base = Seq((1L, 2L)), inc = Seq((0L, 2L)))
  }

  test("within-cluster pair is a no-op") {
    checkFold(base = Seq((1L, 2L), (2L, 3L)), inc = Seq((1L, 3L)))
  }

  test("empty increment returns the map unchanged") {
    checkFold(base = Seq((1L, 2L), (10L, 11L)), inc = Seq.empty)
  }

  test("direct old-old pair merges without any new node") {
    checkFold(base = Seq((1L, 2L), (10L, 11L)), inc = Seq((2L, 10L)))
  }

  test("a two-cluster merge re-elects the per-cluster canonical") {
    // x17's consumer contract: canonical = min doc_id per cluster.
    // Before the fold there are two canonicals (1 and 10); after the
    // merge exactly one survives, and it is the global min.
    val mapped = Dedup.connectedComponents(pairsDf(Seq((1L, 2L), (10L, 11L))))
      .select(col("node").as("doc_id"), col("cluster_id"))
    def canon(m: DataFrame) =
      m.groupBy("cluster_id").agg(min("doc_id").as("canonical"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(canon(mapped) === Set((1L, 1L), (10L, 10L)))
    val folded = Dedup.foldPairsIntoClusterMap(mapped,
      pairsDf(Seq((2L, 100L), (11L, 100L))))
    assert(canon(folded) === Set((1L, 1L)))
  }

  test("the forced distributed loop labels identically to the " +
      "driver-side union-find") {
    val base = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val inc = Seq((2L, 100L), (10L, 100L), (0L, 21L), (200L, 201L))
    val mapped = Dedup.connectedComponents(pairsDf(base))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val viaLocal = mapOf(Dedup.foldPairsIntoClusterMap(mapped, pairsDf(inc)))
    spark.conf.set(LocalGate.MaxRowsConf, "0")
    try {
      val viaDist = mapOf(Dedup.foldPairsIntoClusterMap(mapped, pairsDf(inc)))
      assert(viaDist === viaLocal)
    } finally spark.conf.unset(LocalGate.MaxRowsConf)
    assert(viaLocal === mapOf(Dedup.connectedComponents(
        pairsDf(base ++ inc))
      .select(col("node").as("doc_id"), col("cluster_id"))))
  }

  test("connectedComponents: the size-gated driver union-find labels " +
      "identically to the forced distributed min-label loop") {
    // chains, a merge-through-bridge, singleton-pair, and a component
    // whose min arrives last — the shapes the loop's fixpoint and the
    // union-find's path compression must agree on
    val edges = Seq((5L, 6L), (6L, 7L), (7L, 1L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (100L, 3L))
    val viaLocal = mapOf(Dedup.connectedComponents(pairsDf(edges)))
    spark.conf.set(LocalGate.MaxRowsConf, "0")
    try {
      val viaDist = mapOf(Dedup.connectedComponents(pairsDf(edges)))
      assert(viaDist === viaLocal)
    } finally spark.conf.unset(LocalGate.MaxRowsConf)
    assert(viaLocal === Set((5L, 1L), (6L, 1L), (7L, 1L), (1L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L),
      (100L, 3L), (3L, 3L)))
  }

  test("fuzz: fold ≡ union rebuild over 60 seeded random graphs, " +
      "batched into one comparison via disjoint id spaces") {
    // the IncrementalFuzzSpec trick: per-case disjoint id domains make
    // fold(⋃maps, ⋃pairs) = ⋃fold(map_k, pairs_k), so ONE Spark
    // comparison checks all 60 random (base, increment) graphs —
    // random merges, chains, new-only clusters, new-min relabels
    val rnd = new scala.util.Random(12021)
    def randPairs(off: Long, n: Int, dom: Int): Seq[(Long, Long)] =
      Seq.fill(n)((off + rnd.nextInt(dom), off + rnd.nextInt(dom)))
        .filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2))
    val cases = (0 until 60).map { k =>
      (randPairs(k * 10000L, 1 + rnd.nextInt(30), 40),
        randPairs(k * 10000L, rnd.nextInt(25), 60))
    }
    val allBase = cases.flatMap(_._1)
    val allInc = cases.flatMap(_._2)
    val mapped = Dedup.connectedComponents(pairsDf(allBase))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val rebuilt = mapOf(Dedup.connectedComponents(pairsDf(allBase ++ allInc))
      .select(col("node").as("doc_id"), col("cluster_id")))
    val folded = mapOf(Dedup.foldPairsIntoClusterMap(mapped, pairsDf(allInc)))
    assert(folded === rebuilt)
    // anti-vacuity: the random increments actually relabeled old rows
    // somewhere (a merge happened), and added new nodes
    val before = mapOf(mapped).toMap
    assert(folded.exists { case (n, l) => before.get(n).exists(_ != l) },
      "no case produced a relabel — fuzz degenerate")
    assert(folded.exists { case (n, _) => !before.contains(n) })
  }

  /** A fold delta as row sets — what StreamClusters persists — plus
    * whether it came off the driver path (local relations). */
  private case class DeltaRows(relabel: Set[(Long, Long)],
      newNodes: Set[(Long, Long)], broadcastable: Boolean, onDriver: Boolean)

  private def deltaOf(map: DataFrame, pairs: DataFrame): DeltaRows = {
    def rows(df: DataFrame) = df.select(df.columns.map(col(_).cast("long")).toIndexedSeq: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = Dedup.clusterFoldDelta(map, pairs)
    DeltaRows(rows(d.relabel), rows(d.newNodes), d.broadcastable,
      Seq(d.relabel, d.newNodes).forall(_.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
  }

  private def withGate[T](gate: Long)(body: => T): T = {
    spark.conf.set(LocalGate.MaxRowsConf, gate.toString)
    try body finally spark.conf.unset(LocalGate.MaxRowsConf)
  }

  /** The same delta rows as the forced distributed path (gate 0). */
  private def assertSameDelta(got: DeltaRows, map: DataFrame,
      pairs: DataFrame): Unit = {
    val dist = withGate(0)(deltaOf(map, pairs))
    assert(!dist.onDriver)
    assert(got.relabel === dist.relabel)
    assert(got.newNodes === dist.newNodes)
  }

  test("driver-path fold delta == distributed fold delta, row for row, " +
      "over the 60 seeded random graphs") {
    // same generator and seed as the fuzz test above; per-case
    // disjoint id domains, so one delta covers all 60 cases
    val rnd = new scala.util.Random(12021)
    def randPairs(off: Long, n: Int, dom: Int): Seq[(Long, Long)] =
      Seq.fill(n)((off + rnd.nextInt(dom), off + rnd.nextInt(dom)))
        .filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2))
    val cases = (0 until 60).map { k =>
      (randPairs(k * 10000L, 1 + rnd.nextInt(30), 40),
        randPairs(k * 10000L, rnd.nextInt(25), 60))
    }
    val mapped = Dedup.connectedComponents(pairsDf(cases.flatMap(_._1)))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val inc = pairsDf(cases.flatMap(_._2))
    val got = deltaOf(mapped, inc)
    assert(got.onDriver && got.broadcastable)
    assertSameDelta(got, mapped, inc)
    // anti-vacuity: both halves of the delta carry rows
    assert(got.relabel.nonEmpty && got.newNodes.nonEmpty)
  }

  test("the pair-count gate is inclusive: at the batch's pair count the " +
      "fold runs on the driver, one below it takes the distributed " +
      "path — same delta either way") {
    val mapped = Dedup.connectedComponents(
        pairsDf(Seq((1L, 2L), (10L, 11L), (20L, 21L))))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val incPairs = Seq((2L, 100L), (10L, 100L), (0L, 21L), (200L, 201L),
      (1L, 2L))
    val inc = pairsDf(incPairs)
    val atGate = withGate(incPairs.size.toLong)(deltaOf(mapped, inc))
    assert(atGate.onDriver && atGate.broadcastable)
    val below = withGate(incPairs.size - 1L)(deltaOf(mapped, inc))
    assert(!below.onDriver)
    // the within-cluster pair (1,2) drops in contraction, so the
    // distributed path's contracted probe still fits the gate
    assert(below.broadcastable)
    assertSameDelta(atGate, mapped, inc)
    assertSameDelta(below, mapped, inc)
    assert(atGate.relabel === Set((10L, 1L), (20L, 0L)))
  }

  test("int-keyed pairs take the distributed fold, with the long-keyed " +
      "driver path's delta") {
    import spark.implicits._
    val mapped = Dedup.connectedComponents(
        pairsDf(Seq((1L, 2L), (10L, 11L))))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val incPairs = Seq((2, 100), (11, 100), (0, 1), (300, 301))
    val intPairs = incPairs.toDF("ida", "idb")
    val viaInt = deltaOf(mapped, intPairs)
    assert(!viaInt.onDriver && viaInt.broadcastable)
    val viaLong = deltaOf(mapped,
      pairsDf(incPairs.map { case (a, b) => (a.toLong, b.toLong) }))
    assert(viaLong.onDriver)
    assert(viaInt.relabel === viaLong.relabel)
    assert(viaInt.newNodes === viaLong.newNodes)
    assert(viaLong.relabel === Set((1L, 0L), (10L, 0L)))
  }

  test("multi-day associativity: folding two day-batches sequentially " +
      "equals one fold and equals the full rebuild") {
    val rnd = new scala.util.Random(40917)
    def randPairs(off: Long, n: Int, dom: Int): Seq[(Long, Long)] =
      Seq.fill(n)((off + rnd.nextInt(dom), off + rnd.nextInt(dom)))
        .filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2))
    val base = (0 until 20).flatMap(k => randPairs(k * 1000L, 8, 30))
    val day1 = (0 until 20).flatMap(k => randPairs(k * 1000L, 6, 45))
    val day2 = (0 until 20).flatMap(k => randPairs(k * 1000L, 6, 60))
    val m0 = Dedup.connectedComponents(pairsDf(base))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val twoStep = mapOf(Dedup.foldPairsIntoClusterMap(
      Dedup.foldPairsIntoClusterMap(m0, pairsDf(day1)), pairsDf(day2)))
    val oneStep = mapOf(Dedup.foldPairsIntoClusterMap(m0,
      pairsDf(day1 ++ day2)))
    val rebuilt = mapOf(Dedup.connectedComponents(
        pairsDf(base ++ day1 ++ day2))
      .select(col("node").as("doc_id"), col("cluster_id")))
    assert(twoStep === rebuilt)
    assert(oneStep === rebuilt)
  }

  test("corpus fixture: x39's fold equals the from-scratch union map") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.wide(Tables.documents(spark, d))
      .select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val kWords = expr("cast((size(split(text, ' ')) * 9 + 9) div 10 as int)")
    val increment = docs.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + 5000000000000L).as("doc_id"),
        array_join(slice(ws, lit(1), kWords), " ").as("text"))
    val mapped = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.8))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val newPairs = Dedup.incrementalJaccardPairsPpm(docs, increment,
      "doc_id", "text", n = 3, thresholdPpm = 800000L,
      dfCap = Dedup.DfCap.NoCap)
    val folded = Dedup.foldPairsIntoClusterMap(mapped, newPairs)
    val rebuilt = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs.unionByName(increment), "doc_id",
          "text", n = 3, threshold = 0.8))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val f = mapOf(folded)
    val r = mapOf(rebuilt)
    assert(f === r)
    // anti-vacuity: the fold actually grew the map with batch nodes
    val mapRows = mapOf(mapped)
    assert(f.size > mapRows.size)
    assert(f.exists(_._1 >= 5000000000000L))
  }

  test("deep-base gate: a pathologically deep pair plan is severed to " +
      "a checkpoint leaf and still labels correctly; the artifact " +
      "build's pair generator stays UNDER the gate") {
    // the artifact build path (clusterMapArtifact) hands
    // ngramJaccardPairs straight in — it must stay below the gate so
    // the returned map keeps its analytic lineage (x29's exchange
    // reuse was bisected to break on a checkpoint leaf there)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val shallow = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8)
    assert(Dedup.planNodeCount(shallow) <= Dedup.DeepBaseNodeLimit,
      "the cluster-map build's pair plan crossed the deep-base gate — " +
        "x29's exchange reuse through the cached map is at risk; " +
        "re-bisect before raising the limit")

    // a deep base: the same tiny pair set behind a tower of no-op
    // projections — analyzed node count far past the gate. Before the
    // gate, 8 pre-checkpoint doubling rounds square a plan like this
    // into explainString OOM territory; with it, the loop starts from
    // a leaf and the labels still come out exact.
    var deep = pairsDf(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    (1 to 400).foreach { _ =>
      deep = deep.select(col("ida"), (col("idb") + 1 - 1).as("idb"))
    }
    assert(Dedup.planNodeCount(deep) > Dedup.DeepBaseNodeLimit)
    val labels = mapOf(Dedup.connectedComponents(deep)
      .select(col("node").as("doc_id"), col("cluster_id")))
    assert(labels === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L)))
  }
}
