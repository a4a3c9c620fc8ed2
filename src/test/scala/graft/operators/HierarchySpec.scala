package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HierarchySpec extends SparkTestBase {
  import spark.implicits._

  private def resolve(nodes: Seq[Long], edges: Seq[(Long, Long)]) =
    Hierarchy.resolveToRoot(
        nodes.toDF("id"), "id",
        edges.toDF("child", "parent"), "child", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  test("deep chain resolves in 6 doubling rounds (depth 40 > 2^5)") {
    // 0 ← 1 ← 2 ← … ← 40: naive per-level loop needs 40 rounds,
    // doubling covers depth ≤ 63 in the default 6
    val out = resolve(0L to 40L, (1L to 40L).map(i => i -> (i - 1)))
    assert(out(0L) === ((0L, 0L)))
    assert(out(40L) === ((0L, 40L)))
    assert(out(17L) === ((0L, 17L)))
  }

  test("forest: each tree resolves to its own root, roots stay put") {
    //   0 ← 1, 0 ← 2, 2 ← 3   and a second tree   10 ← 11
    val out = resolve(Seq(0L, 1L, 2L, 3L, 10L, 11L),
      Seq(1L -> 0L, 2L -> 0L, 3L -> 2L, 11L -> 10L))
    assert(out(3L) === ((0L, 2L)))
    assert(out(11L) === ((10L, 1L)))
    assert(out(10L) === ((10L, 0L)))
    assert(out(0L) === ((0L, 0L)))
  }

  test("empty edges: every node is its own root at depth 0") {
    val out = resolve(Seq(5L, 6L), Seq.empty)
    assert(out === Map(5L -> ((5L, 0L)), 6L -> ((6L, 0L))))
  }

  test("the size-gated driver walk labels identically to the forced " +
      "distributed doubling loop (incl. the budget-capped deep chain)") {
    val nodes = 0L to 40L
    val edges = (1L to 40L).map(i => i -> (i - 1))
    def both(rounds: Int) = {
      val viaLocal = Hierarchy.resolveToRoot(nodes.toDF("id"), "id",
          edges.toDF("child", "parent"), "child", "parent", rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.conf.set(LocalGate.MaxRowsConf, "0")
      try {
        val viaDist = Hierarchy.resolveToRoot(nodes.toDF("id"), "id",
            edges.toDF("child", "parent"), "child", "parent", rounds)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(viaLocal === viaDist, s"rounds=$rounds")
      } finally spark.conf.unset(LocalGate.MaxRowsConf)
      viaLocal
    }
    val full = both(6) // depth 40 ≤ 2^6−1: fully resolved
    assert(full.contains((40L, 0L, 40L)))
    // rounds=4 caps the walk at 15 steps: the driver path must refuse
    // (budget-capped ancestors are the loop's semantics alone) and
    // fall back — equality with the forced loop proves it did
    val capped = both(4)
    assert(capped.contains((40L, 25L, 15L)))
  }

  test("convergence early-exit: a generous rounds ceiling is not paid") {
    // depth-3 tree: covered after round 2, round 3 advances nobody →
    // loop ends. AQE splits every action into several Spark jobs, so
    // absolute job counts are unstable — instead measure the SAME
    // resolution with the minimal ceiling (3) and with a generous one
    // (20): early exit means the generous run costs at most one extra
    // zero-advance probe round, never 17 extra rounds.
    def countJobs(thunk: => Unit): Int =
      org.apache.spark.graft.ListenerBus.jobsDuring(spark.sparkContext)(thunk)
    def run(rounds: Int): Map[Long, (Long, Long)] =
      Hierarchy.resolveToRoot(
          (0L to 7L).toDF("id"), "id",
          (1L to 7L).map(i => i -> (i - 1) / 2).toDF("child", "parent"),
          "child", "parent", rounds = rounds)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    var outMin: Map[Long, (Long, Long)] = null
    var outGen: Map[Long, (Long, Long)] = null
    val jobsMin = countJobs { outMin = run(3) }
    val jobsGen = countJobs { outGen = run(20) }
    assert(outGen === outMin)
    assert(outGen(7L) === ((0L, 3L))) // deepest leaf: 7→3→1→0
    assert(outGen(0L) === ((0L, 0L)))
    assert(jobsGen <= jobsMin + 6,
      s"generous ceiling ran $jobsGen jobs vs minimal $jobsMin — early exit broken?")
  }
}
