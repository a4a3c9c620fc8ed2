package graft

import org.scalatest.funsuite.AnyFunSuite

/** The row registry: every bench row is declared once, as a RowDef, and
  * the name-keyed maps the mains read are views of that one list. */
class RowRegistrySpec extends AnyFunSuite {

  test("a repeated row name fails construction and names the duplicate") {
    val a = RowDef("r_a", CoreQueries.a1PoTotals, None)
    val b = RowDef("r_b", CoreQueries.a1PoTotals, Some("SELECT 1"))
    assert(RowDef.distinct(Seq(a, b)) == Seq(a, b))
    val e = intercept[IllegalArgumentException] {
      RowDef.distinct(Seq(a, b, a.copy(oracle = Some("SELECT 2"))))
    }
    assert(e.getMessage.contains("r_a"), e.getMessage)
    assert(!e.getMessage.contains("r_b"), e.getMessage)
  }

  test("172 oracle rows and 16 bench-only rows, 188 in all") {
    assert(SparkEntry.rows.size == 188)
    assert(SparkEntry.all.size == 188)
    assert(SparkEntry.queries.size == 172)
    assert(SparkEntry.oracleSql.size == 172)
    assert(SparkEntry.benchOnly.size == 16)
  }

  test("queries and oracleSql share one key set; benchOnly is disjoint") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.benchOnly.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
    assert(SparkEntry.all.keySet ==
      SparkEntry.queries.keySet ++ SparkEntry.benchOnly.keySet)
  }
}
