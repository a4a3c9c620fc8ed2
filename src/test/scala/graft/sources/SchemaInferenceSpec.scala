package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class SchemaInferenceSpec extends SparkTestBase {

  private def forAllSeeded[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      check(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }
  import SchemaInference._

  test("precedence: DATE > INTEGER > FLOAT > STRING") {
    assert(inferColumn(Seq("2013-01-05", "1/5/2013", "2013/1/5")) === DateType)
    assert(inferColumn(Seq("1", "-42", "007")) === LongType)
    assert(inferColumn(Seq("1", "2.5")) === DoubleType)
    assert(inferColumn(Seq("1", "x")) === StringType)
    assert(inferColumn(Seq("2013-01-05", "7")) === StringType) // date+int mix
    assert(inferColumn(Seq("2/29/2012")) === DateType)         // leap day
    assert(inferColumn(Seq("1", "1d")) === StringType)         // Java-only float
  }

  test("null-likes are dropped before the vote; all-null → STRING") {
    assert(inferColumn(Seq("None", "", "NULL", "\\N")) === StringType)
    assert(inferColumn(Seq("None", "3", "NULL")) === LongType)
    assert(inferColumn(Seq(null, "2.5", "\\N")) === DoubleType)
  }

  test("date must fully match one of the 3 formats") {
    assert(inferColumn(Seq("2013-13-45")) === StringType)  // bad month/day
    assert(inferColumn(Seq("05.01.2013")) === StringType)  // wrong separator
    assert(inferColumn(Seq("20130105")) === LongType)      // int, not date
    // impossible days are rejected, not clamped to the month's end
    Seq("2013-02-30", "2/30/2013", "2013/4/31", "2/29/2013").foreach(v =>
      assert(inferColumn(Seq(v)) === StringType, v))
    // Java-only float forms that Python's float() rejects
    Seq("1d", "2f", "0x1p3").foreach(v =>
      assert(inferColumn(Seq(v)) === StringType, v))
  }

  test("property: inferred type accepts every sampled non-null value") {
    val cell = Gen.oneOf(
      Gen.choose(-1000000L, 1000000L).map(_.toString),
      Gen.choose(-1e6, 1e6).map(_.toString),
      Gen.alphaStr.suchThat(_.nonEmpty),
      Gen.oneOf("2013-01-05", "1/5/2013", "2013/1/5"),
      Gen.oneOf("None", "", "NULL", "\\N"))
    forAllSeeded(Gen.listOfN(20, cell), 50) { values =>
      val t = inferColumn(values)
      val live = values.filterNot(v => v == null || NullLikes(v))
      t match {
        case LongType   => assert(live.forall(isInt _))
        case DoubleType => assert(live.forall(isFloat _))
        case DateType   => assert(live.forall(isDate _))
        case StringType => ()
        case other      => fail(s"unexpected type $other")
      }
    }
  }
}
