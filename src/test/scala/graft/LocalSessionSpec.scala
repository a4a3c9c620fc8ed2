package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' shared session posture, as a pure conf list. */
class LocalSessionSpec extends AnyFunSuite {

  private def confs(env: Map[String, String],
      extra: (String, String)*): Map[String, String] = {
    val list = LocalSession.confs(extra, env)
    assert(list.map(_._1).distinct === list.map(_._1), "one entry per key")
    list.toMap
  }

  test("defaults: local[n] with n shuffle partitions, UTC, the graft " +
      "extensions, no UI") {
    assert(confs(Map("SPARK_GRAFT_CPUS" -> "3")) === Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false"))
    val host = Runtime.getRuntime.availableProcessors.toString
    assert(confs(Map.empty)("spark.master") === s"local[$host]")
  }

  test("a main's extra confs and SPARK_GRAFT_CONF overrides win over " +
      "the defaults, SPARK_GRAFT_CONF last") {
    val overrides = "spark.sql.shuffle.partitions=16;" +
      "spark.local.dir=/tmp/x=y;spark.sql.adaptive.enabled=false;"
    val c = confs(Map("SPARK_GRAFT_CPUS" -> "4",
        "SPARK_GRAFT_CONF" -> overrides),
      "spark.sql.adaptive.enabled" -> "true", "spark.app.name" -> "a")
    assert(c("spark.master") === "local[4]")
    assert(c("spark.sql.shuffle.partitions") === "16")
    assert(c("spark.local.dir") === "/tmp/x=y")
    assert(c("spark.sql.adaptive.enabled") === "false")
    assert(c("spark.app.name") === "a")
  }

  test("a SPARK_GRAFT_CONF entry without '=' is rejected, named") {
    val e = intercept[IllegalArgumentException] {
      LocalSession.confs(Nil, Map("SPARK_GRAFT_CONF" ->
        "spark.sql.shuffle.partitions=8;spark.local.dir"))
    }
    assert(e.getMessage.contains("'spark.local.dir'"), e.getMessage)
  }
}
