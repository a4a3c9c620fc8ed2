package graft

import org.apache.spark.sql.SparkSession

/** The one local session every harness main runs: `local[n]` with n
  * shuffle partitions (n = `SPARK_GRAFT_CPUS` when set, else this
  * host's core count), UTC session time, the graft extensions, no UI
  * and WARN logging. A main adds its own confs on top, and
  * `SPARK_GRAFT_CONF="k=v;…"` applies last, so a posture experiment
  * (local dir, AQE knobs, shuffle width) overrides any of them without
  * editing a main. */
object LocalSession {

  /** The session — created, or the active one with [[confs]] applied
    * as runtime confs (a main under a test harness reuses the suite's
    * session). */
  def apply(extra: (String, String)*): SparkSession = {
    val spark = confs(extra, sys.env)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session's confs: the posture, then `extra`, then the entries
    * of `SPARK_GRAFT_CONF`; a later entry replaces an earlier one of
    * the same key. An entry without `=` fails, naming it (blank
    * entries, e.g. from a trailing `;`, are skipped). */
  def confs(extra: Seq[(String, String)],
      env: Map[String, String]): Seq[(String, String)] = {
    val n = env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val posture = Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false")
    val overrides = env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.trim.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
        }
      }
    (posture ++ extra ++ overrides).foldLeft(Vector.empty[(String, String)]) {
      case (acc, kv) => acc.filterNot(_._1 == kv._1) :+ kv
    }
  }
}
