package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One bench row, declared once: its name, the builder that plans it on
  * an sf dir, and the DuckDB SQL that restates its result. A row with no
  * oracle is bench-only: Bench times it, Verify never dumps it, and a
  * spec pins its correctness instead. */
final case class RowDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object RowDef {
  /** `rows` unchanged, or an IllegalArgumentException naming every name
    * declared more than once (a map would silently keep the last). */
  def distinct(rows: Seq[RowDef]): Seq[RowDef] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"bench rows declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    rows
  }
}
