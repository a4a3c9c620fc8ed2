package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}

/** Sample-based CSV schema inference with the reference's exact rules
  * (BlueForty.py:239-297, SURVEY.md §2a S9):
  *
  *  - sample = header + first `sampleRows` data rows (default 100);
  *  - null-likes `None, "", "NULL", "\\N"` are dropped per column before
  *    type testing (BlueForty.py:267);
  *  - precedence DATE → INTEGER → FLOAT → STRING (BlueForty.py:270-277);
  *  - DATE accepts exactly `yyyy-MM-dd`, `M/d/yyyy`, `yyyy/M/d`
  *    (BlueForty.py:256 — Python's %m/%d/%Y parses 1- or 2-digit parts);
  *  - a column whose sample is all null-like is STRING
  *    (BlueForty.py:268-269).
  *
  * Spark's built-in `inferSchema` differs (full-data scan, no `%Y/%m/%d`
  * format, different int/float promotion), hence this explicit sampler.
  * Only the ≤100-row sample ever reaches the driver — the subsequent
  * typed read is a distributed scan with TRY-cast tolerance, so the
  * pattern holds at any table size.
  */
object SchemaInference {

  val NullLikes: Set[String] = Set("None", "", "NULL", "\\N")

  // STRICT resolution rejects impossible days (2013-02-30) the way
  // strptime does; the default SMART resolver clamps them to the
  // month's last day. STRICT needs `uuuu`: `yyyy` is year-of-era and
  // would need an era field to resolve.
  private val dateFormats: Seq[DateTimeFormatter] = Seq(
    "uuuu-M-d", "M/d/uuuu", "uuuu/M/d"
  ).map(p => DateTimeFormatter.ofPattern(p)
    .withResolverStyle(ResolverStyle.STRICT))

  /** Spark datetime patterns equivalent to [[dateFormats]], for the
    * distributed TRY-cast read. */
  val SparkDateFormats: Seq[String] = Seq("yyyy-M-d", "M/d/yyyy", "yyyy/M/d")

  private[sources] def isDate(s: String): Boolean =
    dateFormats.exists { f =>
      try { LocalDate.parse(s.trim, f); true }
      catch { case _: Exception => false }
    }

  private[sources] def isInt(s: String): Boolean =
    try { s.trim.toLong; true } catch { case _: Exception => false }

  // what Python's float() parses, apart from digit-group underscores;
  // Java's toDouble also takes `1d`, `2f` and hex `0x1p3`, which it
  // rejects
  private val PyFloat =
    """(?i)[+-]?(inf|infinity|nan|(\d+\.?\d*|\.\d+)(e[+-]?\d+)?)""".r

  private[sources] def isFloat(s: String): Boolean =
    PyFloat.matches(s.trim)

  /** Infer one column's type from its sampled (non-null-like) values. */
  private[sources] def inferColumn(values: Seq[String]): DataType = {
    val vs = values.filterNot(v => v == null || NullLikes(v))
    if (vs.isEmpty) StringType
    else if (vs.forall(isDate)) DateType
    else if (vs.forall(isInt)) LongType
    else if (vs.forall(isFloat)) DoubleType
    else StringType
  }

  /** Infer a StructType from the first `sampleRows` rows of a
    * header-ful CSV. Column names come from the header, lower-cased at
    * the boundary (the reference creates them as quoted lower-case
    * identifiers, BlueForty.py:293). */
  def inferSchema(spark: SparkSession, path: String,
      sampleRows: Int = 100, sep: String = ","): StructType = {
    val raw = spark.read
      .option("header", "true").option("sep", sep)
      .option("inferSchema", "false")
      // keep empty strings as-is so the null-like rule is ours alone
      .option("nullValue", "\u0000")
      .csv(path)
    val names = raw.columns.map(_.toLowerCase)
    val sample = raw.limit(sampleRows).collect()
    val fields = names.zipWithIndex.map { case (n, i) =>
      StructField(n, inferColumn(sample.toSeq.map(r =>
        if (r.isNullAt(i)) null else r.getString(i))), nullable = true)
    }
    StructType(fields)
  }

  /** Read the CSV with the inferred schema applied via TRY-cast
    * semantics: rows whose cells fail the inferred type yield NULL in
    * that cell (the ON_ERROR='CONTINUE' tolerance of the subsequent
    * COPY, BlueForty.py:358), never a job failure. */
  def readInferred(spark: SparkSession, path: String,
      sampleRows: Int = 100, sep: String = ","): DataFrame = {
    val schema = inferSchema(spark, path, sampleRows, sep)
    val raw = spark.read
      .option("header", "true").option("sep", sep)
      .option("inferSchema", "false")
      .csv(path)
    val named = raw.toDF(raw.columns.toIndexedSeq.map(_.toLowerCase): _*)
    named.select(schema.fields.toIndexedSeq.map { f =>
      val c0 = col(f.name)
      val c = when(c0.isin(NullLikes.toSeq.map(lit): _*), lit(null))
        .otherwise(c0)
      val cast = f.dataType match {
        case DateType =>
          coalesce(SparkDateFormats.map(fmt => try_to_date(c, fmt)): _*)
        case t => c.try_cast(t.sql)
      }
      cast.as(f.name)
    }: _*)
  }
}
