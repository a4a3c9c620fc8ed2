package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Dedup
import graft.pipeline.BlueFortyPipeline
import graft.sources.{CsvIngest, XmlShred}
import graft.streaming.{NdDoc, StreamClusters, StreamNearDup}

/** What one pass sees: the session, its generated inputs, a scratch
  * directory per pass, and the recorder timing every call. Outputs are
  * persisted as parquet and listed for the checker. */
final class Ctx(val spark: SparkSession, val inputs: String, work: String,
    val params: Map[String, String], val rec: Recorder, val seed: Long) {
  val outputs = ArrayBuffer.empty[Map[String, Any]]

  def dir(what: String): String = s"$work/$what/p${rec.pass}"

  def list(key: String): Seq[String] =
    params.getOrElse(key, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Write `df` as the pass's output `name`, checked as `kind`. */
  def output(name: String, kind: String, df: DataFrame): Unit = {
    val path = s"${dir("out")}/$name"
    rec.span("spark", s"exec.$name") {
      df.write.mode("overwrite").parquet(path)
    }
    outputs += Map("pass" -> rec.pass, "op" -> rec.currentOp, "name" -> name,
      "kind" -> kind, "path" -> path)
  }

  private lazy val builders = SparkEntry.queries ++ SparkEntry.benchOnly
  private lazy val oracleRows = SparkEntry.oracleSql.keySet

  /** One SparkEntry row: the builder call (driver-side, holds any eager
    * actions) then the run of the plan it returns. */
  def row(name: String, layer: String = "queries"): Unit =
    rec.op(s"row.$name") {
      val df = rec.span(layer, s"build.$name")(builders(name)(spark, inputs))
      output(name, if (oracleRows(name)) "oracle" else "nonempty", df)
    }
}

trait Workload {
  def pass(c: Ctx): Unit
}

/** BlueForty Q1–Q8 through the pipeline's stage functions, every CORE
  * table persisted and read back (as BlueFortyMain does), then the
  * read-only TPC-H query phase over the warehouse. */
object Etl extends Workload {
  def pass(c: Ctx): Unit = {
    import c.{rec, spark}
    val data = Paths.get(c.inputs, "blueforty")
    val wh = c.dir("warehouse")

    def save(name: String, df: => DataFrame): DataFrame = {
      val plan = rec.span("pipeline", s"stage.$name")(df)
      val path = s"$wh/$name"
      rec.span("spark", s"persist.$name") {
        plan.write.mode("overwrite").parquet(path)
        val back = spark.read.parquet(path)
        back.count()
        c.outputs += Map("pass" -> rec.pass, "op" -> rec.currentOp,
          "name" -> name, "kind" -> "etl", "path" -> path)
        back
      }
    }

    var purchases, invoices, poInv, supplierCase, weather: DataFrame = null
    rec.op("etl.q1_purchases") {
      val stage = Paths.get(c.dir("stage"))
      rec.span("sources", "sources.stage_files") {
        CsvIngest.stageFiles(CsvIngest.discover(data)
          .filter(_.getFileName.toString.startsWith("purchases")), stage)
      }
      purchases = save("PURCHASES",
        BlueFortyPipeline.loadPurchases(spark, s"$stage/*/*/*.csv"))
    }
    rec.op("etl.q3_invoices") {
      val raw = save("SUPPLIER_INVOICES_XML_RAW", XmlShred.readRaw(spark,
        data.resolve("supplier_transactions.xml").toString))
      invoices = save("SUPPLIER_INVOICES",
        BlueFortyPipeline.shredSupplierInvoices(raw))
    }
    rec.op("etl.q5_reconcile") {
      poInv = save("PURCHASE_ORDERS_AND_INVOICES",
        BlueFortyPipeline.purchaseOrdersAndInvoices(
          BlueFortyPipeline.purchaseOrderTotals(purchases), invoices))
    }
    rec.op("etl.q6_supplier") {
      // the eager part of the load is the sampled schema inference
      val inferred = rec.span("sources", "sources.infer") {
        BlueFortyPipeline.loadSupplierCase(spark,
          data.resolve("supplier_case.csv").toString)
      }
      supplierCase = save("SUPPLIER_CASE", inferred)
      save("SUPPLIER_ZIP5", BlueFortyPipeline.supplierZip5(supplierCase))
    }
    rec.op("etl.q7_weather") {
      val gaz = rec.span("pipeline", "stage.gazetteer") {
        BlueFortyPipeline.loadGazetteer(spark,
          data.resolve("gazetteer.tsv").toString)
      }
      val stations = spark.read.parquet(data.resolve("stations.parquet").toString)
      val series = spark.read.parquet(data.resolve("timeseries.parquet").toString)
      val closest = save("CLOSEST_STATIONS",
        BlueFortyPipeline.closestStations(supplierCase, gaz, stations))
      weather = save("SUPPLIER_ZIP_CODE_WEATHER",
        BlueFortyPipeline.supplierZipWeather(closest, series))
    }
    rec.op("etl.q8_enrich") {
      save("PURCHASES_WITH_WEATHER",
        BlueFortyPipeline.purchasesWithWeather(poInv, supplierCase, weather))
    }
    rec.span("bench", "etl.query") {
      c.list("queries").foreach(q => c.row(q))
    }
  }
}

/** The batch LLM-data rows over the mutated replica. */
object Curation extends Workload {
  def pass(c: Ctx): Unit = c.list("rows").foreach(r => c.row(r))
}

/** The corpus streamed through the public near-dup / cluster API in
  * seeded triggers, compacting every 2nd trigger, then the durable
  * serve→fold→serve row. */
object Stream extends Workload {
  def pass(c: Ctx): Unit = {
    import c.{rec, spark}
    val triggers = c.params("triggers").toInt
    val dir = c.dir("stream")
    val docs = graft.Tables.documents(spark, c.inputs)
      .select(col("doc_id"), col("text"))
      .withColumn("_t", pmod(xxhash64(col("doc_id"), lit(c.seed)), lit(triggers)))
    (0 until triggers).foreach { t =>
      rec.op(s"trigger.$t") {
        val batch = docs.filter(col("_t") === t).drop("_t")
          .as(Encoders.product[NdDoc])
        rec.span("streaming", "stream.pairs") {
          StreamNearDup.pairBatch(batch, t.toLong, dir, n = 3,
            thresholdPpm = 800000L, dfCap = Dedup.DfCap.NoCap)
        }
        rec.span("streaming", "stream.fold") {
          StreamClusters.foldCommitted(spark, dir)
        }
        if ((t + 1) % 2 == 0)
          rec.span("streaming", "stream.compact") {
            StreamNearDup.compactIndex(spark, dir)
            StreamClusters.compactClusters(spark, dir)
            ()
          }
      }
    }
    rec.op("stream.view") {
      val view = rec.span("streaming", "stream.view_build") {
        StreamClusters.clusterView(spark, dir)
      }
      c.output("stream_view", "stream_view", view)
    }
    c.row("x42_emb_fold_serve", "durable")
  }
}
