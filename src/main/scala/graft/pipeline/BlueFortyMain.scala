package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{CsvIngest, XmlShred}

import java.nio.file.{Files, Paths}

/** Runnable end-to-end BlueForty pipeline: the 8 reference stages
  * (BlueForty.py Q1–Q8) over a local data directory, materializing the
  * same catalog objects the reference persists (tables → parquet,
  * views → composed lazily into downstream plans).
  *
  * Usage:
  *   sbt "runMain graft.pipeline.BlueFortyMain [dataDir] [outDir]"
  *
  * dataDir layout (defaults to the checked-in fixtures):
  *   purchases_*.csv               monthly PO files (Q1)
  *   supplier_transactions.xml     invoice XML (Q3)
  *   supplier_case.csv             the Postgres extract (Q6)
  *   gazetteer.tsv                 ZIP gazetteer (Q7)
  *   stations.parquet              NOAA station index  [optional]
  *   timeseries.parquet            NOAA daily metrics  [optional]
  * If the two weather tables are absent, small deterministic stand-ins
  * derived from the gazetteer are used so the full DAG still runs.
  */
object BlueFortyMain {
  def main(args: Array[String]): Unit = {
    val dataDir = Paths.get(
      if (args.length > 0) args(0) else "src/test/resources/blueforty")
    val outDir = Paths.get(
      if (args.length > 1) args(1) else "/tmp/blueforty_out")
    Files.createDirectories(outDir)

    val cpus = graft.LocalCpus()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("blueforty-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def save(df: DataFrame, name: String): DataFrame = {
      val p = outDir.resolve(name).toString
      df.write.mode("overwrite").parquet(p)
      val back = spark.read.parquet(p)
      println(f"[blueforty] $name%-28s ${back.count()}%6d rows -> $p")
      back
    }

    // Q1: stage + typed load
    val stage = Files.createTempDirectory("blueforty_stage")
    CsvIngest.stageFiles(
      CsvIngest.discover(dataDir).filter(
        _.getFileName.toString.startsWith("purchases")), stage)
    val purchases = save(
      BlueFortyPipeline.loadPurchases(spark, stage.toString + "/*/*/*.csv"),
      "PURCHASES")

    // Q2: PO totals (view in the reference — kept lazy, counted here)
    val poTotals = BlueFortyPipeline.purchaseOrderTotals(purchases)

    // Q3: XML raw + shred
    val xmlRaw = save(XmlShred.readRaw(spark,
      dataDir.resolve("supplier_transactions.xml").toString),
      "SUPPLIER_INVOICES_XML_RAW")
    val invoices = save(BlueFortyPipeline.shredSupplierInvoices(xmlRaw),
      "SUPPLIER_INVOICES")

    // Q4/Q5: reconciliation view
    val poInv = save(
      BlueFortyPipeline.purchaseOrdersAndInvoices(poTotals, invoices),
      "PURCHASE_ORDERS_AND_INVOICES")

    // Q6: inferred supplier_case + ZIP5 view
    val supplierCase = save(BlueFortyPipeline.loadSupplierCase(spark,
      dataDir.resolve("supplier_case.csv").toString), "SUPPLIER_CASE")
    save(BlueFortyPipeline.supplierZip5(supplierCase), "SUPPLIER_ZIP5")

    // Q7: gazetteer, stations, closest, weather
    val gaz = BlueFortyPipeline.loadGazetteer(spark,
      dataDir.resolve("gazetteer.tsv").toString)
    val stations =
      if (Files.exists(dataDir.resolve("stations.parquet")))
        spark.read.parquet(dataDir.resolve("stations.parquet").toString)
      else gaz.select($"zip_code".as("NOAA_WEATHER_STATION_ID"),
        ($"latitude" + 0.1).as("LATITUDE"),
        ($"longitude" - 0.1).as("LONGITUDE"))
    val timeseries =
      if (Files.exists(dataDir.resolve("timeseries.parquet")))
        spark.read.parquet(dataDir.resolve("timeseries.parquet").toString)
      else stations.select($"NOAA_WEATHER_STATION_ID").crossJoin(
        spark.sql("SELECT explode(sequence(DATE'2013-01-01', DATE'2013-03-31')) AS DATE"))
        .withColumn("VALUE",
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64($"NOAA_WEATHER_STATION_ID", $"DATE"),
            org.apache.spark.sql.functions.lit(400)) / 10.0 - 10.0)
        .withColumn("VARIABLE_NAME",
          org.apache.spark.sql.functions.lit("Maximum Temperature"))
    val closest = save(
      BlueFortyPipeline.closestStations(supplierCase, gaz, stations),
      "CLOSEST_STATIONS")
    val weather = save(
      BlueFortyPipeline.supplierZipWeather(closest, timeseries),
      "SUPPLIER_ZIP_CODE_WEATHER")

    // Q8: final enrichment
    save(BlueFortyPipeline.purchasesWithWeather(poInv, supplierCase, weather),
      "PURCHASES_WITH_WEATHER")

    spark.stop()
  }
}
