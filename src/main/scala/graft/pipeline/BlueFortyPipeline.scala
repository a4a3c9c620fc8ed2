package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColumnFunctions._
import graft.sources.{CsvIngest, SchemaInference, XmlShred}

/** The reference's 8-stage procurement pipeline (BlueForty.py Q1–Q8)
  * re-expressed as composable `DataFrame` transforms. Each stage is a
  * pure function; materialization points mirror the reference (tables →
  * caller persists, views → lazy plan composition). Inputs are plain
  * DataFrames so fixtures or production sources plug in equally.
  *
  * Faithfulness notes (every quirk deliberate, cited):
  *  - Q1 positional COPY projection skips $9-$12 and $18
  *    (BlueForty.py:88-111).
  *  - Q3 shred keeps FLATTEN's 0-based t.index and skips elements
  *    missing SupplierTransactionID (BlueForty.py:197-200).
  *  - Q5 joins with USING(PurchaseOrderID) — inner, so POs without
  *    invoices silently drop (BlueForty.py:229-231).
  *  - Q6 ZIP5 applies LPAD *before* stripping non-digits — the
  *    reference's actual operator order (BlueForty.py:367-377), which
  *    differs from the sensible zip5() helper; mirrored exactly.
  *  - Q7 KNN = distinct zips × all stations (cross join), haversine,
  *    row_number per zip, rn=1 (BlueForty.py:425-448). At fixture scale
  *    Catalyst broadcasts the distinct side; at 100 TB scale prefer the
  *    min_by rewrite in graft.operators.TopPerKey.
  */
object BlueFortyPipeline {

  // ---------------------------------------------------------------- Q1
  /** COPY INTO CORE.PURCHASES (BlueForty.py:78-116): positional $1..$21
    * → 16 typed columns + 2 file-metadata columns, all TRY-cast
    * (null-on-failure), PERMISSIVE row tolerance. */
  def loadPurchases(spark: SparkSession, stageGlob: String): DataFrame = {
    import CsvIngest._
    val raw = withFileMetadata(
      readPositional(spark, stageGlob, Options(header = true)))
    raw.select(
      tryToNumber38(pos(1)).as("PurchaseOrderID"),
      tryToNumber38(pos(2)).as("SupplierID"),
      tryToDate(pos(3), "M/d/yyyy").as("OrderDate"),
      tryToNumber38(pos(4)).as("DeliveryMethodID"),
      tryToNumber38(pos(5)).as("ContactPersonID"),
      tryToDate(pos(6), "M/d/yyyy").as("ExpectedDeliveryDate"),
      nullifEmpty(pos(7)).as("SupplierReference"),
      intFlag(pos(8)).as("IsOrderFinalized"),
      tryToNumber38(pos(13)).as("PurchaseOrderLineID"),
      tryToNumber38(pos(14)).as("StockItemID"),
      tryToNumeric(pos(15), 18, 4).as("OrderedOuters"),
      trim(pos(16)).as("Description"),
      tryToNumeric(pos(17), 18, 4).as("ReceivedOuters"),
      tryToNumeric(pos(19), 18, 4).as("ExpectedUnitPricePerOuter"),
      tryToDate(pos(20), "M/d/yyyy").as("LastReceiptDate"),
      intFlag(pos(21)).as("IsOrderLineFinalized"),
      col("SRC_FILENAME"), col("SRC_FILE_TS"))
  }

  // ---------------------------------------------------------------- Q2
  /** CORE.PURCHASE_ORDER_TOTALS view (BlueForty.py:119-126). */
  def purchaseOrderTotals(purchases: DataFrame): DataFrame =
    purchases.groupBy("PurchaseOrderID", "OrderDate", "SupplierID")
      .agg(round(sum(zeroIfNull(col("ReceivedOuters")) *
        zeroIfNull(col("ExpectedUnitPricePerOuter"))), 2).as("POAmount"))

  // ---------------------------------------------------------------- Q3
  /** XML → CORE.SUPPLIER_INVOICES (BlueForty.py:179-201): shred each
    * transaction element, TRY-cast fields, skip elements without a
    * SupplierTransactionID, keep the element ordinal. */
  def shredSupplierInvoices(raw: DataFrame): DataFrame = {
    import XmlShred._
    explodeDocs(raw)
      .filter(xmlGet("SupplierTransactionID").isNotNull)
      .select(
        xmlGet("SupplierTransactionID").try_cast("decimal(38,0)").as("SupplierTransactionID"),
        xmlGet("SupplierID").try_cast("decimal(38,0)").as("SupplierID"),
        nullifEmpty(xmlGet("PurchaseOrderID")).try_cast("decimal(38,0)").as("PurchaseOrderID"),
        nullifEmpty(xmlGet("SupplierInvoiceNumber")).as("SupplierInvoiceNumber"),
        tryToDate(xmlGet("TransactionDate")).as("TransactionDate"),
        xmlGet("AmountExcludingTax").try_cast("decimal(18,2)").as("AmountExcludingTax"),
        xmlGet("TaxAmount").try_cast("decimal(18,2)").as("TaxAmount"),
        xmlGet("TransactionAmount").try_cast("decimal(18,2)").as("TransactionAmount"),
        xmlGet("OutstandingBalance").try_cast("decimal(18,2)").as("OutstandingBalance"),
        tryToDate(xmlGet("FinalizationDate")).as("FinalizationDate"),
        intFlag(xmlGet("IsFinalized")).as("IsFinalized"),
        col("XML_INDEX").cast("decimal(38,0)").as("XML_INDEX"))
  }

  // ------------------------------------------------------------- Q4/Q5
  /** CORE.PURCHASE_ORDERS_AND_INVOICES (BlueForty.py:219-233): invoice
    * totals per (PO, supplier) CTE, inner USING(PurchaseOrderID) join to
    * PO totals, star-extension + variance. Inner join semantics mean POs
    * without invoices drop — the reference's (possibly surprising)
    * behavior, kept. */
  def purchaseOrdersAndInvoices(poTotals: DataFrame, invoices: DataFrame): DataFrame = {
    val invoiceAmount = invoices
      .select(col("PurchaseOrderID"), col("SupplierID").as("INV_SUPPLIERID"),
        col("AmountExcludingTax"))
      .groupBy("PurchaseOrderID", "INV_SUPPLIERID")
      .agg(sum(col("AmountExcludingTax")).as("InvoiceExTaxTotal"))
    poTotals.join(invoiceAmount,
        Seq("PurchaseOrderID"), "inner")
      .select(
        col("PurchaseOrderID"), col("OrderDate"), col("SupplierID"),
        col("POAmount"), col("InvoiceExTaxTotal"),
        (col("InvoiceExTaxTotal") - col("POAmount")).as("invoiced_vs_quoted"))
  }

  // ---------------------------------------------------------------- Q6
  /** CORE.SUPPLIER_CASE via sampled schema inference
    * (BlueForty.py:280-328). */
  def loadSupplierCase(spark: SparkSession, csvPath: String): DataFrame =
    SchemaInference.readInferred(spark, csvPath)

  /** CORE.SUPPLIER_ZIP5 view (BlueForty.py:364-388). NOTE the operator
    * order is the reference's: COALESCE → LPAD(5) → strip non-digits —
    * so a 4-char alphanumeric code gains a leading '0' *before* letters
    * are removed. */
  def supplierZip5(supplierCase: DataFrame): DataFrame = {
    val joined = coalesce(
      col("postalpostalcode").cast("string"),
      col("deliverypostalcode").cast("string"),
      lit(""))
    supplierCase
      .filter(joined.isNotNull && joined =!= "")
      .select(
        regexp_replace(lpad(joined, 5, "0"), "[^0-9]", "").as("ZIP5"),
        col("supplierid"), col("suppliername"))
  }

  // ---------------------------------------------------------------- Q7
  /** zipcode_geolocation from the gazetteer TSV (BlueForty.py:392-422):
    * tab-delimited, skip header, positional $1/$3/$4 with TRY_CASTs. */
  def loadGazetteer(spark: SparkSession, path: String): DataFrame = {
    import CsvIngest._
    readPositional(spark, path, Options(sep = "\t"))
      .select(
        pos(1).try_cast("string").as("zip_code"),
        pos(3).try_cast("double").as("latitude"),
        pos(4).try_cast("double").as("longitude"))
  }

  /** CORE.CLOSEST_STATIONS (BlueForty.py:425-448): distinct supplier
    * zips joined to the gazetteer for coordinates, cross-joined to every
    * station, haversine distance, keep the nearest station per zip. */
  def closestStations(supplierCase: DataFrame, gazetteer: DataFrame,
      stations: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val distinctZip = supplierCase
      .filter(col("postalpostalcode").isNotNull)
      .join(gazetteer,
        gazetteer("zip_code") === supplierCase("postalpostalcode").cast("string"))
      .select(col("zip_code"), col("latitude").as("lat"),
        col("longitude").as("lon"))
      .distinct()
    val dist = distinctZip.crossJoin(
        stations.select(col("NOAA_WEATHER_STATION_ID").as("station_id"),
          col("LATITUDE").as("s_lat"), col("LONGITUDE").as("s_lon")))
      .withColumn("dist_km",
        haversineKm(col("lat"), col("lon"), col("s_lat"), col("s_lon")))
    val w = Window.partitionBy("zip_code").orderBy(col("dist_km"))
    dist.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("zip_code"), col("station_id"))
  }

  /** CORE.SUPPLIER_ZIP_CODE_WEATHER (BlueForty.py:452-463). */
  def supplierZipWeather(closest: DataFrame, timeseries: DataFrame): DataFrame =
    closest.join(timeseries,
        timeseries("NOAA_WEATHER_STATION_ID") === closest("station_id"))
      .filter(col("VARIABLE_NAME") === "Maximum Temperature")
      .select(col("zip_code"),
        col("DATE").cast("date").as("date"),
        col("VALUE").as("high_temperature"))

  // ---------------------------------------------------------------- Q8
  /** CORE.PURCHASES_WITH_WEATHER (BlueForty.py:466-475): reconciliation
    * view × supplier (on SupplierID) × weather (on ZIP and ORDERDATE). */
  def purchasesWithWeather(poInvoices: DataFrame, supplierCase: DataFrame,
      weather: DataFrame): DataFrame =
    poInvoices
      .join(supplierCase,
        poInvoices("SupplierID") === supplierCase("supplierid"))
      .join(weather,
        weather("zip_code") === supplierCase("postalpostalcode").cast("string") &&
          weather("date") === poInvoices("OrderDate"))
      .select(
        poInvoices("PurchaseOrderID"), poInvoices("OrderDate"),
        poInvoices("SupplierID"), poInvoices("POAmount"),
        poInvoices("InvoiceExTaxTotal"), poInvoices("invoiced_vs_quoted"),
        supplierCase("postalpostalcode").as("ZIP"),
        weather("high_temperature"))
}
