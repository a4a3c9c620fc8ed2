"""Output checks against references that do not come from the engine.

- `oracle`: the row's SparkEntry.oracleSql, run in DuckDB over the same
  input tables, compared row for row (as tools/check_oracle.py does);
- `nonempty`: bench-only rows must return rows;
- `stream_view`: the streamed cluster view must equal the whole-corpus
  cluster map (st10's oracle);
- `etl`: each CORE table's row count and an order-independent checksum,
  restated in DuckDB from the generator's typed truth tables and the
  generated files.

An empty output fails every kind.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# CORE tables restated from truth/ and the generated files (t_*)
ETL_REFERENCE = """
CREATE VIEW P AS SELECT * FROM t_purchases;
CREATE VIEW PURCHASES AS SELECT * FROM P;
CREATE VIEW SUPPLIER_INVOICES AS SELECT * FROM t_invoices;
CREATE VIEW SC AS SELECT * FROM t_supplier_case;
CREATE VIEW PO_TOTALS AS SELECT PurchaseOrderID, OrderDate, SupplierID,
  round(sum(coalesce(CAST(ReceivedOuters AS DECIMAL(18,4)), 0)
    * coalesce(CAST(ExpectedUnitPricePerOuter AS DECIMAL(18,4)), 0)), 2) AS POAmount
  FROM P GROUP BY 1, 2, 3;
CREATE VIEW PURCHASE_ORDERS_AND_INVOICES AS
  WITH inv AS (SELECT PurchaseOrderID, SupplierID AS INV_SUPPLIERID,
      sum(AmountExcludingTax) AS InvoiceExTaxTotal
    FROM t_invoices GROUP BY 1, 2)
  SELECT t.PurchaseOrderID, t.OrderDate, t.SupplierID, t.POAmount,
    inv.InvoiceExTaxTotal, inv.InvoiceExTaxTotal - t.POAmount AS invoiced_vs_quoted
  FROM PO_TOTALS t JOIN inv ON t.PurchaseOrderID = inv.PurchaseOrderID;
CREATE VIEW SUPPLIER_CASE AS SELECT * FROM SC;
CREATE VIEW SUPPLIER_ZIP5 AS
  SELECT regexp_replace(lpad(j, 5, '0'), '[^0-9]', '', 'g') AS ZIP5,
    supplierid, suppliername
  FROM (SELECT *, coalesce(CAST(postalpostalcode AS VARCHAR),
          CAST(deliverypostalcode AS VARCHAR), '') AS j FROM SC)
  WHERE j <> '';
CREATE VIEW CLOSEST_STATIONS AS
  WITH z AS (SELECT DISTINCT g.zip_code, g.latitude AS lat, g.longitude AS lon
      FROM SC JOIN t_gazetteer g ON g.zip_code = SC.postalpostalcode
      WHERE SC.postalpostalcode IS NOT NULL),
  d AS (SELECT z.zip_code, s.NOAA_WEATHER_STATION_ID AS station_id,
      2 * 6371.0 * asin(sqrt(pow(sin((radians(s.LATITUDE) - radians(lat)) / 2), 2)
        + cos(radians(lat)) * cos(radians(s.LATITUDE))
        * pow(sin((radians(s.LONGITUDE) - radians(lon)) / 2), 2))) AS dist
      FROM z, t_stations s)
  SELECT zip_code, station_id FROM (SELECT *, row_number() OVER
      (PARTITION BY zip_code ORDER BY dist) AS rn FROM d) WHERE rn = 1;
CREATE VIEW SUPPLIER_ZIP_CODE_WEATHER AS
  SELECT c.zip_code, CAST(t.DATE AS DATE) AS date, t.VALUE AS high_temperature
  FROM CLOSEST_STATIONS c JOIN t_timeseries t
    ON t.NOAA_WEATHER_STATION_ID = c.station_id
  WHERE t.VARIABLE_NAME = 'Maximum Temperature';
CREATE VIEW PURCHASES_WITH_WEATHER AS
  SELECT p.PurchaseOrderID, p.OrderDate, p.SupplierID, p.POAmount,
    p.InvoiceExTaxTotal, p.invoiced_vs_quoted, sc.postalpostalcode AS ZIP,
    w.high_temperature
  FROM PURCHASE_ORDERS_AND_INVOICES p JOIN SC sc ON p.SupplierID = sc.supplierid
  JOIN SUPPLIER_ZIP_CODE_WEATHER w
    ON w.zip_code = sc.postalpostalcode AND w.date = p.OrderDate;
"""

# file-system facts a restatement cannot know
ETL_SKIP_COLUMNS = {"SRC_FILE_TS"}


class Checker:
    def __init__(self, inputs, oracle_sql):
        self.inputs = inputs
        self.oracle_sql = oracle_sql
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(inputs, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        truth = os.path.join(inputs, "truth")
        if os.path.isdir(truth):
            for f in os.listdir(truth):
                if f.endswith(".parquet"):
                    self.con.execute(f"CREATE VIEW t_{f[:-8]} AS SELECT * FROM "
                                     f"'{os.path.join(truth, f)}'")
            bf = os.path.join(inputs, "blueforty")
            for t in ("stations", "timeseries"):
                self.con.execute(f"""CREATE VIEW t_{t} AS SELECT * FROM
                    '{os.path.join(bf, t + ".parquet")}'""")
            self.con.execute(f"""CREATE VIEW SUPPLIER_INVOICES_XML_RAW AS
                SELECT content AS DOC, 'supplier_transactions.xml' AS SRC_FILENAME
                FROM read_text('{os.path.join(bf, "supplier_transactions.xml")}')""")
            self.con.execute(ETL_REFERENCE)
        self.cache = {}

    def check(self, output):
        """None when the output is correct, else the reason it is not."""
        try:
            return getattr(self, "_" + output["kind"])(output)
        except Exception as e:  # a check that cannot run is a failure
            return f"check error: {type(e).__name__}: {e}"[:500]

    def _spark(self, path):
        return f"'{path}/*.parquet'"

    def _nonempty(self, o):
        n = self.con.execute(f"SELECT count(*) FROM {self._spark(o['path'])}").fetchone()[0]
        return None if n > 0 else "empty output"

    def _oracle(self, o):
        return self._compare(o, self.oracle_sql[o["name"]])

    def _stream_view(self, o):
        return self._compare(o, self.oracle_sql["stream_view"])

    def _compare(self, o, sql):
        sdf = self.con.execute(f"SELECT * FROM {self._spark(o['path'])}").df()
        if o["name"] not in self.cache:
            self.cache[o["name"]] = self.con.execute(sql).df()
        odf = self.cache[o["name"]]
        if len(sdf) == 0:
            return "empty output"
        if sorted(sdf.columns) != sorted(odf.columns):
            return f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
        if len(sdf) != len(odf):
            return f"rows {len(sdf)} != {len(odf)}"
        if _rows(sdf) != _rows(odf):
            return "value mismatch"
        return None

    def _etl(self, o):
        spark = self._spark(o["path"])
        cols = [(n, t) for n, t, *_ in self.con.execute(
            f"DESCRIBE SELECT * FROM {spark}").fetchall()
            if n not in ETL_SKIP_COLUMNS]
        ref_cols = {r[0] for r in self.con.execute(
            f"DESCRIBE SELECT * FROM {o['name']}").fetchall()}
        got_cols = {n for n, _ in cols}
        if got_cols != ref_cols - ETL_SKIP_COLUMNS:
            return f"columns {sorted(got_cols)} != {sorted(ref_cols - ETL_SKIP_COLUMNS)}"
        digest = ", ".join(f'CAST("{n}" AS {t})' for n, t in cols)
        q = f"SELECT count(*), sum(hash({digest})::HUGEINT) FROM "
        got = self.con.execute(q + spark).fetchone()
        if o["name"] not in self.cache:
            self.cache[o["name"]] = self.con.execute(q + o["name"]).fetchone()
        want = self.cache[o["name"]]
        if got[0] == 0:
            return "empty output"
        if got[0] != want[0]:
            return f"rows {got[0]} != {want[0]}"
        if got[1] != want[1]:
            return "checksum mismatch"
        return None


def _rows(df):
    df = df[sorted(df.columns)]
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)
