"""Seeded input generators. Everything a workload reads is derived here
from a TPC-H-style corpus directory (run.py passes one of
`$PERFBENCH_CORPUS/sf*`) and the seed; the same seed gives
byte-identical inputs. DuckDB does the work,
so the inputs never come from the engine under test.

Each generator writes `<out>/...` and returns a dict describing the
inputs (rows and bytes), which run.py prints.
"""
import datetime as dt
import os
import random
import shutil

import duckdb
import pandas

TPCH = ["region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"]


def _con(corpus):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TPCH:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM '{p}'")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


def _size(out):
    n = 0
    for d, _, fs in os.walk(out):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return n


def _table(con, name, columns, rows):
    """CREATE TABLE name (columns) holding `rows`, passed as text and cast
    by DuckDB to the declared types (exact for decimals and doubles)."""
    con.execute(f"CREATE TABLE {name} ({columns})")
    if rows:
        con.register("_rows", pandas.DataFrame(
            [[None if v is None else str(v) for v in r] for r in rows], dtype=object))
        con.execute(f"INSERT INTO {name} SELECT * FROM _rows")
        con.unregister("_rows")


def _mdy(d):
    return f"{d.month}/{d.day}/{d.year}"


# ----------------------------------------------------------------- etl
def etl(corpus, out, seed, sample):
    """BlueForty-shaped inputs: monthly purchases CSVs in the reference's
    21-column layout, supplier-transaction XML, supplier_case.csv with
    mixed ZIP and date formats, a gazetteer TSV, station and daily
    timeseries parquet — plus the TPC-H warehouse the query phase reads
    and `truth/`, the typed values behind the files, which the checker
    restates CORE from and the engine never reads."""
    con = _con(corpus)
    rng = random.Random(seed)
    year = 1995 + seed % 6
    bf = os.path.join(out, "blueforty")
    truth = os.path.join(out, "truth")
    os.makedirs(bf)
    os.makedirs(truth)

    # warehouse: a seeded order sample over every year, and its lines
    con.execute(f"""CREATE TABLE w_orders AS SELECT * FROM src_orders
        WHERE hash(o_orderkey, {seed}) % {sample} = 0""")
    con.execute("""CREATE TABLE w_lineitem AS SELECT l.* FROM src_lineitem l
        SEMI JOIN w_orders o ON l.l_orderkey = o.o_orderkey""")
    for t in ["region", "nation", "customer", "supplier", "part"]:
        _copy(con, f"SELECT * FROM src_{t}", os.path.join(out, f"{t}.parquet"))
    _copy(con, "SELECT * FROM w_orders", os.path.join(out, "orders.parquet"))
    _copy(con, "SELECT * FROM w_lineitem", os.path.join(out, "lineitem.parquet"))

    # purchases: the sampled orders of one seeded year
    lines = con.execute(f"""SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey,
          l.l_partkey, CAST(l.l_quantity AS BIGINT),
          CAST(round(l.l_extendedprice / l.l_quantity, 2) AS DECIMAL(18,2)),
          CAST(o.o_orderdate AS DATE), o.o_custkey, p.p_name
        FROM w_lineitem l JOIN w_orders o ON l.l_orderkey = o.o_orderkey
        JOIN src_part p ON p.p_partkey = l.l_partkey
        WHERE year(o.o_orderdate) = {year}
        ORDER BY l.l_orderkey, l.l_linenumber""").fetchall()
    header = ("PurchaseOrderID,SupplierID,OrderDate,DeliveryMethodID,"
              "ContactPersonID,ExpectedDeliveryDate,SupplierReference,"
              "IsOrderFinalized,U1,U2,U3,U4,PurchaseOrderLineID,StockItemID,"
              "OrderedOuters,Description,ReceivedOuters,U5,"
              "ExpectedUnitPricePerOuter,LastReceiptDate,IsOrderLineFinalized")
    files, trows = {}, []
    for (po, ln, sup, part, qty, price, od, cust, pname) in lines:
        fname = (f"purchases_{year}_{od.month:02d}.csv" if od.month % 2
                 else f"purchases_{year}-{od.month:02d}.csv")
        ref = rng.choice(["", "N/A", "NULL", f"REF{po}", f"REF{po}", f"REF{po}"])
        fin = rng.choice(["1", "1", "0", "x"])
        lfin = rng.choice(["1", "0"])
        recv = qty - rng.choice([0, 0, 0, 1]) if qty > 1 else qty
        ordered = "abc" if rng.random() < 0.02 else str(qty)
        last = od + dt.timedelta(days=rng.randint(3, 20))
        last_s = "13/45/2013" if rng.random() < 0.03 else _mdy(last)
        pad = "  " if rng.random() < 0.2 else ""
        exp = od + dt.timedelta(days=7)
        cells = [str(po), str(sup), _mdy(od), str(1 + ln % 4), str(cust % 97),
                 _mdy(exp), ref, fin, "x", "x", "x", "x", str(po * 10 + ln),
                 str(part), ordered, f'"{pad}{pname}{pad}"', str(recv), "x",
                 str(price), last_s, lfin]
        files.setdefault(fname, []).append(",".join(cells))
        trows.append((po, sup, od, 1 + ln % 4, cust % 97, exp,
                      None if ref in ("", "N/A", "NULL") else ref,
                      None if fin == "x" else fin == "1",
                      po * 10 + ln, part, None if ordered == "abc" else qty,
                      pname.strip(), recv, price,
                      None if last_s == "13/45/2013" else last, lfin == "1",
                      fname))
    for fname, rows in files.items():
        with open(os.path.join(bf, fname), "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")
    _table(con, "t_purchases", """PurchaseOrderID BIGINT,
        SupplierID BIGINT, OrderDate DATE, DeliveryMethodID BIGINT,
        ContactPersonID BIGINT, ExpectedDeliveryDate DATE,
        SupplierReference VARCHAR, IsOrderFinalized BOOLEAN,
        PurchaseOrderLineID BIGINT, StockItemID BIGINT, OrderedOuters BIGINT,
        Description VARCHAR, ReceivedOuters BIGINT,
        ExpectedUnitPricePerOuter DECIMAL(18,2), LastReceiptDate DATE,
        IsOrderLineFinalized BOOLEAN, SRC_FILENAME VARCHAR""", trows)

    # supplier transactions: one invoice per (order, supplier)
    groups = con.execute("""SELECT PurchaseOrderID, SupplierID, min(OrderDate),
          CAST(sum(ReceivedOuters * ExpectedUnitPricePerOuter) AS DECIMAL(18,2))
        FROM t_purchases GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    xml, tx = ["<SupplierTransactions>"], []
    stid = 1000 + seed % 1000
    for idx, (po, sup, od, amount) in enumerate(groups):
        stid += 1
        skip = rng.random() < 0.04
        no_po = rng.random() < 0.05
        amt = round(float(amount) * rng.uniform(0.97, 1.03), 2)
        tax = round(amt * 0.15, 2)
        total = round(amt + tax, 2)
        paid = rng.random() < 0.7
        tdate = od + dt.timedelta(days=7)
        fdate = od + dt.timedelta(days=14) if paid else None
        fields = ([] if skip else [("SupplierTransactionID", str(stid))]) + [
            ("SupplierID", str(sup)),
            ("PurchaseOrderID", "" if no_po else str(po)),
            ("SupplierInvoiceNumber", "" if no_po else f"INV-{stid}"),
            ("TransactionDate", tdate.isoformat()),
            ("AmountExcludingTax", f"{amt:.2f}"), ("TaxAmount", f"{tax:.2f}"),
            ("TransactionAmount", f"{total:.2f}"),
            ("OutstandingBalance", "0.00" if paid else f"{total:.2f}"),
            ("FinalizationDate", fdate.isoformat() if fdate else ""),
            ("IsFinalized", "1" if paid else "0")]
        xml.append("  <Transaction>\n" + "".join(
            f"    <{k}>{v}</{k}>\n" for k, v in fields) + "  </Transaction>")
        if not skip:
            tx.append((stid, sup, None if no_po else po,
                       None if no_po else f"INV-{stid}", tdate, f"{amt:.2f}",
                       f"{tax:.2f}", f"{total:.2f}",
                       "0.00" if paid else f"{total:.2f}", fdate, paid, idx))
    xml.append("</SupplierTransactions>")
    with open(os.path.join(bf, "supplier_transactions.xml"), "w") as f:
        f.write("\n".join(xml) + "\n")
    _table(con, "t_invoices", """SupplierTransactionID BIGINT,
        SupplierID BIGINT, PurchaseOrderID BIGINT, SupplierInvoiceNumber VARCHAR,
        TransactionDate DATE, AmountExcludingTax DECIMAL(18,2),
        TaxAmount DECIMAL(18,2), TransactionAmount DECIMAL(18,2),
        OutstandingBalance DECIMAL(18,2), FinalizationDate DATE,
        IsFinalized BOOLEAN, XML_INDEX BIGINT""", tx)

    # zips, gazetteer and stations
    n_zip = 60
    zips = sorted({f"{rng.randint(1000, 99999):05d}" for _ in range(n_zip * 2)})[:n_zip]
    gaz = [(z, round(rng.uniform(25.0, 48.0), 4), round(rng.uniform(-123.0, -70.0), 4))
           for z in zips]
    with open(os.path.join(bf, "gazetteer.tsv"), "w") as f:
        f.write("GEOID\tALAND\tINTPTLAT\tINTPTLONG\n")
        f.write("".join(f"{z}\t{i * 100}\t{la}\t{lo}\n"
                        for i, (z, la, lo) in enumerate(gaz)))
    _table(con, "t_gazetteer", "zip_code VARCHAR, latitude DOUBLE, longitude DOUBLE", gaz)
    con.execute(f"""CREATE TABLE t_stations AS SELECT
          'USW' || lpad(CAST(i AS VARCHAR), 8, '0') AS NOAA_WEATHER_STATION_ID,
          25.0 + (hash(i, {seed}, 1) % 2300000) / 100000.0 AS LATITUDE,
          -123.0 + (hash(i, {seed}, 2) % 5300000) / 100000.0 AS LONGITUDE
        FROM range(40) t(i)""")
    _copy(con, "SELECT * FROM t_stations", os.path.join(bf, "stations.parquet"))
    _copy(con, f"""SELECT s.NOAA_WEATHER_STATION_ID, d.DATE, v.VARIABLE_NAME,
          round(-10.0 + (hash(s.NOAA_WEATHER_STATION_ID, d.DATE, v.VARIABLE_NAME,
            {seed}) % 4500) / 100.0, 2) AS VALUE
        FROM t_stations s,
          (SELECT CAST(range AS DATE) AS DATE FROM range(DATE '{year}-01-01',
             DATE '{year + 1}-01-01', INTERVAL 1 DAY)) d,
          (VALUES ('Maximum Temperature'), ('Minimum Temperature')) v(VARIABLE_NAME)""",
          os.path.join(bf, "timeseries.parquet"))

    # supplier_case: the first data row always carries an alphanumeric
    # postal code, so the sampled inference types it as a string
    sups = [r[0] for r in con.execute(
        "SELECT DISTINCT SupplierID FROM t_purchases ORDER BY 1").fetchall()]
    names = dict(con.execute("SELECT s_suppkey, s_name FROM src_supplier").fetchall())
    rows, case = [], []
    for i, s in enumerate(sups):
        z = rng.choice(zips)
        r = rng.random()
        if i == 0 or r < 0.06:
            postal = typed = z[:2] + "x" + z[3:]
        elif r < 0.12:
            postal, typed = rng.choice(["", "None", "NULL"]), None
        elif r < 0.18:
            postal = typed = f"{z}-{rng.randint(0, 9999):04d}"
        else:
            postal, typed = z, z
        delivery = rng.choice(zips)
        opened = dt.date(2010, 1, 1) + dt.timedelta(days=rng.randint(0, 1500))
        fmt = rng.choice([opened.isoformat(), _mdy(opened),
                          f"{opened.year}/{opened.month}/{opened.day}"])
        credit = round(rng.uniform(100, 20000), 2)
        allnull = rng.choice(["NULL", "None", "", "\\N"])
        rows.append(",".join([str(s), names.get(s, f"Supplier#{s}"), postal,
                              delivery, fmt, str(credit), allnull]))
        case.append((s, names.get(s, f"Supplier#{s}"), typed, int(delivery),
                     opened, credit, None))
    with open(os.path.join(bf, "supplier_case.csv"), "w") as f:
        f.write("supplierid,suppliername,postalpostalcode,deliverypostalcode,"
                "accountopened,creditlimit,allnull\n" + "\n".join(rows) + "\n")
    _table(con, "t_supplier_case", """supplierid BIGINT,
        suppliername VARCHAR, postalpostalcode VARCHAR, deliverypostalcode BIGINT,
        accountopened DATE, creditlimit DOUBLE, allnull VARCHAR""", case)

    for t in ["purchases", "invoices", "gazetteer", "supplier_case"]:
        _copy(con, f"SELECT * FROM t_{t}", os.path.join(truth, f"{t}.parquet"))
    return {"purchase_lines": len(trows), "purchase_files": len(files),
            "invoices": len(groups), "suppliers": len(sups),
            "warehouse_lineitems": con.execute(
                "SELECT count(*) FROM w_lineitem").fetchone()[0],
            "bytes": _size(out) - _size(truth)}


# ------------------------------------------------------------ curation
def curation(corpus, out, seed, copies):
    """A mutated `copies`× replica: MakeScale's --mutate scheme (per-copy
    id offsets; in copy k>0 every token outside the stable quarter of the
    vocabulary is renamed `token~k`; embeddings rotated 13·k dims) with
    the seed as the salt of the stable-quarter hash. Other tables are
    copied unchanged."""
    con = _con(corpus)
    stride = 100000000
    os.makedirs(out)
    for t in TPCH:
        if t in ("documents", "embeddings"):
            continue
        shutil.copyfile(os.path.join(corpus, f"{t}.parquet"),
                        os.path.join(out, f"{t}.parquet"))
    mutate = (f"array_to_string(list_transform(string_split(text, ' '), w -> "
              f"CASE WHEN hash(w, k, {seed}) % 4 = 0 THEN w "
              f"ELSE w || '~' || CAST(k AS VARCHAR) END), ' ')")
    _copy(con, f"""SELECT doc_id + k * {stride} AS doc_id, txt AS text, lang,
          source, CAST(length(txt) AS BIGINT) AS n_chars FROM (
          SELECT *, CASE WHEN k = 0 THEN text ELSE {mutate} END AS txt
          FROM src_documents, (SELECT range AS k FROM range({copies})))
        ORDER BY doc_id""", os.path.join(out, "documents.parquet"))
    _copy(con, f"""SELECT vec_id + k * {stride} AS vec_id,
          CAST(list_concat(embedding[r + 1:], embedding[1:r]) AS FLOAT[]) AS embedding,
          label FROM (SELECT *, CAST((k * 13) % 64 AS BIGINT) AS r
          FROM src_embeddings, (SELECT range AS k FROM range({copies})))
        ORDER BY vec_id""", os.path.join(out, "embeddings.parquet"))
    return {"documents": con.execute(
                f"SELECT count(*) FROM '{out}/documents.parquet'").fetchone()[0],
            "embeddings": con.execute(
                f"SELECT count(*) FROM '{out}/embeddings.parquet'").fetchone()[0],
            "bytes": _size(out)}


# -------------------------------------------------------------- stream
def stream(corpus, out, seed):
    """The corpus's documents and embeddings as they are; the seed only
    assigns documents to triggers (xxhash64(doc_id, seed) in the
    harness)."""
    os.makedirs(out)
    for t in ("documents", "embeddings"):
        shutil.copyfile(os.path.join(corpus, f"{t}.parquet"),
                        os.path.join(out, f"{t}.parquet"))
    con = duckdb.connect()
    return {"documents": con.execute(
                f"SELECT count(*) FROM '{out}/documents.parquet'").fetchone()[0],
            "bytes": _size(out)}
