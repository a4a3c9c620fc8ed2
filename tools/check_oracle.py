#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate (dev tool only, not
part of the library): reads Verify.scala's output dir, runs each
oracle_sql.json entry in DuckDB over the same sf parquet tables, and
compares rows (column-name-sorted, row-sorted) against the Spark parquet.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, math, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    # driver corpora ship single files; MakeScale replicas are
    # Spark-written DIRECTORIES of part files — glob those
    p = f"{sfdir}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
for name, sql in sorted(oracle.items()):
    spark_dir = f"{outdir}/{name}"
    try:
        sdf = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: no spark output ({e})"); fail += 1; continue
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}"); fail += 1; continue
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        print(f"FAIL {name}: columns spark={s_cols} oracle={o_cols}")
        fail += 1; continue
    sdf, odf = sdf[s_cols], odf[o_cols]
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
        fail += 1; continue

    def norm(df):
        rows = []
        for row in df.itertuples(index=False):
            vals = []
            for v in row:
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    vals.append("<null>")
                elif isinstance(v, float):
                    vals.append(repr(v))
                else:
                    vals.append(str(v))
            rows.append("\x01".join(vals))
        return sorted(rows)

    srows, orows = norm(sdf), norm(odf)
    if srows == orows:
        print(f"OK   {name}: {len(sdf)} rows"); ok += 1
    else:
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
        print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
        fail += 1

print(f"\n{ok} ok, {fail} fail")
# zero rows compared is a broken dump, not a pass
sys.exit(1 if fail or not ok else 0)
