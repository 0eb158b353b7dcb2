"""Local stand-in for the driver's correctness gate: run every queries()
entry AND its oracle_sql() side-by-side at sf0.01, compare row count,
column names, and values (sorted columns, sorted rows, stringified).
Usage: python scripts/check_correctness.py [sf_dir] [query ...]"""
import os, sys, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from simpletasks_data_spark.session import get_spark
from tests.oracle_harness import dtype_kind_mismatches
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = set(sys.argv[2:])
spark = get_spark()
con = duckdb.connect()
# Spill outside the repo: the default temp_directory is ./.tmp, and a big
# sweep once left a 423 MB scratch binary that got committed.
con.execute("SET temp_directory='/tmp/duckdb_scratch'")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

qs, osql = e.queries(), e.oracle_sql()
bad = []
for name, fn in qs.items():
    if only and name not in only:
        continue
    try:
        sdf_spark = fn(spark, sf)
        sdf = sdf_spark.toPandas()
        if name not in osql:
            print(f"{name:35s} rows={len(sdf):6d} NO_ORACLE")
            continue
        rel = con.sql(osql[name])
        o_types = rel.types
        o_names = rel.columns
        odf = rel.fetchdf()
        cols = sorted(sdf.columns)
        ocols = sorted(odf.columns)
        if cols != ocols:
            print(f"{name:35s} SCHEMA MISMATCH spark={cols} oracle={ocols}")
            bad.append(name); continue
        # Driver-faithful dtype gate: the driver stringifies pandas cells,
        # so an int-vs-float kind divergence (e.g. DuckDB HUGEINT -> float64
        # "78.0" vs Spark long "78") reds EVERY row there even though the
        # old %.6g canonicalization here masked it (r4's hypertable red).
        kind_bad = dtype_kind_mismatches(sdf_spark.schema, o_names, o_types)
        if kind_bad:
            print(f"{name:35s} DTYPE-KIND MISMATCH {kind_bad}")
            bad.append(name); continue
        if len(sdf) != len(odf):
            print(f"{name:35s} ROWS MISMATCH spark={len(sdf)} oracle={len(odf)}")
            bad.append(name); continue
        def canon(df):
            d = df[cols].copy()
            for c in cols:
                if d[c].dtype.kind == "f":
                    d[c] = d[c].map(lambda x: "NaN" if x is None or (isinstance(x, float) and math.isnan(x)) else f"{x:.6g}")
                else:
                    d[c] = d[c].astype(str)
            return d.sort_values(cols).reset_index(drop=True)
        s, o = canon(sdf), canon(odf)
        mism = [c for c in cols if not (s[c].values == o[c].values).all()]
        if mism:
            print(f"{name:35s} VALUE MISMATCH cols={mism}")
            for c in mism[:2]:
                neq = s[c].values != o[c].values
                print("   spark:", s[c].values[neq][:5], " oracle:", o[c].values[neq][:5])
            bad.append(name)
        else:
            print(f"{name:35s} rows={len(s):6d} OK")
    except Exception as ex:
        print(f"{name:35s} ERROR {type(ex).__name__}: {ex}")
        bad.append(name)
print("====", "ALL GREEN" if not bad else f"{len(bad)} BAD: {bad}")
