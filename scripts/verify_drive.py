"""Drive the driver contract surface end-to-end, replicating the harness:
run queries() on Spark and oracle_sql() on DuckDB at sf0.01, canonicalize
with the SAME pandas sort the driver uses (which crashed on media_features
in round 1), and compare value hashes.

Usage: python scripts/verify_drive.py [query_name ...]  (default: all)"""
import sys, os, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

SF = "/root/testdata/sf0.01"
TABLES = ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def _canon(pdf):  # the driver's canonicalization: sort cols by name, sort rows
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pd.util.hash_pandas_object(pdf.astype(str), index=False).sum()


# 1. entry() smoke — what the driver does first
df = E.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema {df.columns}")

# the queries named on the command line, else the whole contract surface
oracles = E.oracle_sql()
qs = E.queries()
targets = sys.argv[1:] or sorted(qs)
for name in targets:
    sdf = qs[name](spark, SF).toPandas()
    if name in oracles:
        odf = con.execute(oracles[name]).fetchdf()
        hs, ho = _canon(sdf), _canon(odf)
        status = "HASH_MATCH" if (hs == ho and len(sdf) == len(odf)) else "MISMATCH"
        print(f"{name}: spark_rows={len(sdf)} oracle_rows={len(odf)} {status}")
    else:
        h = _canon(sdf)  # must not raise (media_features crashed here in r1)
        print(f"{name}: spark_rows={len(sdf)} rows-only, canon-hash ok")

spark.stop()
print("DRIVE OK")
