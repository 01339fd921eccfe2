"""Simulate the driver: smoke entry() + oracle-compare every query at sf0.01."""
import os, sys, time
HERE = os.path.dirname(os.path.abspath(__file__))
# Drop scripts/ from sys.path: scripts/profile.py would shadow the stdlib
# `profile` module that pyspark loads through cProfile.
sys.path[:] = [os.path.dirname(HERE)] + [p for p in sys.path if p != HERE]
import duckdb, pandas as pd
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]").appName("drive")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

if len(sys.argv) == 1:  # full run: include the smoke check
    t0 = time.time()
    df = e.entry(spark)
    rows = df.collect()
    print(f"SMOKE entry(): {len(rows)} rows in {time.time()-t0:.1f}s schema={df.columns}")
    for r in rows[:3]: print("  ", r)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
for name in ("region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{SF}/{name}.parquet')")

from embarrassingly_parallel_image_classification_spark.verify import diff_exact

qs, oracles = e.queries(), e.oracle_sql()
print(f"{len(qs)} queries, {len(oracles)} with oracles")
print(f"first 50 (driver window): {sum(1 for n in list(qs)[:50] if n in oracles)} oracle-backed")

only = sys.argv[1:]  # optional name substrings to filter
fails = 0
for name, fn in qs.items():  # registry order == the driver's check order
    if only and not any(s in name for s in only):
        continue
    t0 = time.time()
    try:
        got = fn(spark, SF).toPandas()
    except Exception as ex:
        print(f"FAIL {name}: query raised {ex}"); fails += 1; continue
    try:
        # the driver's canonicalizer sorts the RAW frame by all
        # columns before hashing — an array/map/struct cell crashes
        # it even when values are right (round-5 red). This applies
        # to ROWS-ONLY queries too: the driver sorts before its
        # did-it-run record (round-10 red: q_agg_approx_percentile).
        got.head(50).sort_values(by=list(got.columns))
    except Exception as ex:
        print(f"FAIL {name}: not driver-sortable ({ex})"); fails += 1; continue
    if name in oracles:
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle raised {ex}"); fails += 1; continue
        diff = diff_exact(got, want)
        if diff is not None:
            print(f"FAIL {name}: {diff}"); fails += 1; continue
        print(f"OK   {name}: {len(got)} rows oracle-match EXACT ({time.time()-t0:.1f}s)")
    else:
        print(f"OK   {name}: {len(got)} rows (rows-only) ({time.time()-t0:.1f}s)")
print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
