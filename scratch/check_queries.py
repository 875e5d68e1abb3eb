"""Spot-check named registered queries vs their DuckDB oracles.

Usage: python scratch/check_queries.py name1 name2 ... [--sfs 0.001,0.01,0.1]
       [SF_DIR=...]
Without --sfs the queries run at SF_DIR; with it, at each sf<tag>
directory next to SF_DIR. Bare driver-shaped session (no engine configs)
like drive_driver.py.
"""
import os
import sys
import time

sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
names = sys.argv[1:]
sf_dirs = [sf_dir]
if "--sfs" in names:
    i = names.index("--sfs")
    sf_dirs = [
        os.path.join(os.path.dirname(sf_dir), f"sf{tag}")
        for tag in names[i + 1].split(",")
    ]
    names = names[:i] + names[i + 2:]

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.driver.memory", "8g")
    .appName("check_queries")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)
import __spark_entry__ as entry

sys.path.insert(0, os.path.join(_repo, "tests"))
from oracle_harness import compare, duckdb_conn

qs = entry.queries()
oracles = entry.oracle_sql()
fails = 0
for sf in sf_dirs:
    con = duckdb_conn(sf)
    tag = os.path.basename(sf)
    for name in names:
        t0 = time.time()
        df = qs[name](spark, sf)
        if name not in oracles:
            n = df.count()
            print(f"  ROWS-ONLY {tag} {name}: {n} rows ({time.time()-t0:.1f}s)")
            continue
        errs = compare(df, con, oracles[name], name)
        if errs:
            fails += 1
            print(f"  FAIL {tag} {name} ({time.time()-t0:.1f}s)")
            for e in errs:
                print("    " + e)
        else:
            print(f"  OK   {tag} {name} ({time.time()-t0:.1f}s)")
    con.close()
print("done", "FAILURES" if fails else "all green")
sys.exit(1 if fails else 0)
