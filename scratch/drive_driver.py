"""Simulate the driver: bare SparkSession (no engine configs), import the
contract module, run t1 smoke + t2 oracle gate at sf0.01."""
import sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

# deliberately bare session -- none of the engine's configs
spark = (SparkSession.builder.master("local[8]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

# t1 smoke
t0 = time.time()
df = E.entry(spark)
rows = df.count()
print(f"t1 SMOKE: entry() rows={rows} schema={[(f.name, f.dataType.simpleString()) for f in df.schema.fields][:4]}... ({time.time()-t0:.1f}s)")
assert rows > 0

# t2 oracle gate at sf0.01
from tests.oracle_harness import compare, duckdb_conn
sf = "/root/testdata/sf0.01"
con = duckdb_conn(sf)
qs, osql = E.queries(), E.oracle_sql()
print(f"t2: {len(qs)} queries, {len(osql)} with oracle")
fails = 0
for name, fn in sorted(qs.items()):
    t0 = time.time()
    sdf = fn(spark, sf)
    if name in osql:
        errs = compare(sdf, con, osql[name], name)
        status = "OK " if not errs else "FAIL"
        fails += bool(errs)
        print(f"  {status} {name} ({time.time()-t0:.1f}s)" + ("\n    " + "\n    ".join(errs) if errs else ""))
    else:
        n = sdf.count()
        print(f"  ROWS {name}: {n} rows ({time.time()-t0:.1f}s)")

print("RESULT:", "ALL PASS" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)
