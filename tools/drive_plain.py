"""Driver-contract fidelity harness: run every __spark_entry__ query under
a PLAIN SparkSession (the external driver's conditions — no factory configs,
default shuffle partitions) and oracle-compare against DuckDB exactly the
way the driver does (row count + schema + order-insensitive value hash).

    python tools/drive_plain.py            # all queries at sf0.01
"""

import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").appName("drive-full").getOrCreate()
import __spark_entry__ as E
import duckdb

from nextgenetl_spark.catalog import TABLES
from tools.check import table_hash

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs = E.queries(); os_ = E.oracle_sql()
only = set(sys.argv[1:])
npass = nfail = 0
for name, fn in qs.items():
    if only and name not in only:
        continue
    t0 = time.time()
    try:
        sdf = fn(spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        if name in os_:
            res = con.execute(os_[name])
            ocols = [d[0] for d in res.description]; orows = res.fetchall()
            match = sorted(sdf.columns)==sorted(ocols) and len(srows)==len(orows) and table_hash(srows, sdf.columns)==table_hash(orows, ocols)
        else:
            match = len(srows) >= 0
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {str(e)[:150]}", flush=True)
        nfail += 1
        continue
    print(f"{'PASS' if match else 'FAIL'} {name} ({len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
    npass += match; nfail += (not match)
print(f"{npass} pass, {nfail} fail")
