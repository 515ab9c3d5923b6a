"""Driver-contract fidelity harness: run every __spark_entry__ query under
a PLAIN SparkSession (the external driver's conditions — no factory configs,
default shuffle partitions) and oracle-compare against DuckDB exactly the
way the driver does (row count + schema + order-insensitive value hash).

    python tools/drive_plain.py            # all queries at sf0.01
"""

import hashlib, math, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").appName("drive-full").getOrCreate()
import __spark_entry__ as E
import duckdb

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        if v == int(v) and abs(v) < 1e15: return str(int(v))
        return repr(v)
    return str(v)

def h(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hs = sorted(hashlib.md5("|".join(canon(r[i]) for i in order).encode()).hexdigest() for r in rows)
    return hashlib.md5("\n".join(hs).encode()).hexdigest()

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
            match = sorted(sdf.columns)==sorted(ocols) and len(srows)==len(orows) and h(srows, sdf.columns)==h(orows, ocols)
        else:
            match = len(srows) >= 0
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {str(e)[:150]}", flush=True)
        nfail += 1
        continue
    print(f"{'PASS' if match else 'FAIL'} {name} ({len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
    npass += match; nfail += (not match)
print(f"{npass} pass, {nfail} fail")
