"""Local correctness harness — mimics the driver's duckdb-oracle compare.

For every workload with an oracle: run the Spark plan and the DuckDB SQL at
the same sf, sort columns by name, compare row counts, column-name sets, and
an order-insensitive hash of stringified rows. Run:

    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nextgenetl_spark.catalog import TABLES
from nextgenetl_spark.session import get_spark
from nextgenetl_spark.workloads import load_all


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # abs() guard FIRST: int(inf) raises OverflowError (found by the
        # hypothesis fuzz in tests/test_tools_check.py); inf falls through
        # to repr ('inf'/'-inf'), stable on both engines.
        if abs(v) < 1e15 and v == int(v):
            return str(int(v))
        return repr(v)
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hashes = sorted(
        hashlib.md5("|".join(canon(r[i]) for i in order).encode()).hexdigest() for r in rows
    )
    return hashlib.md5("\n".join(hashes).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if "/" not in a)
    registry = load_all()
    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name, wl in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = wl.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: SPARK ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        if wl.oracle is None:
            print(f"ok   {name}: rows-only {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(wl.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: ORACLE ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            hs = table_hash(srows, scols)
            ho = table_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                sset = {tuple(canon(v) for v in r) for r in [tuple(r[i] for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows]}
                oset = {tuple(canon(v) for v in r) for r in [tuple(r[i] for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows]}
                diff_s = list(sset - oset)[:3]
                diff_o = list(oset - sset)[:3]
                problems.append(f"spark-only={diff_s} oracle-only={diff_o}")
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
