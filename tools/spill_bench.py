"""Measured memory-pressure (spill) experiment: prove the engine's wide
shuffle/sort/agg plans DEGRADE TO DISK instead of dying when the working
set exceeds executor memory — the behavior a 100-TB run depends on and the
one a 128 GiB sandbox never triggers by accident.

Builds a ~TOTAL_MB working set in-plan (lineitem replicated with a padded
payload), runs the two classic spillers under a deliberately small heap —
a global sort (range-partitioned external sort) and a high-cardinality
hash aggregation (hash map falls back to sort-based agg) — and reports
wall time plus memory/disk spill bytes from the status store's stage
metrics.

    python tools/spill_bench.py [heap_gb] [replication]   # default 3 40

Run it as its own process: the heap is set through SPARK_GRAFT_DRIVER_MEM
before the factory session launches the JVM. Prints one JSON line;
BASELINE §4.5 records the datapoint.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402
from perfbench.spans import SparkCounters  # noqa: E402


class SpillCounters(SparkCounters):
    """``SparkCounters`` that also keep each stage's in-memory spill size."""

    STAGE_FIELDS = SparkCounters.STAGE_FIELDS + ("memoryBytesSpilled",)

    def spill(self, lo: float, hi: float) -> dict:
        """Spill of the stages submitted in [lo, hi] (epoch s)."""
        self.poll()
        stages = [s for s in self.stages if lo <= s["start"] <= hi]
        return {
            "memory_spilled_mb": sum(s["memoryBytesSpilled"] for s in stages) // 2**20,
            "disk_spilled_mb": sum(s["diskBytesSpilled"] for s in stages) // 2**20,
        }


def main():
    heap_gb = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    spark = get_spark("spill-bench")
    counters = SpillCounters(spark)
    li = spark.read.parquet(f"{DEFAULT_SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    big = li.select("*", rep).select(
        (F.col("l_orderkey") * n + F.col("rep")).alias("k"),
        F.rpad(F.concat_ws("#", "l_partkey", "l_suppkey"), 180, "x").alias("payload"),
    )
    out = {"heap_gb": heap_gb, "replication": n}

    # 1. global sort: range partition + per-partition external sort.
    # The noop sink executes the full sorted plan and discards rows —
    # a bare count() would let Catalyst eliminate the sort entirely.
    # rows is counted BEFORE the metrics window opens: the dict-literal
    # form evaluated big.count() inside [t0, t1], polluting the reported
    # sort spill bytes with the count job's stages (round-5 ADVICE).
    rows = big.count()
    t0 = time.time()
    big.orderBy("payload", "k").write.format("noop").mode("overwrite").save()
    t1 = time.time()
    out["global_sort"] = {"wall_s": round(t1 - t0, 2), "rows": rows, **counters.spill(t0, t1)}

    # 2. high-cardinality hash agg (every key distinct => map exceeds heap)
    t0 = time.time()
    agg_rows = big.groupBy("k", "payload").agg(F.count(F.lit(1))).count()
    t1 = time.time()
    out["wide_hash_agg"] = {"wall_s": round(t1 - t0, 2), "groups": agg_rows, **counters.spill(t0, t1)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
