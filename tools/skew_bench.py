"""Measured pathological-skew join experiment (the datapoint behind the
salting guidance in operators/joins.py salted_join).

Builds a fact table (lineitem replicated in-plan, default ×20 ≈ 12M rows)
whose join key is deliberately pathological — one hot key holds ~40% of
all rows, ~50k cold keys share the rest — and sort-merge-joins it against
a 50k-row dim with broadcast DISABLED (forcing the skewed shuffle a 100-TB
fact-dim join pays when the dim outgrows the broadcast threshold). Three
regimes, one fresh wall measurement each:

    plain        AQE skew-join OFF — one reducer owns the hot key
    aqe_skew     AQE skew-join ON  — runtime split of the hot partition
    salted       operators/joins.py salted_join (32 salts), AQE skew OFF

    python tools/skew_bench.py [replication]

Prints one JSON line; the BASELINE §4.4 row comes from this.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nextgenetl_spark.catalog import load  # noqa: E402
from nextgenetl_spark.operators.joins import salted_join  # noqa: E402
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402
from perfbench.spans import SparkCounters  # noqa: E402


class _StageCounters(SparkCounters):
    STAGE_FIELDS = SparkCounters.STAGE_FIELDS + ("stageId", "attemptId")


N_COLD_KEYS = 50_000
HOT_FRACTION = 0.4


def build_fact(spark, sf_dir, n):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    fact = li.select("*", rep)
    # deterministic skew: ~HOT_FRACTION of rows land on key 0, the rest
    # spread uniformly over N_COLD_KEYS cold keys
    r = F.rand(seed=7)
    key = F.when(r < HOT_FRACTION, F.lit(0)).otherwise(
        (F.rand(seed=11) * N_COLD_KEYS).cast("long") + 1
    )
    return fact.select(key.alias("k"), "l_quantity")


def build_dim(spark):
    return spark.range(0, N_COLD_KEYS + 1).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("grp")
    )


def _reduce_task_skew(spark, counters, lo, hi):
    """Median vs max task run time of the heaviest shuffle-read stage
    submitted in [lo, hi] (epoch s), from the status store — the metric
    that becomes the WALL on a real cluster (local[32] timeshares a
    straggler's core, a 1000-executor cluster waits for it)."""
    counters.poll()
    recent = [s for s in counters.stages if lo <= s["start"] <= hi and s["shuffleReadBytes"] > 0]
    if not recent:
        return None
    heavy = max(recent, key=lambda s: s["shuffleReadBytes"])
    quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    dist = spark._jsc.sc().statusStore().taskSummary(heavy["stageId"], heavy["attemptId"], quantiles)
    if not dist.isDefined():
        return None
    run_ms = dist.get().executorRunTime()
    p50, mx = run_ms.apply(0), run_ms.apply(1)
    return {
        "stage": heavy["stageId"],
        "task_p50_s": round(p50 / 1000, 2),
        "task_max_s": round(mx / 1000, 2),
        "straggler_ratio": round(mx / max(p50, 1.0), 1),
    }


def run(spark, counters, fact, dim, mode):
    on_ = "true" if mode == "aqe_skew" else "false"
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on_)
    # without force, OptimizeSkewedJoin bails whenever splitting would add
    # a shuffle for the downstream aggregation — which is every fact-dim
    # join feeding a groupBy, i.e. the shape under test
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", on_)
    t0 = time.time()
    if mode == "salted":
        out = salted_join(fact, dim, on="k", num_salts=32)
    else:
        out = fact.join(dim, "k")
    n = out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).count()
    t1 = time.time()
    return round(t1 - t0, 2), n, _reduce_task_skew(spark, counters, t0, t1)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("skew-bench")
    counters = _StageCounters(spark)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = build_fact(spark, DEFAULT_SF_DIR, n).localCheckpoint()
        dim = build_dim(spark).localCheckpoint()
        rows = fact.count()
        out = {"fact_rows": rows, "hot_fraction": HOT_FRACTION, "replication": n}
        for mode in ["plain", "aqe_skew", "salted"]:
            walls, tasks = [], None
            for _ in range(2):
                w, groups, t = run(spark, counters, fact, dim, mode)
                walls.append(w)
                tasks = t or tasks
            out[mode] = {"wall_s": min(walls), "result_groups": groups, "reduce_tasks": tasks}
        print(json.dumps(out))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


if __name__ == "__main__":
    main()
