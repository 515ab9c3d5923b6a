"""sf0.1 → N× scale datapoint for the relational/events headline set
(round-2 verdict #8: show the scheduling-floor gap closing and no plan
flips at larger inputs).

Builds an N× blow-up of the sf0.1 TPC-H + events tables into /tmp (cached,
_SUCCESS-marked): each copy k gets every JOIN KEY offset by k*stride so the
join graph is N disjoint sf0.1-shaped islands — row counts scale by N while
per-key cardinalities and value distributions stay fixed, which is exactly
the scaling a bigger TPC-H sf gives for these query shapes. nation/region
(shared dims) and documents/embeddings (not exercised here; the dedup/ANN
scale curves live in tools/scale_smoke.py) are copied as-is.

Runs each headline query warm at sf0.1 and at N×, records wall times and
the physical plan's join-strategy node counts at both scales (a broadcast
that silently becomes a sort-merge join — or vice versa — is a plan flip
worth knowing about), and prints one JSON document.

    python tools/scale_relational.py [mult] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark
from nextgenetl_spark.workloads import load_all

SF_DIR = DEFAULT_SF_DIR

# (table, [key columns to offset]) — offsets preserve the FK graph per copy
REPLICATED = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],  # c_nationkey: shared dim, unchanged
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],  # s_nationkey: shared dim, unchanged
    "events": ["event_id", "user_id"],
}
COPIED = ["region", "nation", "documents", "embeddings"]

# headline queries that touch only the TPC-H/events tables (the documents/
# embeddings scale story is tools/scale_smoke.py's job)
QUERIES = [
    "pricing_summary", "multiway_star", "clinical_wide_join",
    "clinical_wide_join_pdc",
    "left_join_counts", "pull_list_join",
    "window_max", "window_rank_family", "symmetric_diff", "wide_group_dedup",
    "keep_latest_per_key", "merge_upsert_orders", "scd2_order_history",
    "shipping_priority", "forecast_revenue_delta", "funnel_conversion",
    "string_agg_ordered", "rollup_profile", "tumbling_window", "sessionize",
    "sliding_window", "asof_purchase_view", "value_outliers",
]


# Each replicated key column belongs to a key DOMAIN anchored at its PK
# table: the stride is derived ONCE from the PK table's max and applied to
# every column in the domain (PK and FKs alike). Per-column strides from
# each column's own max only align FK pairs when the FK's max happens to
# equal the PK's; on data where an FK under-covers its domain, copies would
# silently mis-join and corrupt the scale ratios / plan-flip report.
DOMAINS = {
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "c_custkey": ("customer", "c_custkey"),
    "o_custkey": ("customer", "c_custkey"),
    "p_partkey": ("part", "p_partkey"),
    "l_partkey": ("part", "p_partkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),  # no PK table; its own max IS the domain max
}


def build_scaled(spark, mult: int) -> str:
    key = hashlib.md5(f"{os.path.abspath(SF_DIR)}|{mult}".encode()).hexdigest()[:12]
    out = os.path.join("/tmp", f"ngetl_scale_{mult}x_{key}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    copies = spark.range(mult).withColumnRenamed("id", "_copy")
    domain_stride: dict[tuple[str, str], int] = {}
    for table, pk in set(DOMAINS.values()):
        df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        domain_stride[(table, pk)] = int(df.agg(F.max(pk)).first()[0]) + 1
    for name, keys in REPLICATED.items():
        df = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        rep = df.crossJoin(F.broadcast(copies))
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.col("_copy") * F.lit(domain_stride[DOMAINS[k]]))
        rep.drop("_copy").write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    for name in COPIED:
        src = f"{SF_DIR}/{name}.parquet"
        dst = f"{out}/{name}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    with open(os.path.join(out, "_SUCCESS"), "w") as fh:
        fh.write("")
    return out


def join_profile(df) -> dict[str, int]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return {
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "shuffled_hash_join": plan.count("ShuffledHashJoin"),
        "bnl_join": plan.count("BroadcastNestedLoopJoin"),
    }


def time_query(fn, spark, sf_dir: str) -> float:
    runs = []
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf_dir).count()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def main() -> None:
    args = sys.argv[1:]
    mult = int(args[0]) if args and args[0].isdigit() else 10
    only = set(a for a in args if not a.isdigit())
    registry = load_all()
    spark = get_spark("scale_relational")
    spark.range(1000).selectExpr("sum(id)").collect()

    t0 = time.time()
    scaled_dir = build_scaled(spark, mult)
    build_s = round(time.time() - t0, 1)

    rows = {}
    for name in QUERIES:
        if only and name not in only:
            continue
        fn = registry[name].fn
        base = time_query(fn, spark, SF_DIR)
        big = time_query(fn, spark, scaled_dir)
        prof_base = join_profile(fn(spark, SF_DIR))
        prof_big = join_profile(fn(spark, scaled_dir))
        flips = {
            k: [prof_base[k], prof_big[k]] for k in prof_base if prof_base[k] != prof_big[k]
        }
        rows[name] = {
            "sf0.1_s": base,
            f"x{mult}_s": big,
            "ratio": round(big / base, 2) if base > 0 else None,
            "plan_flips": flips,
        }
    out = {
        "mult": mult,
        "build_s": build_s,
        "scaled_dir": scaled_dir,
        "queries": rows,
        "total_sf0.1_s": round(sum(r["sf0.1_s"] for r in rows.values()), 2),
        f"total_x{mult}_s": round(sum(r[f"x{mult}_s"] for r in rows.values()), 2),
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
