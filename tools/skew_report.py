"""Join-key skew diagnostics: per-key count distribution for a prospective
join/agg key, flagging keys hot enough to stall a reducer — the detector
whose fixes are AQE skew-join splits (moderate skew) and
operators/joins.py salted_join (pathological single-key skew).

    python tools/skew_report.py <parquet_path> <key_col> [top_n]

Cost: one groupBy(key).count() plus tiny aggregates — the same shuffle the
join itself would pay, so run it at a sampled fraction on a 100 TB table
(pass a pre-sampled DataFrame to skew_report()).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key_col: str, top_n: int = 5) -> dict:
    """Distribution of per-key row counts: quantiles, the top keys, and a
    skew ratio (max key count / median key count). ``skewed`` flags ratios
    AQE's default skew factor (5×) would split; ratios in the hundreds mean
    one reducer owns the stage and salting is the fix."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    q = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.max("n").alias("max"),
        F.sum("n").alias("rows"),
    ).first()
    top = [
        {"key": r[key_col], "n": r["n"]}
        for r in counts.orderBy(F.desc("n"), key_col).limit(top_n).collect()
    ]
    ratio = float(q["max"]) / max(float(q["p50"]), 1.0)
    return {
        "key": key_col,
        "n_keys": q["n_keys"],
        "rows": q["rows"],
        "p50": float(q["p50"]),
        "p99": float(q["p99"]),
        "max": q["max"],
        "skew_ratio": round(ratio, 2),
        "skewed": ratio >= 5.0,
        "top_keys": top,
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from nextgenetl_spark.session import get_spark

    path, key = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark("skew-report")
    rep = skew_report(spark.read.parquet(path), key, top_n)
    print(rep)
