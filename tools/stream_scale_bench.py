"""Streaming scale evidence — measures the two claims §4.3 asserts.

BASELINE §4.3 claims (a) per-batch cost is proportional to BATCH size,
and (b) per-batch cost is FLAT in accumulated state/history size. Both
were asserted from architecture (watermark/state bounds), never measured.
This replays the stateful debounce over chronologically-sliced event
streams (10 slices per run, ``maxFilesPerTrigger=1`` → 10 real
micro-batches with state carried across batches) at ×1 / ×5 / ×10 data
and reports per-batch trigger durations from the query progress API:

- claim (a): mean per-batch ms should grow ~linearly with the factor
  (each batch is factor× bigger);
- claim (b): WITHIN a run, batch 10 processes the same rows as batch 2
  but against 5× more accumulated state (10 slices of users' histories)
  — their durations should be ~equal (ratio ≈ 1, not growing).

    python tools/stream_scale_bench.py [factors ...]   # default 1 5 10

Prints one JSON line; the BASELINE §4.3 measured-claims row comes from
this.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark
from nextgenetl_spark.streaming.source import replay_shuffle_cap, run_bounded
from nextgenetl_spark.streaming.stateful import debounce_against_last_kept

N_SLICES = 10


def build_sliced(spark, sf_dir: str, factor: int) -> str:
    """Replicate events ×factor and write N_SLICES chronological parquet
    files into a flat dir — the landing-directory shape of a real ingest,
    where file k holds time-slice k. Replication offsets user ids so state
    cardinality grows with the factor (more users), which is the realistic
    scale axis for per-key state."""
    out = f"/tmp/ngetl_stream_scale_{factor}x"
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    e = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    big = e.select("*", rep).select(
        (F.col("event_id") * factor + F.col("rep")).alias("event_id"),
        "ts",
        (F.col("user_id") * factor + F.col("rep")).alias("user_id"),
        "event_type",
        "value",
    )
    lo, hi = big.agg(F.min("ts"), F.max("ts")).first()
    span_us = int((hi - lo).total_seconds() * 1e6) + 1
    sliced = big.withColumn(
        "_slice",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lit(lo))) * N_SLICES / span_us
        ).cast("int"),
    )
    for k in range(N_SLICES):
        tmp = os.path.join(out, f"_tmp{k}")
        sliced.filter(F.col("_slice") == k).drop("_slice").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet") and not p.startswith("_")
        )
        os.rename(os.path.join(tmp, part), os.path.join(out, f"slice_{k:02d}.parquet"))
        shutil.rmtree(tmp)
    with open(os.path.join(out, "_DONE"), "w", encoding="utf-8") as fh:
        fh.write("ok")
    return out


def run_replay(spark, data_dir: str, name: str) -> dict:
    schema = spark.read.parquet(os.path.join(data_dir, "slice_00.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(data_dir, "slice_*.parquet"))
    )
    out = debounce_against_last_kept(stream)
    ckpt = f"/tmp/ngetl_stream_scale_ckpt_{name}_{os.getpid()}"
    shutil.rmtree(ckpt, ignore_errors=True)
    with replay_shuffle_cap(spark, 16):
        t0 = time.time()
        # a replay that does not finish raises by name: a partial replay's
        # wall and kept_rows are never reported
        q = run_bounded(
            out.writeStream.format("memory")
            .outputMode("append")
            .option("checkpointLocation", ckpt),
            name,
            timeout_s=600,
        )
        wall = round(time.time() - t0, 2)
    prog = [
        {
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "ms": p["durationMs"].get("triggerExecution"),
        }
        for p in (json.loads(rp.json) for rp in q.recentProgress)
        if p["numInputRows"] > 0
    ]
    kept = spark.table(name).count()
    shutil.rmtree(ckpt, ignore_errors=True)
    return {"wall_s": wall, "kept_rows": kept, "batches": prog}


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 5, 10]
    spark = get_spark("stream-scale")
    sf = DEFAULT_SF_DIR
    out = {}
    for f in factors:
        d = build_sliced(spark, sf, f)
        r = run_replay(spark, d, f"sscale_{f}x_{int(time.time())}")
        batches = r["batches"]
        # batch 1 pays plan compilation + state-store init; steady state
        # is batches 2..N. claim (b): last-vs-second duration per row.
        steady = batches[1:]
        mean_ms = round(sum(b["ms"] for b in steady) / max(len(steady), 1), 1)
        b2, bN = (steady[0], steady[-1]) if len(steady) >= 2 else (None, None)
        out[f"x{f}"] = {
            "wall_s": r["wall_s"],
            "kept_rows": r["kept_rows"],
            "n_batches": len(batches),
            "steady_mean_batch_ms": mean_ms,
            "batch2_ms": b2 and b2["ms"],
            "batchN_ms": bN and bN["ms"],
            "history_flatness_ratio": b2 and bN and round(
                (bN["ms"] / max(bN["rows"], 1)) / (b2["ms"] / max(b2["rows"], 1)), 2
            ),
        }
        print(f"  x{f}: {out[f'x{f}']}", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
