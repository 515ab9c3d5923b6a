"""Arrival-order fuzz of the streaming window operators.

Hypothesis generates random event sets (duplicate timestamps, window-
boundary-aligned timestamps, multiple users/types) and random operator
parameters (window/slide/gap), splits the events across several parquet
files in a random order, and replays them through the REAL streaming
operators with ``maxFilesPerTrigger=1`` — forcing multi-micro-batch
incremental state — in complete mode. The streamed result must equal the
same plan run in batch over the rows the stream keeps, for every split and
arrival order: event-time semantics may not depend on arrival beyond the
watermark's own late-row rule (``_on_time``).

Values are generated as multiples of 0.25 (exact in binary), so sums are
bit-identical under any aggregation order and the compare stays exact.
"""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import fuzz_examples

from nextgenetl_spark.streaming import session_window_agg, sliding_window_agg, tumbling_window_agg
from nextgenetl_spark.streaming.source import run_memory_replay
from nextgenetl_spark.streaming.windows import with_watermark

_COUNTER = [0]
WATERMARK_DELAY_S = 600  # with_watermark's default delay


@st.composite
def _stream_cases(draw):
    n = draw(st.integers(5, 30))
    base = 1_700_000_000  # fixed epoch anchor (no wall-clock dependence)
    rows = []
    for i in range(n):
        # second-granularity offsets biased toward window boundaries
        off = draw(
            st.one_of(
                st.integers(0, 3600),
                st.sampled_from([0, 60, 300, 600, 900, 1800, 3599]),
            )
        )
        rows.append(
            (
                i,
                draw(st.integers(1, 3)),  # user_id
                draw(st.sampled_from(["click", "view"])),
                base + off,
                draw(st.integers(0, 400)) * 0.25,
            )
        )
    op = draw(st.sampled_from(["tumbling", "sliding", "session"]))
    if op == "tumbling":
        params = {"window": draw(st.sampled_from(["1 minutes", "5 minutes", "7 minutes"]))}
    elif op == "sliding":
        w = draw(st.sampled_from([2, 4, 10]))
        params = {"window": f"{w} minutes", "slide": f"{w // 2} minutes"}
    else:
        params = {"gap": draw(st.sampled_from(["90 seconds", "5 minutes", "30 minutes"]))}
    # random split into 1-3 files, random arrival order
    n_files = draw(st.integers(1, 3))
    assignment = [draw(st.integers(0, n_files - 1)) for _ in rows]
    return rows, op, params, n_files, assignment


def _on_time(rows, op, params, n_files, assignment):
    """The rows the stream aggregates. File k is micro-batch k, and Spark
    judges a batch's rows against the watermark the previous batch ran
    under: the max event time of files 0..k-2 less the delay. A session
    window drops a row whose session (event time + gap) ends at or before
    that watermark; tumbling and sliding windows in complete mode keep
    every row."""
    if op != "session":
        return rows
    n, unit = params["gap"].split()
    gap = int(n) * (60 if unit.startswith("minute") else 1)
    file_max = [max((r[3] for r, a in zip(rows, assignment) if a == f), default=None) for f in range(n_files)]

    def late(f, epoch):
        seen = [m for m in file_max[: max(f - 1, 0)] if m is not None]
        return bool(seen) and epoch + gap <= max(seen) - WATERMARK_DELAY_S

    return [r for r, a in zip(rows, assignment) if not late(a, r[3])]


def _apply(op, params, df):
    if op == "tumbling":
        return tumbling_window_agg(df, **params)
    if op == "sliding":
        return sliding_window_agg(df, **params)
    return session_window_agg(df, **params)


# A streamed session drops the late +0 s row of file 2: file 0's +2145 s
# row set the watermark file 1 (empty) ran under to +1545 s.
_LATE_SESSION_ROW = (
    [(0, 1, "click", 1_700_002_145, 0.0)]
    + [(i, 1, "click", 1_700_000_000, 0.0) for i in range(1, 22)],
    "session",
    {"gap": "90 seconds"},
    3,
    [0] * 21 + [2],
)


@settings(
    max_examples=fuzz_examples(25, 10),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=_stream_cases())
@example(case=_LATE_SESSION_ROW)
def test_stream_matches_batch_under_any_arrival_order(spark, case, tmp_path_factory):
    rows, op, params, n_files, assignment = case
    src = str(tmp_path_factory.mktemp("stream_fuzz"))

    schema = "event_id long, user_id long, event_type string, epoch long, value double"
    full = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.timestamp_seconds("epoch")
    ).drop("epoch")
    # write each file separately so the file source replays them as
    # distinct micro-batches (maxFilesPerTrigger=1)
    for f in range(n_files):
        ids = [r[0] for r, a in zip(rows, assignment) if a == f]
        part = full.filter(F.col("event_id").isin(ids)) if ids else full.limit(0)
        part.coalesce(1).write.mode("append").parquet(src)

    kept = [r[0] for r in _on_time(rows, op, params, n_files, assignment)]
    on_time = spark.read.schema(full.schema).parquet(src).filter(F.col("event_id").isin(kept))
    batch = _apply(op, params, on_time).collect()

    stream_src = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _COUNTER[0] += 1
    name = f"fuzz_stream_{_COUNTER[0]}"
    streamed = run_memory_replay(spark, _apply(op, params, with_watermark(stream_src)), name, "complete").collect()
    spark.catalog.dropTempView(name)

    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch)), (
        f"op={op} params={params} files={n_files}\nrows={rows}\nassignment={assignment}"
    )
