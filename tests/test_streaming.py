"""Streaming tests: the SAME window plans run (a) in batch against the
DuckDB-checkable workloads and (b) as a real availableNow stream into a
memory sink — results must match exactly (event-time semantics don't
depend on arrival order)."""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest

from nextgenetl_spark.catalog import load
from nextgenetl_spark.streaming import session_window_agg, sliding_window_agg, tumbling_window_agg
from nextgenetl_spark.streaming.source import events_stream, run_memory_replay
from nextgenetl_spark.streaming.windows import with_watermark
from tests.conftest import SF_SMOKE


def test_tumbling_stream_matches_batch(spark):
    batch = tumbling_window_agg(load(spark, SF_SMOKE, "events")).collect()
    stream = run_memory_replay(
        spark,
        tumbling_window_agg(with_watermark(events_stream(spark, SF_SMOKE))),
        "t_tumble",
        "complete",
    ).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    assert len(batch) > 0


def test_sliding_stream_matches_batch(spark):
    batch = sliding_window_agg(load(spark, SF_SMOKE, "events")).collect()
    stream = run_memory_replay(
        spark,
        sliding_window_agg(with_watermark(events_stream(spark, SF_SMOKE))),
        "t_slide",
        "complete",
    ).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    # every event lands in window/slide = 2 windows: sliding total = 2× tumbling total
    assert sum(r["n_events"] for r in batch) == 2 * load(spark, SF_SMOKE, "events").count()


def test_session_stream_matches_batch(spark):
    batch = session_window_agg(load(spark, SF_SMOKE, "events"), gap="30 minutes").collect()
    stream = run_memory_replay(
        spark,
        session_window_agg(with_watermark(events_stream(spark, SF_SMOKE)), gap="30 minutes"),
        "t_sess",
        "complete",
    ).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    # cross-check against the lag-based batch sessionizer (same session count)
    from nextgenetl_spark.workloads import load_all

    lag_based = load_all()["sessionize"].fn(spark, SF_SMOKE).collect()
    assert sum(r["n_sessions"] for r in lag_based) == len(batch)


def test_stateful_running_profile(spark):
    from nextgenetl_spark.streaming.stateful import running_user_profile

    out = run_memory_replay(
        spark, running_user_profile(events_stream(spark, SF_SMOKE)), "t_state", "update"
    )
    rows = {r["user_id"]: r for r in out.collect()}
    ev = load(spark, SF_SMOKE, "events")
    expected = {r["user_id"]: r for r in ev.groupBy("user_id").count().collect()}
    assert {u: r["n_events"] for u, r in rows.items()} == {u: r["count"] for u, r in expected.items()}


def test_dedup_stream_first_occurrence_only(spark):
    from nextgenetl_spark.streaming.dedup import dedup_stream

    # documents have no event-time; reuse events and dedup on props content
    ev = events_stream(spark, SF_SMOKE)
    out = run_memory_replay(
        spark, dedup_stream(ev, text_col="props", ts_col="ts"), "t_dedup", "append"
    )
    rows = out.collect()
    batch = load(spark, SF_SMOKE, "events")
    n_distinct = batch.select("props").distinct().count()
    assert len(rows) == n_distinct
    assert len({r["fp"] for r in rows}) == len(rows)


def test_stream_static_enrich_matches_batch(spark):
    from nextgenetl_spark.streaming.joins import enrich_with_dim
    from pyspark.sql import functions as F

    dim = load(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    ev = events_stream(spark, SF_SMOKE)
    out = run_memory_replay(
        spark, enrich_with_dim(ev, dim, "user_id", "inner"), "t_enrich", "append"
    )
    batch = load(spark, SF_SMOKE, "events").join(dim, "user_id", "inner")
    assert out.count() == batch.count()
    s = {(r["event_id"], r["segment"]) for r in out.select("event_id", "segment").collect()}
    b = {(r["event_id"], r["segment"]) for r in batch.select("event_id", "segment").collect()}
    assert s == b


def test_stream_interval_join_matches_batch(spark):
    from nextgenetl_spark.streaming.joins import interval_self_join
    from pyspark.sql import functions as F

    ev = events_stream(spark, SF_SMOKE)
    out = run_memory_replay(
        spark, interval_self_join(ev, "purchase", "click", "10 minutes"), "t_ijoin", "append"
    )
    e = load(spark, SF_SMOKE, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    batch = p.join(
        c,
        F.expr("pu = cu AND cts BETWEEN pts - INTERVAL 10 minutes AND pts"),
    )
    s = {(r["left_id"], r["right_id"]) for r in out.select("left_id", "right_id").collect()}
    b = {(r["pid"], r["cid"]) for r in batch.select("pid", "cid").collect()}
    assert s == b


def test_lake_sink_idempotent_on_batch_redelivery(spark, tmp_path):
    from pyspark.sql import functions as F

    from nextgenetl_spark.streaming.sink import exactly_once_parquet_sink, run_stream_to_lake

    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    ev = events_stream(spark, SF_SMOKE).select("event_id", "event_type", "value")
    run_stream_to_lake(ev, lake, ckpt, partition_cols=["event_type"])
    first = spark.read.parquet(lake)
    n1, ids1 = first.count(), {r["event_id"] for r in first.select("event_id").collect()}

    # redeliver batch 0 twice more — append-only would triple those rows.
    # localCheckpoint: a real redelivery replays from the source; a lazy
    # re-read of the lake would race the overwrite of its own input files.
    batch0 = first.where(F.col("_batch_id") == 0).drop("_batch_id").localCheckpoint()
    sink = exactly_once_parquet_sink(lake, ["event_type"])
    sink(batch0, 0)
    sink(batch0, 0)
    again = spark.read.parquet(lake)
    assert again.count() == n1
    assert {r["event_id"] for r in again.select("event_id").collect()} == ids1
    # partitionOverwriteMode restored to the session default
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"


def test_stream_restart_from_checkpoint_processes_only_new_files(spark, tmp_path):
    """Restart recovery: a second availableNow run against the SAME
    checkpoint must process only files that arrived after the first run
    (no reprocessing, no duplicates), and a third run with nothing new must
    write nothing — the file-source offset log + idempotent batch sink
    together are the exactly-once story under restarts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nextgenetl_spark.streaming.sink import run_stream_to_lake

    land = tmp_path / "landing"
    land.mkdir()
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    pq.write_table(pa.table({"event_id": list(range(100))}), land / "f1.parquet")

    def stream():
        return spark.readStream.schema("event_id long").parquet(str(land))

    run_stream_to_lake(stream(), lake, ckpt)
    first = spark.read.parquet(lake)
    assert first.count() == 100

    pq.write_table(pa.table({"event_id": list(range(100, 150))}), land / "f2.parquet")
    run_stream_to_lake(stream(), lake, ckpt)
    second = spark.read.parquet(lake)
    rows = second.collect()
    assert len(rows) == 150
    assert {r["event_id"] for r in rows} == set(range(150))
    # the new file landed in a NEW batch, old batches untouched
    assert second.agg(F.max("_batch_id")).first()[0] >= 1
    per_batch = {r["_batch_id"]: r["n"] for r in second.groupBy("_batch_id").agg(F.count("*").alias("n")).collect()}
    assert sum(per_batch.values()) == 150

    run_stream_to_lake(stream(), lake, ckpt)  # nothing new
    assert spark.read.parquet(lake).count() == 150


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Event-time correctness under lateness. Spark's watermark contract:
    data within the delay is ALWAYS aggregated; later data is dropped once
    its window state has been evicted. So the very-late row must arrive
    AFTER the batch that finalized its window — then it is discarded rather
    than re-opening the window (the bounded-state guarantee). Files process
    one per micro-batch so the watermark advances between arrivals."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nextgenetl_spark.streaming.windows import tumbling_window_agg, with_watermark

    land = tmp_path / "landing"
    land.mkdir()

    def ts(h, m):
        import datetime

        return datetime.datetime(2024, 3, 1, h, m, 0)

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[0] for r in rows], type=pa.timestamp("us")),
                    "event_type": [r[1] for r in rows],
                    "value": [float(r[2]) for r in rows],
                }
            ),
            land / name,
        )

    # batch 0: watermark after it = 11:00 - 10min = 10:50
    write("f1.parquet", [(ts(10, 0), "a", 1), (ts(10, 5), "a", 1), (ts(11, 0), "a", 1)])
    _time.sleep(1.1)  # file source orders batches by modification time
    # batch 1: advances the clock; at its end the 10:00/10:05 windows
    # (end <= 10:50) are emitted and their state evicted
    write("f2.parquet", [(ts(11, 10), "a", 1)])
    _time.sleep(1.1)
    # batch 2: 10:02 is behind the evicted-window watermark -> DROPPED
    # (it must not re-open the already-emitted 10:00 window)
    write("f3.parquet", [(ts(10, 2), "a", 1), (ts(11, 20), "a", 1)])

    sdf = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    agg = tumbling_window_agg(with_watermark(sdf, delay="10 minutes"))
    rows = run_memory_replay(spark, agg, "late_test", "append").collect()
    import calendar
    import datetime

    w1000 = calendar.timegm(datetime.datetime(2024, 3, 1, 10, 0).timetuple())
    got_1000 = [r["n_events"] for r in rows if r["window_start"] == w1000]
    # exactly one emission of the 10:00 window, count 1: the late 10:02 row
    # neither merged in nor re-opened the window
    assert got_1000 == [1]


def test_stateful_debounce_differs_from_lag_gap_on_bursts(spark):
    """last-KEPT debounce readmits an event once it clears the gap from the
    last kept one, even when the previous (dropped) event was recent —
    the case the lag-gap batch form gets wrong by construction."""
    from nextgenetl_spark.streaming.stateful import _debounce_shard_group
    import pandas as pd

    t0 = 1_700_000_000_000_000
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [7, 7, 7],
            "event_type": ["click", "click", "click"],
            "ts_us": [t0, t0 + 200_000_000, t0 + 400_000_000],  # 0s, 200s, 400s
        }
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

    out = pd.concat(list(_debounce_shard_group((0,), iter([rows]), FakeState())))
    # 0s kept; 200s dropped (200 <= 300 from last kept); 400s KEPT (400 > 300
    # from last kept, though only 200s after the dropped event)
    assert list(out["event_id"]) == [1, 3]


def test_stream_replay_leaves_session_conf_untouched(spark):
    """Conf purity (round-2 verdict #3 extended to streaming): a stream
    workload's replay must not leave ANY session conf changed — the
    state-store partition cap is scoped (set before start, restored in
    finally), and the source layer does its ns/NTZ normalization with
    explicit schemas + zone-explicit expressions, never conf writes."""
    from nextgenetl_spark.workloads import load_all

    reg = load_all()
    watched = {
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.session.timeZone": spark.conf.get("spark.sql.session.timeZone"),
        "spark.sql.legacy.parquet.nanosAsLong": spark.conf.get(
            "spark.sql.legacy.parquet.nanosAsLong", "false"
        ),
        "spark.sql.sources.partitionOverwriteMode": spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        ),
    }
    reg["stream_tumbling_window"].fn(spark, "/root/testdata/sf0.001").count()
    reg["stream_interval_join"].fn(spark, "/root/testdata/sf0.001").count()
    defaults = {
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.sources.partitionOverwriteMode": "static",
    }
    for k, v in watched.items():
        assert spark.conf.get(k, defaults.get(k)) == v, k


def test_replay_shuffle_cap_restores_on_error(spark):
    from nextgenetl_spark.streaming.source import replay_shuffle_cap

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        with replay_shuffle_cap(spark, cap=8):
            assert int(spark.conf.get("spark.sql.shuffle.partitions")) <= 8
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_events_stream_accepts_directory_shaped_table(spark, tmp_path):
    """A directory-shaped events.parquet (multi-file lake table) must work
    in streaming exactly like batch: the footer probe goes through the same
    first-part-file glob as catalog.load, not a raw pq.read_schema on the
    table path (which raises on directories)."""
    import shutil

    lake = tmp_path / "lake"
    lake.mkdir()
    # stage a directory-shaped copy: batch-read the single file, write a
    # 2-file parquet DIRECTORY under the same table name
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    src.repartition(2).write.mode("overwrite").parquet(str(lake / "events.parquet"))
    out = events_stream(spark, str(lake)).select("event_id", "ts", "user_id")
    got = run_memory_replay(spark, out, "t_dir_events")
    assert got.count() == src.count()
    assert dict(got.dtypes)["ts"].startswith("timestamp")


def test_stateful_debounce_incremental_batches_match_single_batch(spark, tmp_path):
    """Cross-batch state correctness of the debounce keying (round 6:
    per-user; round 7: sharded): the same events replayed as THREE chronological micro-
    batches (maxFilesPerTrigger=1, state carried across batches) must
    keep exactly the rows the single-batch replay keeps — the single-
    batch result is itself oracle-pinned (stream_debounce), so this
    transitively pins the incremental path. Slicing is by event time,
    matching the operator's documented contract (batches arrive in
    per-key event-time order)."""
    import time as _time

    from pyspark.sql import functions as F

    from nextgenetl_spark.streaming.stateful import debounce_against_last_kept

    e = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    land = tmp_path / "land"
    land.mkdir()
    span = (hi - lo).total_seconds() + 1
    for k in range(3):
        cut_lo = F.lit(lo) + F.expr(f"INTERVAL {int(k * span / 3)} SECONDS")
        cut_hi = F.lit(lo) + F.expr(f"INTERVAL {int((k + 1) * span / 3)} SECONDS")
        e.filter((F.col("ts") >= cut_lo) & (F.col("ts") < cut_hi)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(land / f"b{k}"))
        # flatten the single part file into the landing dir so the file
        # source sees 3 files; mtime spacing fixes the batch order
        import glob as _glob
        import os as _os

        part = next(p for p in _glob.glob(str(land / f"b{k}" / "*.parquet")))
        _os.rename(part, str(land / f"slice_{k}.parquet"))
        import shutil as _shutil

        _shutil.rmtree(land / f"b{k}")
        _time.sleep(1.1)

    schema = spark.read.parquet(str(land / "slice_0.parquet")).schema
    inc_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "slice_*.parquet"))
    )
    inc = run_memory_replay(
        spark, debounce_against_last_kept(inc_stream), "t_debounce_inc"
    )

    single_stream = spark.readStream.schema(schema).parquet(str(land / "slice_*.parquet"))
    single = run_memory_replay(
        spark, debounce_against_last_kept(single_stream), "t_debounce_single"
    )

    got = sorted(tuple(r) for r in inc.collect())
    want = sorted(tuple(r) for r in single.collect())
    assert len(got) > 0
    assert got == want

def test_sharded_debounce_equals_per_user_keyed(spark):
    """The round-7 shard rekeying (xxhash64(user) % n_shards) must keep
    EXACTLY the rows the per-user-keyed form keeps — the debounce clock is
    per (user, type) either way; only the stateful-group granularity
    changes. Run at n_shards=3 so real shards hold many users (collisions
    exercised), against the per-user variant wired up explicitly."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from nextgenetl_spark.streaming.stateful import (
        DEBOUNCE_OUTPUT_SCHEMA,
        DEBOUNCE_USER_STATE_SCHEMA,
        _debounce_user_group,
        debounce_against_last_kept,
    )

    sharded = run_memory_replay(
        spark,
        debounce_against_last_kept(events_stream(spark, SF_SMOKE), n_shards=3),
        "t_debounce_sharded",
    )
    per_user_plan = (
        events_stream(spark, SF_SMOKE)
        .select("event_id", "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _debounce_user_group,
            outputStructType=DEBOUNCE_OUTPUT_SCHEMA,
            stateStructType=DEBOUNCE_USER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    per_user = run_memory_replay(spark, per_user_plan, "t_debounce_per_user")
    got = sorted(tuple(r) for r in sharded.collect())
    want = sorted(tuple(r) for r in per_user.collect())
    assert len(got) > 0
    assert got == want


def _bounded_site(spark, tmp_path, site):
    """A call that runs one bounded stream, and the name it must fail by."""
    from nextgenetl_spark.streaming.sink import run_stream_to_lake
    from nextgenetl_spark.workloads import similarity

    ev = events_stream(spark, SF_SMOKE).select("event_id", "event_type", "value")
    lake = str(tmp_path / "lake")
    if site == "run_memory_replay":
        return (lambda: run_memory_replay(spark, ev, "t_timeout_replay")), "t_timeout_replay"
    if site == "run_stream_to_lake":
        name = f"run_stream_to_lake({lake})"
        return (lambda: run_stream_to_lake(ev, lake, str(tmp_path / "ckpt"))), name
    return (lambda: getattr(similarity, site)(spark, SF_SMOKE)), site


@pytest.mark.parametrize(
    "site",
    ["run_memory_replay", "run_stream_to_lake", "stream_ann_lookup", "stream_ivfpq_ingest"],
)
def test_stream_timeout_fails_by_name(spark, tmp_path, monkeypatch, site):
    """A bounded replay whose awaitTermination times out (returns False)
    must raise TimeoutError naming the query, never hand back the partial
    sink, and must not leave the query running."""
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    call, name = _bounded_site(spark, tmp_path, site)
    with pytest.raises(TimeoutError, match=re.escape(name)):
        call()
    assert not spark.streams.active


@pytest.mark.parametrize("site", ["run_stream_to_lake", "stream_ann_lookup", "stream_ivfpq_ingest"])
def test_failing_batch_names_its_query(spark, tmp_path, monkeypatch, site):
    """A foreachBatch function that raises fails the bounded run with a
    StreamingQueryException whose text names the query, and leaves no query
    active."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig = DataStreamWriter.foreachBatch

    def failing(self, func):
        def fail(batch_df, batch_id):
            raise RuntimeError("injected batch failure")

        return orig(self, fail)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", failing)
    call, name = _bounded_site(spark, tmp_path, site)
    with pytest.raises(StreamingQueryException) as err:
        call()
    assert f"Identifier: {name}" in str(err.value)
    assert not spark.streams.active


@pytest.mark.parametrize("site", ["stream_ann_lookup", "stream_ivfpq_ingest"])
def test_foreach_batch_redelivery_keeps_rows(spark, monkeypatch, site):
    """foreachBatch is at-least-once: a batch function run twice per batch
    (a redelivery after a crash between the write and the checkpoint
    commit) must leave the workload's rows equal to a single delivery."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from nextgenetl_spark.workloads import similarity

    fn = getattr(similarity, site)
    once = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    orig = DataStreamWriter.foreachBatch

    def twice(self, func):
        def redeliver(batch_df, batch_id):
            func(batch_df, batch_id)
            func(batch_df, batch_id)

        return orig(self, redeliver)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", twice)
    assert len(once) > 0
    assert sorted(map(tuple, fn(spark, SF_SMOKE).collect())) == once
    assert not spark.streams.active


def test_stage_symlinks_prunes_dangling_links(tmp_path):
    """After an in-place source regeneration, same-basename stale links must
    re-link (no FileExistsError) and different-basename danglers must be
    pruned from the stage dir (ADVICE: streaming/source.py lexists)."""
    from nextgenetl_spark.streaming.source import _stage_symlinks

    src = tmp_path / "tbl.parquet"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"v1")
    (src / "old-name.parquet").write_bytes(b"v1")
    stage = str(tmp_path / "stage")
    _stage_symlinks(str(src), stage)
    assert sorted(os.listdir(stage)) == ["old-name.parquet", "part-0.parquet"]

    # regenerate in place: part-0 rewritten (same basename), old-name gone,
    # new-name appears — both staged links now dangle
    (src / "part-0.parquet").unlink()
    (src / "old-name.parquet").unlink()
    (src / "part-0.parquet").write_bytes(b"v2")
    (src / "new-name.parquet").write_bytes(b"v2")

    _stage_symlinks(str(src), stage)  # must not raise FileExistsError
    names = sorted(os.listdir(stage))
    assert names == ["new-name.parquet", "part-0.parquet"]
    for n in names:
        assert os.path.exists(os.path.join(stage, n))  # nothing dangles


class FakeState:
    exists = False

    def update(self, v):
        self.exists = True
        self._v = v

    @property
    def get(self):
        return self._v


def test_shard_debounce_tolerates_null_event_type():
    from nextgenetl_spark.streaming.stateful import _debounce_shard_group

    t0 = 1_700_000_000_000_000
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "user_id": [7, 7, 7, 8],
            "event_type": [None, "click", None, "view"],
            "ts_us": [t0, t0 + 1_000_000, t0 + 2_000_000, t0],
        }
    )
    out = pd.concat(list(_debounce_shard_group((0,), iter([rows]), FakeState())))
    # null-typed events debounce as their own (user, None) series: the
    # second None event at +2s is within the 5-min gap of the first → drop
    assert sorted(out["event_id"]) == [1, 2, 4]


def test_shard_debounce_evicts_stale_state_entries():
    from nextgenetl_spark.streaming.stateful import (
        DEBOUNCE_GAP_US,
        DEBOUNCE_LATE_ALLOWANCE_US,
        _debounce_shard_group,
    )

    t0 = 1_700_000_000_000_000
    horizon = DEBOUNCE_GAP_US + DEBOUNCE_LATE_ALLOWANCE_US
    state = FakeState()
    # batch 1: user 1 at t0, user 2 at t0 + horizon + 60s — user 1's entry
    # is already unreachable by any in-allowance future event
    b1 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [1, 2],
            "event_type": ["click", "click"],
            "ts_us": [t0, t0 + horizon + 60_000_000],
        }
    )
    list(_debounce_shard_group((0,), iter([b1]), state))
    users, types, last = state.get
    assert list(users) == [2]  # user 1 evicted, user 2 retained

    # the evicted entry is decision-equivalent: user 1's next in-allowance
    # event (> last + GAP by construction) is kept, exactly as if the
    # entry had been retained
    b2 = pd.DataFrame(
        {
            "event_id": [3],
            "user_id": [1],
            "event_type": ["click"],
            "ts_us": [t0 + horizon + 61_000_000],
        }
    )
    out = pd.concat(list(_debounce_shard_group((0,), iter([b2]), state)))
    assert list(out["event_id"]) == [3]
