"""Event-stream workloads: windowed aggregation, sessionization, and the
reference's packed-multi-value idioms applied to the events table.

The reference has no streaming (SURVEY.md §2.11); these are the extension
targets. Batch versions are oracle-checked here; the same logic runs
incrementally in nextgenetl_spark.streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.functions import caller_flag, concat_to_multi, delim_count, string_agg_distinct
from nextgenetl_spark.workloads import workload


@workload(
    "tumbling_window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS value_sum
    FROM events
    GROUP BY window_start, event_type
    """,
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window aggregate. The group key is the LONG epoch
    bucket, not the ``F.window`` struct: HashAggregate's vectorized fast
    hash map only handles primitive key types, so struct keys silently
    fall back to the slower UnsafeRow map — measured 2.3× at ×100 data
    (15.1s struct vs 6.4s long, round-6 BASELINE §4.1). unix_timestamp
    truncation to seconds lands every sub-second event in the same bucket
    ``F.window`` would pick, so the output is value-identical. The
    STREAMING twin (streaming/windows.py, stream_tumbling_window) keeps
    ``F.window`` — watermark eviction needs the window struct."""
    e = load(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    return e.groupBy(bucket.alias("window_start"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum")
    )


@workload(
    "sessionize",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (SELECT user_id,
                 epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
          FROM events)
    GROUP BY user_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): a session starts where
    the gap to the previous event exceeds the timeout. Batch analogue of
    ``session_window`` in Structured Streaming. One shuffle (by user_id)
    serves both the lag and the aggregate."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    return (
        e.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1).otherwise(0))
            .cast("long")
            .alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@workload(
    "packed_multivalue",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ';' ORDER BY event_type) AS types_packed,
           CASE WHEN array_contains(list(DISTINCT event_type), 'click') THEN 'Yes' ELSE 'No' END AS has_click,
           CASE WHEN COUNT(DISTINCT event_type) > 3 THEN 'multi'
                ELSE string_agg(DISTINCT event_type, ';' ORDER BY event_type) END AS types_or_multi,
           CAST(COUNT(DISTINCT event_type) - 1 AS INT) AS n_delims
    FROM events
    GROUP BY user_id
    """,
)
def packed_multivalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `;`-packed multi-value lifecycle in one query:
    STRING_AGG DISTINCT packing (A6), caller-flag expansion (Y6, reference:
    build_open_somatic_mut_bq_table.py:213-233), concat-to-multi collapse
    (Y5, reference: create_tables_file_metadata_gdc.py:44-75), and the
    delimiter-count idiom (reference: …v2.py:84-90)."""
    e = load(spark, sf_dir, "events")
    packed = e.groupBy("user_id").agg(
        string_agg_distinct(F.col("event_type")).alias("types_packed"),
        concat_to_multi(F.col("event_type"), max_count=3).alias("types_or_multi"),
    )
    return packed.select(
        "user_id",
        "types_packed",
        caller_flag("types_packed", "click").alias("has_click"),
        "types_or_multi",
        delim_count("types_packed").alias("n_delims"),
    ).select("user_id", "types_packed", "has_click", "types_or_multi", "n_delims")


@workload(
    "sliding_window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE * k) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS value_sum
    FROM events, unnest([0, 1, 2]) AS t(k)
    GROUP BY window_start, event_type
    """,
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 15-minute windows every 5 minutes, so each
    event lands in 3 windows (the oracle mirrors that with an explicit
    unnest). Because the hop divides the width, each sliding window is the
    sum of 3 tumbling 5-minute PARTIALS — so aggregate to (5-min bucket,
    type) first and expand only the partials into their 3 hop windows,
    instead of letting ``F.window(ts, 15m, 5m)`` triple every raw event in
    the scan stage. SUM and COUNT re-aggregate losslessly. At 100 TB the
    3× row expansion and the shuffle now happen on |buckets × types| rows
    (bounded by the time span, NOT the event volume); the raw scan does
    one map-side-combined tumbling agg. Like tumbling_window, the group
    keys are LONG epoch buckets, not ``F.window`` structs (struct keys
    miss HashAggregate's vectorized fast hash map — 2.3× measured at
    ×100); a 15-min hop window covers 3 buckets, so bucket b feeds the
    windows starting at (b-2)·300, (b-1)·300, b·300. The value sum runs in
    DECIMAL(20,6) end-to-end (round-6 ADVICE): decimal addition is exact and
    order-independent, so the partial-then-reaggregate grouping can never
    flip a ROUND(…, 2) boundary relative to the oracle's direct per-window
    SUM — the one double cast happens after rounding."""
    e = load(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 300).cast("long")
    partial = e.groupBy(bucket.alias("b"), "event_type").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(20,6)")).alias("pv"),
    )
    k = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k")
    return (
        partial.select("b", "event_type", "pn", "pv", k)
        .groupBy(
            ((F.col("b") - F.col("k")) * 300).cast("long").alias("window_start"), "event_type"
        )
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv"), 2).cast("double").alias("value_sum"),
        )
    )


@workload(
    "stream_tumbling_window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS value_sum
    FROM events
    GROUP BY window_start, event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming execution, oracle-verified: the events
    table replays as a file-source stream, the watermarked tumbling-window
    aggregate runs under an availableNow trigger into a memory sink, and the
    sink table is returned. Event-time semantics make the streamed result
    identical to the batch oracle regardless of micro-batching."""
    from nextgenetl_spark.streaming.source import events_stream
    from nextgenetl_spark.streaming.windows import tumbling_window_agg, with_watermark

    name = "wl_stream_tumbling"
    agg = tumbling_window_agg(with_watermark(events_stream(spark, sf_dir)))
    from nextgenetl_spark.streaming.source import run_memory_replay

    # cap=4: per-entry state-partition measurement (r12 cap A/B, commit
    # 580b237, two interleaved rotations, results asserted identical across
    # caps): 0.85/0.98 < cap8 0.85/1.04 < cap16 1.02/1.15 — window-agg
    # state is tiny, per-partition store fixed cost is the wall.
    return run_memory_replay(spark, agg, name, "complete", cap=4)


@workload(
    "stream_sessionize",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g),
    sess AS (
        SELECT user_id, MIN(ts) AS t_first, MAX(ts) AS t_last,
               COUNT(*) AS n_events, ROUND(SUM(value), 2) AS value_sum
        FROM s GROUP BY user_id, sid),
    wm AS (SELECT MAX(ts) - INTERVAL 600 SECOND AS w FROM events)
    SELECT user_id,
           CAST(floor(epoch(t_first)) AS BIGINT) AS session_start,
           CAST(floor(epoch(t_last)) + 1800 AS BIGINT) AS session_end,
           n_events, value_sum
    FROM sess, wm
    WHERE t_last + INTERVAL 1800 SECOND <= w
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming sessionization, oracle-verified: native
    ``session_window`` (30-min gap) with watermark runs over the replayed
    events stream under an availableNow trigger, append-mode memory sink.
    A session's range is [first event, last event + gap) — the oracle
    reproduces that with gaps-and-islands SQL (new session at gap ≥ 1800s)
    and applies the append-mode watermark rule: only sessions whose end is
    at or below the final watermark (max event time − 10 min delay) are
    emitted; later sessions stay open awaiting more data — correct streaming
    semantics, mirrored exactly in the oracle's WHERE clause.
    State per (user, open session); the watermark bounds it."""
    from nextgenetl_spark.streaming.source import events_stream
    from nextgenetl_spark.streaming.windows import session_window_agg, with_watermark

    name = "wl_stream_sessionize"
    agg = session_window_agg(with_watermark(events_stream(spark, sf_dir)), gap="30 minutes")
    from nextgenetl_spark.streaming.source import run_memory_replay

    # cap=8: measured (r12 cap A/B, commit 580b237, two rotations) — cap16
    # worst in both (1.64/2.04), cap4 and cap8 within noise of each other
    # (1.47/1.68 vs 1.53/1.59); 8 keeps session-window merge parallelism.
    return run_memory_replay(spark, agg, name, "append", cap=8)


@workload(
    "stream_user_profile",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator through the driver gate:
    ``applyInPandasWithState`` keeps a running (n_events, total_value)
    accumulator per user (streaming/stateful.py), emitted each micro-batch.
    Replayed as one availableNow batch the final emission equals the batch
    aggregate, so the custom-state path is oracle-verified — not just
    pytest-checked. State pre-rounds to 1e-6 so pandas pairwise summation
    and SQL sequential summation agree at the 2-decimal output."""
    from nextgenetl_spark.streaming.source import events_stream
    from nextgenetl_spark.streaming.stateful import running_user_profile

    name = "wl_stream_profile"
    out = running_user_profile(events_stream(spark, sf_dir))
    from nextgenetl_spark.streaming.source import run_memory_replay

    return run_memory_replay(spark, out, name, "update")


@workload(
    "stream_sliding_window",
    oracle="""
    SELECT ws AS window_start, ws + 600 AS window_end, event_type,
           COUNT(*) AS n_events
    FROM (
        SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT)
                   - o.off AS ws,
               event_type
        FROM events, (SELECT UNNEST([0, 300]) AS off) o
    )
    GROUP BY ws, event_type
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming sliding (hopping) window, oracle-verified:
    10-minute windows every 5 minutes, so each event lands in exactly two
    windows — the oracle replays that by exploding each event into its two
    bucket starts. Watermarked, availableNow trigger, complete-mode memory
    sink. State = one row per (open window, event_type); the watermark
    closes windows two slides behind the max event time."""
    from nextgenetl_spark.streaming.source import events_stream
    from nextgenetl_spark.streaming.windows import sliding_window_agg, with_watermark

    name = "wl_stream_sliding"
    agg = sliding_window_agg(with_watermark(events_stream(spark, sf_dir)))
    from nextgenetl_spark.streaming.source import run_memory_replay

    # cap=4: measured 0.86 < cap8 0.99 < cap16 1.05 (r12 cap A/B, 580b237)
    return run_memory_replay(spark, agg, name, "complete", cap=4)


@workload(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-on-ingest through the driver gate: watermarked
    ``dropDuplicates`` on (user_id, event_type) over the replayed events
    stream — first occurrence per key within the watermark horizon, state
    evicted beyond it (streaming/dedup.py's shape, keyed on columns instead
    of a content hash). Only the key columns are returned: WHICH physical
    row survives is arrival-order-dependent, the surviving key set is not —
    same contract as the batch `SELECT DISTINCT` oracle."""
    from nextgenetl_spark.streaming.source import events_stream

    name = "wl_stream_dedup"
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    out = ev.dropDuplicates(["user_id", "event_type"]).select("user_id", "event_type")
    from nextgenetl_spark.streaming.source import run_memory_replay

    # cap=4: the biggest per-entry cap win measured (r12 cap A/B, 580b237):
    # 0.94 < cap8 1.36 < cap16 1.91 — dedup state is one tiny key set,
    # the 16-store fixed cost dominated the replay.
    return run_memory_replay(spark, out, name, "append", cap=4)


@workload(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY segment, e.event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming stream-static enrichment, oracle-verified: the
    replayed events stream joins the static customer dimension
    (broadcast — the dim ships to executors once per batch, zero state
    store) and aggregates per market segment in complete mode. The
    enrich-on-ingest shape: stream keeps flowing, dimension swaps without
    restarting the query."""
    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.streaming.joins import enrich_with_dim
    from nextgenetl_spark.streaming.source import events_stream

    name = "wl_stream_enrich"
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = enrich_with_dim(events_stream(spark, sf_dir), dim, "user_id", "inner")
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum")
    )
    from nextgenetl_spark.streaming.source import run_memory_replay

    # cap=4: measured 0.67 < cap8 0.90 < cap16 0.91 (r12 cap A/B, 580b237) —
    # the join side is a broadcast (zero state), only the complete-mode
    # agg keeps state; one of the r11 faster-at-8-cores scale-out debts.
    return run_memory_replay(spark, agg, name, "complete", cap=4)


@workload(
    "stream_interval_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS lag_sec
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL stream-stream interval join, oracle-verified: purchases join
    clicks by the same user within the preceding 10 minutes
    (click→purchase attribution). Both sides watermarked; the time-range
    join condition is what bounds the state store — a click is evicted
    once the watermark passes its ts + lookback. Inner-join emission is
    match-driven, so the availableNow replay equals the batch interval
    join exactly (watermarks only bound state, they drop nothing in a
    complete replay)."""
    from nextgenetl_spark.streaming.joins import interval_self_join
    from nextgenetl_spark.streaming.source import events_stream

    name = "wl_stream_ijoin"
    joined = interval_self_join(
        events_stream(spark, sf_dir), "purchase", "click", lookback="10 minutes"
    )
    out = joined.select(
        F.col("l_user").alias("user_id"),
        F.col("left_id").alias("purchase_id"),
        F.col("right_id").alias("click_id"),
        # exact microsecond diff floored to whole seconds — a per-timestamp
        # seconds cast would floor each side first and disagree with the
        # oracle on sub-second offsets
        ((F.unix_micros("l_ts") - F.unix_micros("r_ts")) / F.lit(1000000))
        .cast("long")
        .alias("lag_sec"),
    )
    # A stream-stream join keeps FOUR state stores per shuffle partition
    # (left/right × key-index layouts), so per-partition fixed cost is 4×
    # an agg's: size partitions to state volume, not core count. Measured
    # per-entry in r12 (cap A/B in commit 580b237, interleaved min-of-3,
    # results asserted identical across caps): cap4 2.56s < cap8 3.87s <
    # cap16 6.34s — the 4-store-per-partition fixed cost dominates at
    # replay state volume, so the cap drops to 4. A deployment with real
    # state volume sizes spark.sql.shuffle.partitions at session build;
    # replay_shuffle_cap still honors the smaller of cap and parallelism.
    from nextgenetl_spark.streaming.source import run_memory_replay

    return run_memory_replay(spark, out, name, "append", cap=4)


@workload(
    "stratified_sample",
    oracle="""
    SELECT event_type, COUNT(*) AS n_kept
    FROM (
        SELECT event_type,
               CAST(CONCAT('0x', substring(md5(CONCAT('strat|', CAST(event_id AS VARCHAR))), 1, 4))
                    AS BIGINT) AS b
        FROM events
    )
    -- floor, not CAST: the operator truncates (Python int(rate*space) =
    -- 6553 at rate 0.10) while DuckDB's CAST-to-BIGINT rounds (6554); the
    -- old unsalted draw happened to leave bucket 6553 empty for views, so
    -- the divergence was invisible until the r11 salt moved a row onto it
    WHERE (event_type = 'view'     AND b < CAST(floor(0.10 * 65536) AS BIGINT))
       OR (event_type = 'click'    AND b < CAST(floor(0.25 * 65536) AS BIGINT))
       OR (event_type = 'purchase' AND b < CAST(floor(1.00 * 65536) AS BIGINT))
    GROUP BY event_type
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (class rebalancing for a
    training corpus): keep 10% of views, 25% of clicks, all purchases,
    selected by a SALTED md5-prefix hash threshold, not RNG — membership
    is identical on every run, engine, and partitioning (the oracle
    literally recomputes it, salt included). `df.sampleBy` gives none of
    those guarantees. The ``strat|`` salt keeps this draw independent of
    the unsalted train/val/test split draw so composing the two never
    nests the selections (round-11; the count_fraction lesson). The
    predicate is a scan-stage expression; at 100 TB the rebalance costs a
    filtered scan, zero shuffles."""
    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.operators.sampling import stratified_hash_sample

    ev = load(spark, sf_dir, "events")
    kept = stratified_hash_sample(
        ev, "event_id", "event_type", {"view": 0.10, "click": 0.25, "purchase": 1.00}
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))


@workload(
    "time_grid_fill",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(epoch(MIN(ts))/3600)*3600 AS BIGINT) AS lo,
               CAST(floor(epoch(MAX(ts))/3600)*3600 AS BIGINT) AS hi
        FROM events
    ),
    grid AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS h,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        FROM events GROUP BY event_type, h
    )
    SELECT t.event_type, g.hour_start,
           COALESCE(a.n, 0) AS n_events,
           ROUND(COALESCE(a.v, 0), 2) AS value_sum
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN agg a ON a.event_type = t.event_type AND a.h = g.hour_start
    """,
)
def time_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly time series per event type: hours with no events
    appear as explicit zero rows — the resample/gap-fill shape every
    monitoring or training-telemetry rollup needs, which a plain groupBy
    cannot produce (it only sees hours that exist). The hour grid is built
    declaratively (1-row min/max aggregate → sequence → explode → cross
    join with the tiny type dim) and the grid side broadcasts into the
    left join, so the event table is scanned once and shuffles only
    (type, hour) aggregates — grid size is hours × types regardless of
    corpus size."""
    ev = load(spark, sf_dir, "events")
    epoch_h = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    agg = ev.groupBy(F.col("event_type").alias("agg_type"), epoch_h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v")
    )
    bounds = ev.agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / 3600) * 3600).cast("long").alias("lo"),
        (F.floor(F.unix_timestamp(F.max("ts")) / 3600) * 3600).cast("long").alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_start")
    )
    types = ev.select(F.col("event_type").alias("grid_type")).distinct()
    # Broadcast the AGG side: a left-outer join can only build (broadcast)
    # its right side — hinting the preserved grid side is ignored with a
    # HintErrorLogger warning. agg is hours×types rows, equally bounded.
    return (
        grid.crossJoin(types)
        .join(
            F.broadcast(agg),
            (F.col("grid_type") == F.col("agg_type"))
            & (F.col("hour_start") == F.col("h")),
            "left",
        )
        .select(
            F.col("grid_type").alias("event_type"),
            "hour_start",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.round(F.coalesce("v", F.lit(0.0)), 2).alias("value_sum"),
        )
    )


@workload(
    "asof_purchase_view",
    oracle="""
    WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           m.view_id,
           m.view_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) - m.view_epoch AS gap_s
    FROM p LEFT JOIN LATERAL (
        SELECT v.event_id AS view_id,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch
        FROM v
        WHERE v.user_id = p.user_id AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1
    ) m ON TRUE
    """,
)
def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join through the driver gate: every purchase is matched to the
    user's latest view at-or-before it (operators/joins.py asof_join —
    union + one last(ignorenulls) window per key). The oracle is DuckDB's
    lateral top-1, i.e. the naive per-row scan the composition replaces:
    one shuffle of |purchases|+|views| rows on user_id, regardless of how
    many views precede each purchase. Attribution/feature-at-event-time
    lookups at 100 TB are exactly this shape."""
    from nextgenetl_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    m = asof_join(purchases, views, "user_id", tiebreaker="event_id")
    return m.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("r_event_id").alias("view_id"),
        F.unix_timestamp("r_ts").alias("view_epoch"),
        (F.unix_timestamp("ts") - F.unix_timestamp("r_ts")).alias("gap_s"),
    )


@workload(
    "range_join_post_purchase",
    oracle="""
    WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(v.ts) AS n_views_45m
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.ts > p.ts
     AND v.ts <= p.ts + INTERVAL 45 MINUTE
    GROUP BY p.event_id, p.user_id
    """,
)
def range_join_post_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: views falling in the 45 minutes after each
    purchase by the same user. Spark has no native range join either; the
    scale-correct decomposition is an EQUI-join on the selective key
    (user_id — hash-partitionable, no cross product) with the range as a
    residual join predicate, then aggregate-per-interval. Without a
    selective equi key, the same pattern buckets time into coarse grains
    and equi-joins on the bucket (overlap-explode) — same plan shape.
    LEFT semantics keep zero-view purchases."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "event_id"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") > F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr("INTERVAL 45 MINUTES")),
        "left",
    )
    return joined.groupBy(
        F.col("event_id").alias("purchase_id"), F.col("p_user").alias("user_id")
    ).agg(F.count("v_ts").alias("n_views_45m"))


@workload(
    "stream_lake_publish",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS value_sum
    FROM events GROUP BY event_type
    """,
)
def stream_lake_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming publish into a partitioned parquet lake via
    foreachBatch with idempotent batch-scoped dynamic-partition overwrite
    (streaming/sink.py) — the exactly-once landing pattern. The workload
    replays the events stream into the lake, then SIMULATES a crash
    redelivery by re-running batch 0's writer on the same data, reads the
    lake back, and aggregates: if the sink were append-only the redelivery
    would double every count and the oracle compare would fail — the
    exactly-once property is inside the gate, not just asserted in a
    test."""
    import os

    from nextgenetl_spark.staging import scratch_dir
    from nextgenetl_spark.streaming.sink import exactly_once_parquet_sink, run_stream_to_lake
    from nextgenetl_spark.streaming.source import events_stream

    # a lake per call: the returned DataFrame reads it, so no later call
    # may reuse or remove it
    root = scratch_dir("ngetl_lake_")
    lake = os.path.join(root, "events")
    ckpt = os.path.join(root, "_ckpt")

    ev = events_stream(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    run_stream_to_lake(ev, lake, ckpt, partition_cols=["event_type"])
    # crash-redelivery simulation: batch 0 delivered again with identical
    # data. localCheckpoint materializes it first — a real redelivery
    # replays from the SOURCE; a lazy re-read of the lake would race the
    # overwrite of its own input files.
    batch0 = (
        spark.read.parquet(lake)
        .where(F.col("_batch_id") == 0)
        .drop("_batch_id")
        .localCheckpoint()
    )
    exactly_once_parquet_sink(lake, ["event_type"])(batch0, 0)
    return (
        spark.read.parquet(lake)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
    )


@workload(
    "stream_history_antijoin",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    LEFT JOIN (SELECT DISTINCT user_id, event_type FROM events WHERE user_id < 75) h
      ON e.user_id = h.user_id AND e.event_type = h.event_type
    WHERE h.user_id IS NULL
    """,
)
def stream_history_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming dedup-on-ingest against a historical corpus,
    oracle-verified: the replayed events stream anti-joins a static
    already-ingested key snapshot ((user, type) pairs of users < 75 stand
    in for 'content already in the lake') and only unseen-key rows pass.
    Stateless stream-static anti join — the history probe re-reads the
    snapshot per micro-batch, so refreshing the corpus needs no query
    restart and no state store grows (contrast: dropDuplicates keeps
    every key in state). At 100 TB the history side is a bucketed hash
    index (content-hash → ()) instead of a broadcast."""
    from nextgenetl_spark.streaming.joins import anti_join_history
    from nextgenetl_spark.streaming.source import events_stream

    name = "wl_stream_antijoin"
    hist = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id") < 75)
        .select("user_id", "event_type")
        .distinct()
    )
    out = anti_join_history(
        events_stream(spark, sf_dir), hist, ["user_id", "event_type"]
    ).select("event_id", "user_id", "event_type")
    from nextgenetl_spark.streaming.source import run_memory_replay

    return run_memory_replay(spark, out, name, "append")


def _stream_neardup_oracle() -> str:
    """Literal-VALUES oracle (round 7): the streaming probe is STATELESS —
    per-row signatures, a stream-static band join, and the first-matching-
    band filter — so its output is the same deterministic integer walk as
    the batch MinHash path, reproduced from scratch by
    tools/gen_hashpath_oracle.py's pure-Python XXH64 implementation over
    the fixed sf0.01 corpus (new docs ≥ 250 vs history < 250, pair emitted
    iff any band hash matches, Jaccard ≥ 0.5)."""
    from nextgenetl_spark.workloads._hashpath_expected import STREAM_PAIRS

    vals = ",\n           ".join(f"({n}, {h}, {j!r})" for n, h, j in STREAM_PAIRS)
    return f"""
    SELECT CAST(new_id AS BIGINT) AS new_id, CAST(hist_id AS BIGINT) AS hist_id,
           CAST(jac AS DOUBLE) AS jac
    FROM (VALUES {vals}) AS t(new_id, hist_id, jac)
    """


@workload("stream_near_dup_ingest", oracle=_stream_neardup_oracle())
def stream_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming NEAR-dup-on-ingest: the documents stream is
    MinHash-banded per row (a Column HOF signature on the xxhash64 family,
    legal where append-mode aggregation is not) and probed against a static banded
    index of the already-ingested half of the corpus; candidates verify by
    exact shingle-set Jaccard. Every step is a stateless projection or
    stream-static join — no watermark, no state store, and multi-band pair
    duplicates are collapsed by the first-matching-band filter instead of a
    stateful dropDuplicates (streaming/neardup.py). Cross-engine check:
    an independently-computed literal-VALUES oracle (_stream_neardup_oracle,
    pure-Python XXH64 walk); pytest additionally pins equality with the
    batch MinHash pairs on the same split at any sf."""
    from nextgenetl_spark.streaming.neardup import history_index, near_dup_against_history
    from nextgenetl_spark.streaming.source import docs_stream

    name = "wl_stream_near_dup"
    split = 250
    hist = load(spark, sf_dir, "documents").where(F.col("doc_id") < split)
    bands, verify = history_index(hist)
    stream = docs_stream(spark, sf_dir).where(F.col("doc_id") >= split)
    out = near_dup_against_history(stream, bands, verify, threshold=0.5)
    from nextgenetl_spark.streaming.source import run_memory_replay

    return run_memory_replay(spark, out, name, "append")


@workload(
    "keep_latest_per_key",
    oracle="""
    SELECT user_id, event_id, event_type, ts, ROUND(value, 2) AS value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def keep_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-newest-record-per-key dedup (ties break on event_id): the
    current-state extract every CDC/ingest pipeline runs before publishing a
    snapshot — the inverse of exact_dedup's keep-first. Top-1-per-key needs
    no ordering pass at all: ``max_by(payload, (ts, event_id))`` is a hash
    aggregate — map-side partials keep one candidate per key per task, the
    shuffle carries |keys|×tasks single rows, and nothing is ever sorted.
    The row_number()==1 window form this replaces does get the
    WindowGroupLimit rewrite, but its partial limit still LOCALLY SORTS
    every map partition — the cost that made this the fourth-steepest
    curve in BASELINE §4.1 (29.6× at ×100 data)."""
    e = load(spark, sf_dir, "events")
    latest = F.max_by(
        F.struct("event_id", "event_type", "ts", "value"),
        F.struct("ts", "event_id"),
    ).alias("r")
    return e.groupBy("user_id").agg(latest).select(
        "user_id",
        F.col("r.event_id").alias("event_id"),
        F.col("r.event_type").alias("event_type"),
        F.col("r.ts").alias("ts"),
        F.round("r.value", 2).alias("value"),
    )


@workload(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, v.t_view,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts >= v.t_view THEN e.ts END) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        GROUP BY e.user_id, v.t_view
    ), p AS (
        SELECT e.user_id, c.t_view, c.t_click,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click THEN e.ts END) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        GROUP BY e.user_id, c.t_view, c.t_click
    )
    SELECT COUNT(*)                                        AS n_users,
           CAST(SUM(CASE WHEN t_view     IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN t_click    IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
           CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_click,
           ROUND(CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END), 0), 4) AS view_to_purchase_rate
    FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click-after-view → purchase-after-click) per
    user, reduced to stage counts + conversion rate — the product-analytics
    query shape. Three conditional-min aggregations chained by re-joining
    the events on user_id; only (user, ts-milestone) rows survive each
    reduction, so the milestone side is broadcast at small scale (Catalyst's
    choice here) and flips to a co-partitioned join on the same user_id
    hashing the aggregates already use when the user count outgrows the
    broadcast threshold.

    Round-6 plan audit: this join form IS the optimum of the three
    candidate plans at ×100 data (10.4s): chained unsorted-frame window
    minima over one user_id shuffle measured 13.1s (three WindowExec nodes
    each re-buffer the full partition), and a single collect_list
    aggregation + array_min(filter(...)) measured 16.8s
    (ObjectHashAggregate leaves whole-stage codegen). The 23.5× §4.1
    curve is honest re-join volume, not a plan defect."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    c = (
        e.join(v, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when((F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")), F.col("ts"))
            ).alias("t_click")
        )
    )
    p = (
        e.join(c, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    n_view = F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
    n_purch = F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0))
    return p.agg(
        F.count(F.lit(1)).alias("n_users"),
        n_view.alias("n_view"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0)).alias("n_click_after_view"),
        n_purch.alias("n_purchase_after_click"),
        F.round(n_purch / F.nullif(n_view, F.lit(0)), 4).alias("view_to_purchase_rate"),
    )


@workload(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT) AS week_offset,
           COUNT(*) AS n_active_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users bucketed by first-seen week, counted
    per week-offset of later activity — the classic cohort-retention
    rollup. Two aggregations and one join, all partitioned on user_id, then
    a final small (cohort, offset) reduce; event payloads never move, only
    (user, week) pairs. Both engines truncate weeks to ISO Monday, so the
    offsets align bit-for-bit."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    # cast to DATE: Spark date_trunc returns a timestamp where DuckDB's
    # returns a date — the value is the same midnight, the type is not
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@workload(
    "value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 25.0) AS INT) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 2) AS bucket_min,
           ROUND(MAX(value), 2) AS bucket_max
    FROM events
    GROUP BY event_type, bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the value column per event type — the
    distribution-profile query behind data QC dashboards. Bucketing is a
    scan-stage floor division, so the aggregate map-side combines into one
    (type, bucket) row per partition regardless of event volume."""
    e = load(spark, sf_dir, "events")
    return (
        e.select("event_type", F.floor(F.col("value") / 25.0).cast("int").alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("bucket_min"),
            F.round(F.max("value"), 2).alias("bucket_max"),
        )
    )


@workload(
    "time_weighted_avg",
    oracle="""
    WITH d AS (
        SELECT user_id, value,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           ROUND(SUM(value * dur_us) / SUM(dur_us), 2) AS twa_value
    FROM d WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a metric per user: each reading holds until
    the next one, so its weight is the interval length — the correct
    average for irregularly-sampled gauges (plain AVG over-weights bursts).
    Durations are exact integer microseconds on both engines (unix_micros /
    epoch_us), so only the final weighted mean is floating point. One
    user-keyed shuffle serves the lead window and the aggregate."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    d = e.select("user_id", "value", (F.lead(us).over(w) - us).alias("dur_us"))
    return (
        d.filter(F.col("dur_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").alias("total_us"),
            F.round(F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 2).alias("twa_value"),
        )
    )


@workload("hll_user_rollup", oracle=None)  # DataSketches HLL estimates are not SQL-replayable; pytest bounds the error vs exact
def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: build ONE DataSketches HLL sketch of
    user_id per (day, event_type) cell, then answer per-day, per-type, and
    grand-total distinct-user questions by UNIONING the stored sketches —
    never re-scanning events. This is the re-aggregatable architecture for
    100 TB distinct counts: the fact table is read once; every further
    rollup merges kilobyte sketches (`hll_union_agg`), so a daily pipeline
    keeps a sketch per cell and answers any coarser grain for free.
    Output: one row per grain ('day'/'type'/'total') and key, with the
    sketch estimate. Cross-engine evidence lives in the deterministic twin
    `kmv_user_rollup` (round 8): same grains and merge shape, KMV sketch,
    FULL DuckDB oracle pinning the union-then-trim algebra."""
    e = load(spark, sf_dir, "events")
    cells = (
        e.select(F.to_date("ts").cast("string").alias("day"), "event_type", "user_id")
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    cells = cells.localCheckpoint()  # build once, merge three ways
    per_day = cells.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit("day").alias("grain"), F.col("day").alias("key"), "est_users")
    per_type = cells.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit("type").alias("grain"), F.col("event_type").alias("key"), "est_users")
    total = cells.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit("total").alias("grain"), F.lit("*").alias("key"), "est_users")
    return per_day.unionByName(per_type).unionByName(total)


@workload(
    "kmv_user_rollup",
    oracle="""
    WITH vals AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
               CAST(CONCAT('0x', substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events
    ),
    grains AS (
        SELECT 'day' AS grain, day AS key, h FROM vals
        UNION ALL SELECT 'type', event_type, h FROM vals
        UNION ALL SELECT 'total', '*', h FROM vals
    ),
    d AS (SELECT DISTINCT grain, key, h FROM grains),
    r AS (SELECT grain, key, h,
                 row_number() OVER (PARTITION BY grain, key ORDER BY h) AS rn
          FROM d),
    s AS (SELECT grain, key, COUNT(*) AS nd, MAX(CASE WHEN rn = 256 THEN h END) AS hk
          FROM r WHERE rn <= 256 GROUP BY grain, key)
    SELECT grain, key,
           CASE WHEN nd >= 256 THEN ROUND(255.0 * 1152921504606846976.0 / hk, 4)
                ELSE ROUND(CAST(nd AS DOUBLE), 4) END AS est_users
    FROM s
    """,
)
def kmv_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC twin of `hll_user_rollup` (round-7 verdict ask #2),
    and the pin for the MERGE algebra itself: one KMV sketch of user_id
    per (day, event_type) cell, then per-day / per-type / grand-total
    rollups by set-union-then-trim (`kmv_merge`) — never re-scanning
    events. The oracle computes each grain DIRECTLY from the raw table;
    the two agree because any hash among a union's k smallest is among
    its own cell's k smallest, so merged-then-trimmed ≡ built-on-the-
    union — the identity that makes the sketch re-aggregatable, here
    value-hash-verified cross-engine (HLL's union is internal state this
    check can't see). HLL stays the production op for raw scans; the
    rollup layer's inputs are ≤k-row sketches, where KMV's state is
    bounded by k per cell."""
    from nextgenetl_spark.operators.agg import kmv_build, kmv_estimate, kmv_merge

    e = load(spark, sf_dir, "events")
    base = e.select(F.to_date("ts").cast("string").alias("day"), "event_type", "user_id")
    cells = kmv_build(base, "user_id", by=("day", "event_type"), k=256)
    cells = cells.localCheckpoint()  # build once, merge three ways
    per_day = cells.groupBy("day").agg(kmv_merge(F.col("kmv"), 256).alias("m")).select(
        F.lit("day").alias("grain"),
        F.col("day").alias("key"),
        kmv_estimate(F.col("m"), 256).alias("est_users"),
    )
    per_type = cells.groupBy("event_type").agg(kmv_merge(F.col("kmv"), 256).alias("m")).select(
        F.lit("type").alias("grain"),
        F.col("event_type").alias("key"),
        kmv_estimate(F.col("m"), 256).alias("est_users"),
    )
    total = cells.agg(kmv_merge(F.col("kmv"), 256).alias("m")).select(
        F.lit("total").alias("grain"),
        F.lit("*").alias("key"),
        kmv_estimate(F.col("m"), 256).alias("est_users"),
    )
    return per_day.unionByName(per_type).unionByName(total)


@workload(
    "value_outliers",
    oracle="""
    WITH s AS (
        SELECT event_id, event_type, value,
               (value - AVG(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type) AS z
        FROM events
    )
    SELECT event_id, event_type, value, ROUND(z, 4) AS z
    FROM s WHERE abs(z) > 2
    """,
)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging — the metric-anomaly sweep over a
    telemetry table. Mean and sample-stddev are a |types|-row aggregate
    BROADCAST back onto the scan, and the z filter is a scan-stage
    expression. The window form (``AVG(value) OVER (PARTITION BY
    event_type)``, what the oracle spells) is a parallelism trap this
    workload exists to avoid: with a handful of event types the window
    exchange funnels EVERY row into |types| partitions — 5-way parallelism
    on a 32-core box, catastrophic on a 1000-executor cluster — while the
    map-side-combined aggregate never shuffles more than |types| rows per
    task. Two scans of a columnar projection beat one 5-partition pass at
    every scale (round-6 ×100: 5.41s → 2.62s)."""
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("_mu"), F.stddev_samp("value").alias("_sigma")
    )
    z = (F.col("value") - F.col("_mu")) / F.col("_sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs("z") > 2)
        .select("event_id", "event_type", "value", F.round("z", 4).alias("z"))
    )


@workload(
    "debounce_events",
    oracle="""
    WITH g AS (
        SELECT event_id, user_id, event_type, ts,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM g WHERE gap_us IS NULL OR gap_us > 300000000
    """,
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debouncing: drop repeat (user, type) events arriving
    within 5 minutes of the previous kept-or-dropped one — the standard
    duplicate-click / retry-storm scrub before sessionization. One lag
    window on the (user_id, event_type) key = one shuffle; timestamps
    compare as exact integer microseconds so the keep decision is
    engine-reproducible. (This is the lag-gap form — debouncing against the
    last KEPT event needs the running-state form, applyInPandasWithState in
    streaming/state.py.)"""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = e.select(
        "event_id", "user_id", "event_type", us.alias("ts_us"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    return g.filter(F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000)).select(
        "event_id", "user_id", "event_type", "ts_us"
    )


@workload(
    "metric_correlations",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user,
           ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_value_user,
           ROUND(stddev_samp(value), 4) AS sd_value
    FROM events
    GROUP BY event_type
    """,
)
def metric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group — corr / covar_samp / stddev_samp are
    single-pass mergeable aggregates (sum, sum-of-squares, cross-product
    moments combine associatively), so they partial-aggregate map-side and
    shuffle one moment vector per group at any scale."""
    e = load(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("value", u), 4).alias("corr_value_user"),
        F.round(F.covar_samp("value", u), 4).alias("covar_value_user"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
    )


@workload(
    "central_tendency",
    oracle="""
    WITH m AS (
        SELECT user_id, median(value) AS median_value, COUNT(*) AS n_events
        FROM events GROUP BY user_id
    ),
    t AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM events GROUP BY user_id, event_type
    )
    SELECT m.user_id, ROUND(m.median_value, 4) AS median_value, m.n_events,
           t.event_type AS modal_type
    FROM m JOIN t ON m.user_id = t.user_id AND t.rn = 1
    """,
)
def central_tendency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median plus deterministic mode per user. The modal event type
    is computed by construction (count per (user, type) → deterministic
    row_number with a lexicographic tie-break) rather than the engine's
    ``mode()`` aggregate, whose tie behavior is engine-defined — the
    reproducibility rule that every dedup tie-break in this repo follows.
    Median is exact here; at 100 TB swap to ``approx_percentile`` (t-digest,
    mergeable) — same query shape."""
    e = load(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.round(F.median("value"), 4).alias("median_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), "event_type")
    t = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"))
    )
    return m.join(t, "user_id").select("user_id", "median_value", "n_events", "modal_type")


@workload(
    "trend_slopes",
    oracle="""
    WITH x AS (
        SELECT event_type, value,
               CAST(epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY event_type) AS DOUBLE)
                 / 3600000000.0 AS h
        FROM events
    )
    SELECT event_type,
           CAST(regr_count(value, h) AS BIGINT) AS n,
           ROUND(regr_slope(value, h), 4) AS slope_per_hour,
           ROUND(regr_intercept(value, h), 4) AS intercept,
           ROUND(regr_r2(value, h), 4) AS r2
    FROM x GROUP BY event_type
    """,
)
def trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear trend via the SQL regression family (regr_slope /
    regr_intercept / regr_r2) — drift detection over a metric stream. The
    regressor is hours since the group's first event, derived from exact
    integer microseconds so both engines regress identical inputs; the
    regression aggregates themselves are single-pass moment sums —
    mergeable, map-side partial, one row per group shuffled. The per-type
    epoch comes from a |types|-row aggregate broadcast onto the scan, NOT
    a ``MIN OVER (PARTITION BY event_type)`` window — same
    low-cardinality-window parallelism trap as value_outliers (every row
    funneled into |types| partitions)."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    t0 = e.groupBy("event_type").agg(F.min(us).alias("_t0"))
    x = e.join(F.broadcast(t0), "event_type").select(
        "event_type",
        "value",
        ((us - F.col("_t0")).cast("double") / 3.6e9).alias("h"),
    )
    return x.groupBy("event_type").agg(
        F.regr_count("value", "h").alias("n"),
        F.round(F.regr_slope("value", "h"), 4).alias("slope_per_hour"),
        F.round(F.regr_intercept("value", "h"), 4).alias("intercept"),
        F.round(F.regr_r2("value", "h"), 4).alias("r2"),
    )


@workload(
    "two_phase_merge_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS value_sum,
           ROUND(MIN(value), 4) AS value_min,
           ROUND(MAX(value), 4) AS value_max,
           ROUND(SUM(value) / COUNT(*), 4) AS value_avg
    FROM events
    GROUP BY event_type
    """,
)
def two_phase_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-aggregation pattern, correctness-pinned: aggregate each
    DAY to a partial state (count, sum, min, max), then MERGE the partials
    to the final per-type stats — provably equal to aggregating the raw
    table directly (the oracle does exactly that). This is the daily ETL
    shape at 100 TB: yesterday's partials are a tiny stored table, today's
    delta aggregates alone, and the merge touches partial rows only — the
    raw history is never re-scanned. Works because count/sum/min/max (and
    moment vectors: see metric_correlations) are algebraic — partials
    combine associatively; the same decomposition is what map-side partial
    aggregation does inside one job."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(F.to_date("ts").alias("day"), "event_type", "value")
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("value").alias("psum"),
            F.min("value").alias("pmin"),
            F.max("value").alias("pmax"),
        )
    )
    return daily.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum"), 2).alias("value_sum"),
        F.round(F.min("pmin"), 4).alias("value_min"),
        F.round(F.max("pmax"), 4).alias("value_max"),
        F.round(F.sum("psum") / F.sum("pn"), 4).alias("value_avg"),
    )


@workload(
    "equidepth_histogram",
    oracle="""
    WITH q AS (
        SELECT event_type, value,
               ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
        FROM events
    )
    SELECT event_type, CAST(quartile AS INT) AS quartile,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM q GROUP BY event_type, quartile
    """,
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) histogram per event type via ntile — the
    distribution profile that drives skew-aware partitioning choices. The
    ntile window partitions BY TYPE (never a global sort — a bare
    ``ntile() OVER (ORDER BY ...)`` would funnel the table through one
    partition, the red flag tools/explain.py exists to catch); ordering is
    tie-broken on event_id so bucket membership is engine-reproducible.
    One type-keyed shuffle serves window + aggregate."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", F.col("quartile").cast("int").alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@workload(
    "stream_debounce",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk AS (
        SELECT user_id, event_type, event_id, ts_us, rn,
               1 AS kept, ts_us AS last_kept
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_type, o.event_id, o.ts_us, o.rn,
               CASE WHEN o.ts_us - w.last_kept > 300000000 THEN 1 ELSE 0 END,
               CASE WHEN o.ts_us - w.last_kept > 300000000 THEN o.ts_us ELSE w.last_kept END
        FROM walk w JOIN ordered o
          ON o.user_id = w.user_id AND o.event_type = w.event_type AND o.rn = w.rn + 1
    )
    SELECT event_id, user_id, event_type, CAST(ts_us AS BIGINT) AS ts_us
    FROM walk WHERE kept = 1
    """,
)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce against the last KEPT event as a REAL stateful streaming
    run (streaming/stateful.py debounce_against_last_kept,
    applyInPandasWithState; state = one long per (user, type)) — the
    running-state semantics that the batch lag-gap form (debounce_events)
    cannot express, and that plain SQL needs a recursive CTE to replay:
    the oracle walks each key's ordered events carrying the last-kept
    timestamp, which is exactly the state the operator keeps. Sequential
    recurrence per key, batch-parallel across keys — the greedy_bin_pack
    cost shape, here under the streaming state store."""
    from nextgenetl_spark.streaming.source import events_stream
    from nextgenetl_spark.streaming.stateful import debounce_against_last_kept

    name = "wl_stream_debounce"
    out = debounce_against_last_kept(events_stream(spark, sf_dir))
    from nextgenetl_spark.streaming.source import run_memory_replay

    # cap=8: measured best overall min (1.24; cap16 worst in both r12
    # rotations: 1.34/2.14; cap4 ordering flipped between rotations)
    return run_memory_replay(spark, out, name, "append", cap=8)


@workload(
    "value_quantile_sketch",
    oracle="""
    WITH h AS (
        SELECT CASE WHEN value < 0 THEN -1
                    -- clamp on BIGINT BEFORE the INT cast, mirroring
                    -- qhist_build's order: a heavy tail value ≳4e9 would
                    -- overflow an INT cast applied pre-LEAST (round-4 ADVICE)
                    ELSE CAST(LEAST(CAST(FLOOR(value / 500.0 * 256) AS BIGINT), 256) AS INT) END AS bin,
               COUNT(*) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    c AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum, SUM(cnt) OVER () AS total FROM h),
    hits AS (
        SELECT v.q, MIN(c.bin) AS bin
        FROM c, (VALUES (0.5), (0.9), (0.99)) AS v(q)
        WHERE c.cum >= CEIL(v.q * c.total)
        GROUP BY v.q
    )
    SELECT CAST(q AS DOUBLE) AS q, ROUND(bin * 500.0 / 256, 6) AS value FROM hits
    """,
)
def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram sketch with a full cross-engine oracle
    (operators/agg.py qhist_build/qhist_quantiles): event values bucket
    onto a fixed 256-bin grid over [0, 500); p50/p90/p99 come from the
    step-CDF inverse over the ≤258-row sketch table. Completes the
    mergeable-sketch family — HLL distincts, CMS frequencies, Bloom
    membership, QHIST quantiles — all as plain SQL-mergeable TABLES
    (per-shard histograms SUM-merge), all hash/grid-deterministic so
    DuckDB replays them exactly (t-digest/KLL cannot be oracle-checked
    this way: their merges are order-sensitive). At 100 TB: one scan-stage
    bucketing + a ≤n_bins-row shuffle per cell; quantile queries never
    re-scan values, and re-aggregating day→month→year merges bin counts."""
    from nextgenetl_spark.operators.agg import qhist_build, qhist_quantiles

    e = load(spark, sf_dir, "events")
    h = qhist_build(e, "value", lo=0.0, hi=500.0, n_bins=256)
    return qhist_quantiles(h, [0.5, 0.9, 0.99], lo=0.0, hi=500.0, n_bins=256)


@workload(
    "stream_value_quantiles",
    oracle="""
    WITH h AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
               CASE WHEN value < 0 THEN -1
                    -- BIGINT clamp before INT cast (same as value_quantile_sketch)
                    ELSE CAST(LEAST(CAST(FLOOR(value / 500.0 * 64) AS BIGINT), 64) AS INT) END AS bin,
               COUNT(*) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
        SELECT window_start, bin,
               SUM(cnt) OVER (PARTITION BY window_start ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY window_start) AS total
        FROM h
    ),
    hits AS (
        SELECT window_start, v.q, MIN(bin) AS bin
        FROM c, (VALUES (0.5), (0.95)) AS v(q)
        WHERE cum >= CEIL(v.q * total)
        GROUP BY 1, 2
    )
    SELECT window_start, CAST(q AS DOUBLE) AS q,
           ROUND(bin * 500.0 / 64, 6) AS value
    FROM hits
    """,
)
def stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-window quantile monitoring via the mergeable QHIST
    sketch (operators/agg.py): the events stream aggregates (1-hour window
    × 64-bin value histogram) — the windowed form of qhist_build — and the
    per-window p50/p95 are read off the sketch with the partitioned
    step-CDF inverse (qhist_quantiles by=window). The streaming state is
    ≤n_bins+2 counters per open window (bounded regardless of event
    volume), which is the entire point: exact streaming percentiles need
    every value in state, the sketch needs 66 longs. Grid determinism
    gives the full cross-engine oracle no t-digest/KLL stream could.
    At scale: late data folds into the same (window, bin) counters, and
    day→month rollups SUM-merge the per-window sketch tables."""
    from nextgenetl_spark.operators.agg import qhist_quantiles
    from nextgenetl_spark.streaming.source import events_stream, run_memory_replay

    lo, hi, nb = 0.0, 500.0, 64
    e = events_stream(spark, sf_dir)
    v = F.col("value")
    bin_ = F.when(v < lo, F.lit(-1)).otherwise(
        F.least(F.floor((v - lo) / (hi - lo) * nb), F.lit(nb).cast("long")).cast("int")
    )
    agg = (
        e.where(v.isNotNull() & ~F.isnan(v))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start"), "bin", "cnt")
    )
    # cap=4: measured 1.35 < cap8 1.51 < cap16 1.59 (r12 cap A/B, 580b237)
    sketch = run_memory_replay(spark, agg, "wl_stream_qhist", "complete", cap=4)
    return qhist_quantiles(sketch, [0.5, 0.95], lo, hi, nb, by=["window_start"])


@workload(
    "kmv_set_overlap",
    oracle="""
    WITH heavy AS (
        SELECT event_type, user_id FROM events
        GROUP BY event_type, user_id HAVING COUNT(*) >= 14),
    h AS (SELECT DISTINCT event_type,
                 CAST(CONCAT('0x', substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
          FROM heavy),
    r AS (SELECT event_type, hv,
                 row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
          FROM h),
    sk AS (SELECT event_type, list(hv ORDER BY hv) AS kmv, COUNT(*) AS sz
           FROM r WHERE rn <= 64 GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.kmv AS ka, b.kmv AS kb, a.sz AS sa, b.sz AS sb,
               CASE WHEN a.sz >= 64 THEN a.kmv[64] ELSE 1152921504606846976 END AS ta,
               CASE WHEN b.sz >= 64 THEN b.kmv[64] ELSE 1152921504606846976 END AS tb
        FROM sk a JOIN sk b ON a.event_type < b.event_type),
    calc AS (
        SELECT type_a, type_b,
               CASE WHEN sa >= 64 THEN ROUND(63.0 * 1152921504606846976.0 / ka[64], 4)
                    ELSE ROUND(CAST(sa AS DOUBLE), 4) END AS est_a,
               CASE WHEN sb >= 64 THEN ROUND(63.0 * 1152921504606846976.0 / kb[64], 4)
                    ELSE ROUND(CAST(sb AS DOUBLE), 4) END AS est_b,
               ROUND(CAST(len(list_filter(list_intersect(ka, kb), x -> x < LEAST(ta, tb))) AS DOUBLE)
                     * 1152921504606846976.0 / LEAST(ta, tb), 4) AS est_intersect,
               list_sort(list_distinct(list_concat(ka, kb))) AS mu
        FROM pairs),
    calc2 AS (
        SELECT type_a, type_b, est_a, est_b, est_intersect,
               CASE WHEN len(mu) >= 64 THEN ROUND(63.0 * 1152921504606846976.0 / mu[64], 4)
                    ELSE ROUND(CAST(len(mu) AS DOUBLE), 4) END AS est_union
        FROM calc)
    SELECT type_a, type_b, est_a, est_b, est_intersect, est_union,
           ROUND(est_intersect / est_union, 4) AS jaccard_est
    FROM calc2
    """,
)
def kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-OPERATION cardinalities from mergeable KMV sketches — the
    Theta-sketch capability (operators/agg.py kmv_intersect_estimate /
    kmv_pair_union): the distinct heavy-user base (≥14 events) of every
    event-type pair, its overlap, union, and Jaccard — estimated purely
    from the 64-hash sketches, never by joining the raw sets. The
    audience-overlap / cross-corpus-contamination-cardinality question at
    sketch cost: below θ = min of the two inclusion thresholds both
    sketches are complete uniform samples, so shared-hashes-under-θ
    scaled by 2^60/θ estimates |A∩B| (exact when both cells are under k).
    FULL oracle: the entire walk — md5-prefix hashes, bottom-64 trims, θ
    logic, scaled counts, merged-union estimate — is integer set algebra
    plus correctly-rounded divisions, replayed verbatim in SQL. At 100 TB:
    sketches are per-source ingest artifacts (≤k rows each); the S×S
    overlap matrix costs S² list-intersections of ≤k longs on the driver-
    side-small sketch table — the raw corpora are never rejoined."""
    from nextgenetl_spark.operators.agg import (
        kmv_build,
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_pair_union,
    )

    e = load(spark, sf_dir, "events")
    heavy = (
        e.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 14)
    )
    sk = kmv_build(heavy, "user_id", by=["event_type"], k=64)
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("kb"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est_i = kmv_intersect_estimate(F.col("ka"), F.col("kb"), 64)
    est_u = kmv_estimate(kmv_pair_union(F.col("ka"), F.col("kb"), 64), 64)
    return pairs.select(
        "type_a",
        "type_b",
        kmv_estimate(F.col("ka"), 64).alias("est_a"),
        kmv_estimate(F.col("kb"), 64).alias("est_b"),
        est_i.alias("est_intersect"),
        est_u.alias("est_union"),
        F.round(est_i / est_u, 4).alias("jaccard_est"),
    )


@workload(
    "cms_join_size",
    oracle="""
    WITH probes AS (
        SELECT event_type, g.d,
               CAST(CONCAT('0x', substr(md5(CAST(g.d AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS bucket
        FROM events, generate_series(0, 3) AS g(d)),
    cms AS (SELECT event_type, d, bucket, COUNT(*) AS cnt
            FROM probes GROUP BY event_type, d, bucket),
    per AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, a.d,
               SUM(a.cnt * b.cnt) AS ip
        FROM cms a JOIN cms b ON a.d = b.d AND a.bucket = b.bucket
        WHERE a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type, a.d),
    types AS (SELECT DISTINCT event_type FROM events),
    dom AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, g.d
        FROM types a JOIN types b ON a.event_type < b.event_type,
             generate_series(0, 3) AS g(d)),
    est AS (SELECT dom.type_a, dom.type_b,
                   CAST(MIN(COALESCE(per.ip, 0)) AS BIGINT) AS est_join_size
            FROM dom LEFT JOIN per
              ON dom.type_a = per.type_a AND dom.type_b = per.type_b
             AND dom.d = per.d
            GROUP BY dom.type_a, dom.type_b),
    f AS (SELECT event_type, user_id, COUNT(*) AS f
          FROM events GROUP BY event_type, user_id),
    tru AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(SUM(a.f * b.f) AS BIGINT) AS true_join_size
        FROM f a JOIN f b ON a.user_id = b.user_id
        WHERE a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type)
    SELECT e.type_a, e.type_b, e.est_join_size,
           COALESCE(t.true_join_size, CAST(0 AS BIGINT)) AS true_join_size
    FROM est e LEFT JOIN tru t ON e.type_a = t.type_a AND e.type_b = t.type_b
    """,
)
def cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join SIZE estimation from count-min sketches (operators/agg.py
    cms_inner_product — Cormode & Muthukrishnan 2005 §4.3): for every
    event-type pair, the estimated row count of the self-join on user_id
    (est = min over hash rows of the bucket-count inner product) next to
    the exact Σ f_a(u)·f_b(u) — the pre-scan cardinality answer a join
    planner needs for skewed keys. The estimator never underestimates;
    with width=1024 over 150-user cells most rows are collision-free and
    est == true, while the pytest forces width=32 to pin the bounded
    overestimate and the min-row concentration. One corpus scan builds
    all five sketches (in-row depth-way expansion, map-side combined);
    the pairwise inner products join two ≤depth×width sketch tables —
    corpus-size-free. At 100 TB: per-source/day CMS tables are ingest
    artifacts that union-merge by summing cnt; every pairwise join-size
    question is answered from sketches without touching the fact table.
    FULL oracle: integer arithmetic end-to-end on the shared md5 hash
    family — DuckDB replays sketch, inner products, min, and exact twin."""
    from nextgenetl_spark.operators.agg import _cms_bucket

    e = load(spark, sf_dir, "events")
    probes = F.array(
        *[
            F.struct(
                F.lit(r).alias("d"),
                _cms_bucket(F.col("user_id").cast("string"), r, 1024).alias("bucket"),
            )
            for r in range(4)
        ]
    )
    cms = (
        e.select("event_type", F.explode(probes).alias("p"))
        .groupBy("event_type", F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = cms.select(F.col("event_type").alias("type_a"), "d", "bucket", F.col("cnt").alias("ca"))
    b = cms.select(F.col("event_type").alias("type_b"), "d", "bucket", F.col("cnt").alias("cb"))
    per = (
        a.join(b, ["d", "bucket"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b", "d")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    # Min over the FULL pair × d domain with absent rows as ip=0: a hash
    # row with zero colliding buckets proves the pair's true join size is
    # 0 and must drive the min to 0, and a pair sharing no buckets at all
    # must still appear (est 0) rather than vanish (round-10 ADVICE #2).
    types = e.select("event_type").distinct()
    dom = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
        .select(
            "type_a",
            "type_b",
            F.explode(F.array(*[F.lit(r) for r in range(4)])).alias("d"),
        )
    )
    est = (
        dom.join(per, ["type_a", "type_b", "d"], "left")
        .groupBy("type_a", "type_b")
        .agg(F.min(F.coalesce(F.col("ip"), F.lit(0))).cast("long").alias("est_join_size"))
    )
    f = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("f"))
    fa = f.select(F.col("event_type").alias("type_a"), "user_id", F.col("f").alias("fa"))
    fb = f.select(F.col("event_type").alias("type_b"), "user_id", F.col("f").alias("fb"))
    tru = (
        fa.join(fb, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.col("fa") * F.col("fb")).cast("long").alias("true_join_size"))
    )
    return est.join(tru, ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        "est_join_size",
        F.coalesce(F.col("true_join_size"), F.lit(0).cast("long")).alias(
            "true_join_size"
        ),
    )
