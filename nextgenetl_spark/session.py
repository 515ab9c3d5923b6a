"""SparkSession factory.

The reference's execution substrate is BigQuery (common_etl/support.py:775-821);
ours is Spark. This module centralizes the session config so every entry point
(tests, bench, driver contract) runs with the same scale-aware settings:

- AQE on: runtime coalescing of shuffle partitions + skew-join handling means
  the same plan works at sf0.001 and at 100 TB without retuning.
- Arrow on: any pandas_udf / toPandas path is Arrow-batched, never row-at-a-time.
- Broadcast threshold left at default (10 MB) — dimension tables (region,
  nation, supplier, part at small SF) broadcast automatically; at 100 TB the
  facts stay shuffled on their join keys.
- Codegen class cache sized to the working set (``CODEGEN_CACHE_ENTRIES``):
  Catalyst's generated code only pays off when a compiled class is reused.
  Spark's default 100-class LRU is smaller than one pass of either
  benchmark workload, so every warm pass recompiled what the previous one
  compiled. The bound is JVM-wide: driver-side planning and the projection
  and whole-stage compiles inside tasks share it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Compiled-class LRU bound (spark.sql.codegen.cache.maxEntries, default 100).
# Measured with perfbench on 4 vCPUs, compiles counted per pass from
# CodegenMetrics: a cold pass compiles 141 classes (sql_mix) and 147
# (release_build). At the default 100 every warm pass recompiled 76-137 of
# them; at 150 still 11-45; at 200, 300, 500 and 1000 a warm pass compiled
# 0 (sql_mix) and 4 (release_build: 4 classes that are new on every pass,
# which no bound saves). 200 is the smallest round bound that holds both
# working sets; 500 leaves headroom for a larger one (more ops, queries
# interleaved in one process). Each entry keeps one generated class loaded.
CODEGEN_CACHE_ENTRIES = 500


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Janino compiles,
    i.e. codegen cache misses): driver-side planning and tasks alike."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _default_driver_mem() -> str:
    """Scale-aware local-mode heap: in local[N] the driver JVM hosts every
    executor thread's execution+storage memory, so the heap must be sized to
    the machine, not a constant. A quarter of physical RAM, clamped to
    [8g, 16g], keeps 32 concurrent tasks' sort/agg buffers out of GC-thrash
    territory (measured r11: wide_group_dedup_140 warm walls 23-59s at 8g vs
    12-20s at 32g on a 128 GiB box — the 8g heap was the single largest
    source of bench noise and straggler walls) while never overcommitting a
    small box. On a real cluster this corresponds to ordinary executor-memory
    sizing and the env override takes precedence."""
    mem_gib = 8
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_gib = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    # Clamp at 16g, not 32g (r11 re-measure): once the near-dup pair stages
    # were parallelized, the allocation-heavy 32-task jobs exposed the big
    # heap's GC cost — G1 young pauses scale with heap, and the ANN walk's
    # ~25 driver actions each pay them (hybrid_rrf_production warm min
    # 13.7s at 31g vs 8.0s at 16g across repeated quiet-box A/Bs; every
    # other family equal or better at 16g, wide_group_dedup_140 included —
    # its 8g→32g fix really needed "more than 8g", and 16g keeps all of
    # that win). Env override for hosts that need more.
    return f"{max(8, min(16, mem_gib // 4))}g"


def _oha_fallback_threshold(driver_mem: str) -> str:
    """ObjectHashAggregate sort-fallback threshold derived from the heap
    instead of a constant (r11 verdict ask #8: the flat 4194304 traded the
    OOM guard for speed with a safety argument that only held at the 16g
    default). Rule: one in-memory key per 4 KiB of driver heap — at the
    measured 16g point this reproduces the r11 value exactly (16384 MiB ×
    256 = 4,194,304 keys, the threshold wide_group_dedup_140's 600k-key
    grouping was measured under), and a host run at 8g/4g degrades the
    guard proportionally (2.1M/1M keys) instead of keeping a bound sized
    for a bigger heap. Floor 131072 keeps small-heap hosts above the
    degenerate 128-key default that external-sorted every real grouping.
    SPARK_GRAFT_OHA_FALLBACK still overrides outright.

    ``driver_mem`` is read as a JVM -Xmx string, which is how the driver
    heap is set: an optional k/m/g/t/p suffix (with or without a trailing
    'b'), a bare number meaning bytes; fractions are accepted. Anything
    else warns and falls back to the 16g-sized 4194304."""
    import re
    import warnings

    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([kmgtp]?)b?", driver_mem.strip().lower())
    if not m:
        warnings.warn(
            f"unparseable driver memory {driver_mem!r}: ObjectHashAggregate "
            "fallback threshold falls back to 4194304",
            stacklevel=2,
        )
        return "4194304"
    mib_per_unit = {"": 1 / 1024**2, "k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2, "p": 1024**3}
    mib = float(m.group(1)) * mib_per_unit[m.group(2)]
    return str(max(131072, min(8 * 4194304, int(mib * 256))))


def get_spark(app_name: str = "nextgenetl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to the local core count: at local[N] a
    larger value only adds task-scheduling overhead, while on a real cluster
    AQE coalesces the post-shuffle partitions anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long and convert in catalog.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        # G1 (the JVM default), NOT ParallelGC (r11 correction): ParallelGC
        # measured 10-25% lower on the trivial-action floor, but once the
        # near-dup pair stages ran 32-wide its stop-the-world collections
        # turned bimodal — near_dup_groups/star warm walls sat at 21-27s
        # (per-task GC time 1.35s of ~2s runtime, every concurrent task
        # paying the same pause) vs 5-7s under G1, with a 92s cold
        # full-GC spike; the ms-scale floor win cannot buy multi-second
        # pauses under allocation-heavy parallel aggregation. G1 keeps
        # pauses bounded at every heap size tested. Env-overridable.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseG1GC"),
        )
        # ObjectHashAggregate (collect_set/collect_list/...) falls back to
        # sort-based aggregation after only 128 in-memory keys by default —
        # a guard sized for huge per-key buffers, not the small-set/array
        # buffers this engine aggregates. At 128 every real grouping (600k
        # near-unique keys at sf0.1) degenerates to an external sort of the
        # full rows on BOTH sides of the exchange. Measured r11:
        # wide_group_dedup_140 15-17s -> 7-8s warm with the threshold
        # raised. The threshold is now DERIVED from the heap (1 key per
        # 4 KiB — see _oha_fallback_threshold) so a small-memory host keeps
        # a proportional OOM guard instead of a bound sized for 16g;
        # env-overridable as before.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            os.environ.get(
                "SPARK_GRAFT_OHA_FALLBACK", _oha_fallback_threshold(driver_mem)
            ),
        )
        # static: read once per JVM when the first class is generated
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame-debugging wrapper fires on EVERY Column/
        # DataFrame API call: a conf RPC + a JVM-class reflection RPC + a
        # PySparkCurrentOrigin set/clear pair + a Python stack walk, just to
        # enrich potential error messages with the user call site. Measured
        # r11: ~50-60ms per construction call on this box (a single
        # col().cast() = 58ms; one cosine() expression = ~700ms), which
        # dominated the driver gaps between the ANN build walk's jobs.
        # Pure diagnostics — execution semantics are untouched.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
