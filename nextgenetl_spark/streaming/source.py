"""One staged file source and one bounded-stream runner.

Sources: ``docs_stream``, ``events_stream`` and ``embeddings_stream`` are
file-source streams over the input parquet tables, all staged by one
``_file_stream`` with an explicit schema. ``events.parquet`` has shipped
with either TIMESTAMP(MICROS) (reads natively) or TIMESTAMP(NANOS); a
footer probe decides which, and ``events_stream`` converts ``ts`` at the
edge exactly like catalog.load does for batch, so streaming and batch plans
see the same schema.

Runner: ``run_bounded`` runs every bounded (availableNow) query of the
package, whatever its sink — memory, lake or foreachBatch. It names the
query, waits, stops it in ``finally`` and fails by name, so no caller ever
reads a partial replay. ``run_memory_replay`` is the memory-sink form under
a scoped state-store partition cap (``replay_shuffle_cap``)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def _stage_symlinks(src: str, stage: str) -> None:
    """Stage a table into a file-source landing directory via symlinks.
    Spark's file stream source lists FILES in the directory (no recursion),
    so a directory-shaped table (multi-file parquet) is staged by linking
    each inner data file; a single-file table links as itself. New part
    files appearing in the source dir are linked on the next call — the
    incremental-landing shape a real deployment has natively."""
    import glob as _glob
    import os

    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(src):
        parts = [
            p
            for p in sorted(_glob.glob(os.path.join(src, "*.parquet")))
            if not os.path.basename(p).startswith(("_", "."))
        ]
    else:
        parts = [src]
    # Prune symlinks whose target vanished (an in-place source regeneration
    # renames part files): a dangling link fails os.path.exists, so the
    # old guard both re-linked same-basename stale links (FileExistsError)
    # and left different-basename danglers to break the stream listing.
    for entry in os.listdir(stage):
        link = os.path.join(stage, entry)
        if os.path.islink(link) and not os.path.exists(link):
            os.unlink(link)
    for p in parts:
        link = os.path.join(stage, os.path.basename(p))
        if not os.path.lexists(link):
            os.symlink(p, link)


def _file_stream(spark: SparkSession, sf_dir: str, table: str, schema: T.StructType) -> DataFrame:
    """File-source stream over ``<sf_dir>/<table>.parquet`` with an explicit
    schema. Spark's file stream source requires a DIRECTORY of files, so the
    table is staged as a symlink directory (a real deployment points the
    reader at the landing directory new files arrive in). One file is one
    micro-batch unit; ``run_bounded`` runs the stream as a bounded replay."""
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    digest = hashlib.md5(src.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"ngetl_stream_{digest}")
    _stage_symlinks(src, stage)
    return spark.readStream.schema(schema).parquet(stage)


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the ingest shape of a
    text-curation pipeline (new crawl shards landing in a directory)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return _file_stream(spark, sf_dir, "documents", schema)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, with ``ts`` converted to
    the TIMESTAMP that catalog.load gives the batch plans."""
    # the same footer-derived ts read type and conversion as catalog.load
    from nextgenetl_spark.catalog import _events_ts_to_timestamp, _events_ts_type

    ts_type = _events_ts_type(sf_dir) or T.TimestampType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),  # long = nanos-as-long; else native timestamp
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return _events_ts_to_timestamp(_file_stream(spark, sf_dir, "events", schema))


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet — the serving shape of
    an ANN lookup pipeline (query-vector batches landing in a directory)."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    return _file_stream(spark, sf_dir, "embeddings", schema)


@contextmanager
def replay_shuffle_cap(spark: SparkSession, cap: int = 16):
    """Scoped shuffle-partition cap for bounded stateful replays.

    Stateful streaming sizes its state store by ``spark.sql.shuffle.
    partitions`` AT QUERY START and AQE cannot coalesce them: under a
    default session (200) a small availableNow replay pays 200 state-store
    partitions of per-partition fixed cost (~3-5× wall on the driver's
    gate). There is no per-query override in Spark, so the cap must be a
    session conf — this context manager makes the write SCOPED: set before
    ``.start()``, restored in ``finally`` after the replay, so no lasting
    session mutation escapes (a concurrent query in the same session during
    the replay window would still observe the cap — the documented limit of
    Spark's conf model). A real deployment sizes the conf to its state
    volume at session build instead. Default 16: measured on the sf0.1
    debounce/session replays, 8-16 state-store partitions run ~25-30%
    faster than 32 (fewer per-partition store fixed costs) while 4 loses
    task parallelism; 16 keeps headroom for larger replays."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, "200")
    capped = max(4, min(cap, spark.sparkContext.defaultParallelism))
    changed = int(prev) > capped
    if changed:
        spark.conf.set(key, str(capped))
    try:
        yield
    finally:
        if changed:
            spark.conf.set(key, prev)


def run_bounded(writer: DataStreamWriter, name: str, timeout_s: int = 300) -> StreamingQuery:
    """Run a configured ``writer`` as one bounded availableNow query named
    ``name`` and return the stopped query (``recentProgress`` stays
    readable). The one place every bounded stream starts, waits and stops.

    Naming every query makes a failing batch's ``StreamingQueryException``
    name it (``Identifier: <name>``). ``stop()`` runs in ``finally``: a
    query whose wait raises or times out is never left running with its
    name claimed, or the next run under the same name would fail. A query
    that does not finish within ``timeout_s`` raises ``TimeoutError``
    naming ``name``: its sink holds a partial replay, which no caller may
    return as a result."""
    q = writer.queryName(name).trigger(availableNow=True).start()
    try:
        finished = q.awaitTermination(timeout_s)
    finally:
        q.stop()
    if not finished:
        raise TimeoutError(
            f"{name}: availableNow query did not finish within {timeout_s}s — "
            "refusing to return a partial replay"
        )
    return q


def run_memory_replay(
    spark: SparkSession,
    out: DataFrame,
    name: str,
    output_mode: str = "append",
    cap: int = 16,
) -> DataFrame:
    """Replay ``out`` into a memory sink named ``name`` through
    ``run_bounded`` under a scoped state-store partition cap
    (``replay_shuffle_cap``) and return the sink table — the shared tail of
    every stream_* workload."""
    with replay_shuffle_cap(spark, cap):
        run_bounded(out.writeStream.format("memory").outputMode(output_mode), name)
    return spark.table(name)
