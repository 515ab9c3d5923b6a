"""Streaming lake sink: exactly-once publish into a partitioned parquet
directory via ``foreachBatch``, run like every bounded stream by
``streaming.source.run_bounded``.

Spark's streaming file sink is append-only and ties commit metadata to one
output directory; pipelines that need dynamic partition overwrite, dedup
against the target, or multi-table fan-out use ``foreachBatch`` instead.
foreachBatch gives at-least-once delivery — a batch can re-run after a
crash between the write and the checkpoint commit — so the batch write
must be IDEMPOTENT to get exactly-once end-to-end. Here each micro-batch
stamps its rows with ``batch_id`` and overwrites only its own
``_batch_id=N`` partitions (dynamic partition overwrite): replaying batch
N rewrites the same partitions byte-for-byte instead of duplicating rows.

At 100 TB this is the standard landing pattern: idempotence comes from
partition-scoped overwrite, not from a transaction log, so it works on
plain parquet + any object store; swapping in a table format (Delta,
Iceberg) only changes the writer call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextgenetl_spark.streaming.source import run_bounded


def exactly_once_parquet_sink(out_dir: str, partition_cols: list[str] | None = None):
    """Build a foreachBatch function writing each micro-batch to
    ``out_dir`` partitioned by (_batch_id [, partition_cols...]), with
    dynamic partition overwrite so re-delivered batches replace rather
    than append their own output."""
    extra = partition_cols or []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # partitionOverwriteMode as a WRITER OPTION, not a session conf —
        # per-write scoped by construction, nothing to save/restore and no
        # concurrent query ever observes it.
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", *extra)
            .parquet(out_dir)
        )

    return write_batch


def run_stream_to_lake(
    sdf: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Run a bounded streaming write into the lake dir through
    ``run_bounded`` with a real checkpoint — restartable and exactly-once
    by idempotent batch overwrite. The query is named after ``out_dir``, so
    a failing batch or a timeout names the lake that holds a partial
    replay."""
    writer = sdf.writeStream.foreachBatch(
        exactly_once_parquet_sink(out_dir, partition_cols)
    ).option("checkpointLocation", checkpoint_dir)
    run_bounded(writer, f"run_stream_to_lake({out_dir})")
