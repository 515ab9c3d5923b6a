"""Structured Streaming extensions (SURVEY.md §2.11/§7 step 8).

The reference is pure batch; these are greenfield Spark-native operators:
watermarked tumbling/sliding/session windows and a custom stateful
per-user sessionizer. Each mirrors a batch workload (workloads/events.py)
so the same semantics are checkable against the DuckDB oracle in batch and
run incrementally in streaming.

Every bounded (availableNow) query — memory, lake or foreachBatch sink —
runs through one runner, ``source.run_bounded``, over one staged file
source (``source._file_stream``)."""

from nextgenetl_spark.streaming.dedup import dedup_stream
from nextgenetl_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

__all__ = ["tumbling_window_agg", "sliding_window_agg", "session_window_agg", "dedup_stream"]
