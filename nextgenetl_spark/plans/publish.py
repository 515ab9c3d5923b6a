"""Publish / version tail (SURVEY.md §3.4).

Reference behavior: before publishing a new release table, diff it against
the previous release (EXCEPT DISTINCT union, common_etl/support.py:
2072-2123); if identical, skip republish; else copy to ``_versioned``
(release-stamped) and ``_current`` locations and archive-tag the old
version (support.py:2025-2070; cda_bq_etl/bq_helpers/create_modify.py:
210-278; utils.py:368-382 find_most_recent_release at :1876-1918).

Spark mapping: tables are parquet directories under a warehouse root:
``{root}/{table}_versioned/{release}/`` + ``{root}/{table}_current/``. The
metadata sidecar records the published schema (``spark_schema``), so the
next publish reads the previous release without a schema-inference job.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from nextgenetl_spark.catalog import read_parquet_as
from nextgenetl_spark.diff import tables_equal
from nextgenetl_spark.staging import atomic_write

#: Sidecar filename for table metadata. The leading underscore makes Spark's
#: file index skip it, so a metadata-bearing table dir still reads as plain
#: parquet. NOT "_metadata*": Spark's path filter exempts `_metadata` /
#: `_common_metadata` prefixes (parquet summary files) and would try to read
#: the sidecar as a parquet footer.
METADATA_FILE = "_table_meta.json"


def write_table_metadata(table_dir: str, metadata: dict) -> str:
    """Persist table-lifecycle metadata (friendly name, description, labels,
    per-column descriptions) as a sidecar next to the parquet files — the
    BQ-table-properties counterpart (reference common_etl/utils.py:134-151
    update_table_metadata). Atomic replace so readers never see a torn file."""
    return atomic_write(
        os.path.join(table_dir, METADATA_FILE), json.dumps(metadata, indent=2, sort_keys=True)
    )


def read_table_metadata(table_dir: str) -> dict:
    path = os.path.join(table_dir, METADATA_FILE)
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def update_table_labels(
    table_dir: str, remove: list[str] | None = None, add: dict | None = None
) -> dict:
    """Label add/remove on an existing table's sidecar (reference
    common_etl/utils.py:153-180 update_table_labels)."""
    meta = read_table_metadata(table_dir)
    labels = meta.setdefault("labels", {})
    for key in remove or []:
        labels.pop(key, None)
    labels.update(add or {})
    write_table_metadata(table_dir, meta)
    return labels


def change_status_to_archived(table_dir: str) -> None:
    """Flip a superseded release's status label to 'archived' (reference
    common_etl/utils.py:368-382). Missing dir = first release — a no-op,
    exactly like the reference's NotFound branch."""
    if os.path.isdir(table_dir):
        update_table_labels(table_dir, add={"status": "archived"})


def prune_releases(root: str, table: str, keep: int = 3) -> list[str]:
    """Delete the oldest ARCHIVED releases beyond the newest ``keep``
    versioned dirs (reference delete tail: common_etl/utils.py:116-124
    delete_bq_table / support.py:1510-1526 delete_table_bq_job, applied to
    superseded releases). The current release and any release not labeled
    archived are never deleted, whatever ``keep`` says — pruning is for
    storage, not history rewriting. Returns the releases removed."""
    import shutil

    vdir = _versioned_dir(root, table)
    if not os.path.isdir(vdir):
        return []
    releases = [d for d in os.listdir(vdir) if not d.startswith(("_", "."))]
    ordered = sorted(releases, key=_release_sort_key)
    removed = []
    for rel in ordered[:-keep] if keep > 0 else ordered:
        path = os.path.join(vdir, rel)
        if read_table_metadata(path).get("labels", {}).get("status") == "archived":
            shutil.rmtree(path)
            removed.append(rel)
    return removed


def _versioned_dir(root: str, table: str) -> str:
    return os.path.join(root, f"{table}_versioned")


def _release_sort_key(release: str) -> tuple:
    """Releases order by the numeric tail of 'rNN'-style names; names
    without one sort after them, lexicographically."""
    m = re.search(r"(\d+)$", release)
    return (0, int(m.group(1))) if m else (1, release)


def find_most_recent_release(root: str, table: str) -> str | None:
    """Latest release under the versioned dir (releases sort by the numeric
    tail of 'rNN'-style names, falling back to lexicographic)."""
    vdir = _versioned_dir(root, table)
    if not os.path.isdir(vdir):
        return None
    releases = [d for d in os.listdir(vdir) if not d.startswith(("_", "."))]
    return sorted(releases, key=_release_sort_key)[-1] if releases else None


def publish_table(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    table: str,
    release: str,
    nan_tolerant: bool = True,
    metadata: dict | None = None,
) -> dict:
    """Compare-then-publish. Returns {'published': bool, 'reason': str,
    'previous_release': str | None}.

    On publish, ``metadata`` (friendlyName / description / labels / column
    descriptions) lands as a sidecar in both the versioned and _current
    dirs with labels.status='current', and the superseded release's sidecar
    flips to status='archived' — the reference's supersede tail
    (common_etl/utils.py:134-298,368-382). The sidecar also records
    ``df.schema`` as ``spark_schema``; the previous release is read with
    it, or inferred when its sidecar predates the field."""
    prev = find_most_recent_release(root, table)
    if prev is not None:
        prev_dir = os.path.join(_versioned_dir(root, table), prev)
        prev_df = read_parquet_as(spark, prev_dir, read_table_metadata(prev_dir).get("spark_schema"))
        if tables_equal(prev_df, df, nan_tolerant):
            return {"published": False, "reason": "identical to previous release", "previous_release": prev}

    vdir = os.path.join(_versioned_dir(root, table), release)
    cdir = os.path.join(root, f"{table}_current")
    df.write.mode("overwrite").parquet(vdir)
    df.write.mode("overwrite").parquet(cdir)
    meta = dict(metadata or {})
    meta["labels"] = {**meta.get("labels", {}), "status": "current", "release": release}
    meta["spark_schema"] = df.schema.json()
    write_table_metadata(vdir, meta)
    write_table_metadata(cdir, meta)
    if prev is not None:
        change_status_to_archived(os.path.join(_versioned_dir(root, table), prev))
    return {"published": True, "reason": "new or changed data", "previous_release": prev}
