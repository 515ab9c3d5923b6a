"""TSV/CSV ingestion with the reference's normalize→infer→load discipline.

Reference behavior being reproduced (S1/Y7/Y8/Y9):
- explicit-schema load with skip-N-header-rows and a null marker
  (common_etl/utils.py:654-682; cda_bq_etl/bq_helpers/create_modify.py:137-176)
- sampled type inference over every Nth row (data_helpers.py:220-277)
- value normalization before load (data_helpers.py:447-557) with a row-count
  invariance check
- duplicate-header disambiguation + BQ-safe names (data_helpers.py:498-518)

Scale design: inference samples the file head driver-side (bounded read);
the full load is a distributed ``spark.read.csv`` with an explicit schema —
no Spark-side inference pass over the whole dataset, no double scan.
The header-row filter and the normalize→cast projection are one parsed SQL
select (``functions.text.select_sql``), so building the DataFrame costs
the same few JVM round trips at 10 columns or 140, and the plan is the one
the DataFrame API would build. Inference is exact but lazy
(``inference.infer_tsv_types``): ``_id`` columns are STRING unseen, each
distinct cell is checked once, and a column stops at its first STRING.
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nextgenetl_spark.functions.text import normalize_value_sql, select_sql, sql_ident, sql_string
from nextgenetl_spark.inference import dedupe_headers, infer_tsv_types, make_name_bq_friendly

_CAST = {
    "STRING": "string",
    "INT64": "long",
    "FLOAT64": "double",
    "NUMERIC": "decimal(38,9)",
    "BOOL": "boolean",
    "DATE": "date",
    "TIME": "string",
    "TIMESTAMP": "timestamp",
    "DATETIME": "timestamp",
}


def _first_file_local(path: str) -> str:
    """Resolve a local path/glob/directory to its lexicographically-first
    data file — the deterministic inference target for multi-file inputs."""
    import glob as _glob
    import os

    matches = sorted(_glob.glob(path)) or [path]
    target = matches[0]
    if os.path.isdir(target):
        # Skip writer metadata (_SUCCESS, .crc, …) and empty part files —
        # a Spark-written directory sorts _SUCCESS first, and sampling it
        # would yield an empty header.
        inner = sorted(
            p
            for p in _glob.glob(os.path.join(target, "*"))
            if os.path.isfile(p)
            and not os.path.basename(p).startswith(("_", "."))
            and os.path.getsize(p) > 0
        )
        if inner:
            target = inner[0]
    return target


def _head_lines_hadoop(spark: SparkSession, path: str, n_lines: int) -> str:
    """Bounded head read of the first matching file via the Hadoop FS API
    (works for hdfs:// / s3a:// URIs). Reads n lines off one stream — never
    a Spark job, so no risk of `limit` sampling an arbitrary file's rows."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    files = []
    for st in fs.globStatus(p) or []:
        if st.isDirectory():
            files.extend(
                s.getPath()
                for s in fs.listStatus(st.getPath())
                # skip writer metadata (_SUCCESS, .crc) and empty parts
                if s.isFile() and s.getLen() > 0 and not s.getPath().getName().startswith(("_", "."))
            )
        else:
            files.append(st.getPath())
    if not files:
        raise FileNotFoundError(path)
    first = min(files, key=lambda q: q.toString())
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(first), "UTF-8"))
    lines: list[str] = []
    try:
        for _ in range(n_lines):
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
    finally:
        reader.close()
    return "\n".join(lines)


def _sample_head(spark: SparkSession, path: str, n_lines: int, sep: str) -> tuple[list[str], list[list[str]]]:
    """Driver-side bounded read of the head of the FIRST file for schema
    inference. Multi-file globs/directories always sample the
    lexicographically-first file (a Spark `limit` would pull rows from an
    arbitrary file and could flip an inferred type); non-local URIs go
    through the Hadoop FS API on one bounded stream."""
    if "://" in path:
        text = _head_lines_hadoop(spark, path, n_lines)
    else:
        with open(_first_file_local(path), encoding="utf-8", errors="replace") as fh:
            text = "".join(line for _, line in zip(range(n_lines), fh))
    reader = csv.reader(io.StringIO(text), delimiter=sep)
    rows = [row for row in reader if row]
    return rows[0], rows[1:]


def read_tsv(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    schema: T.StructType | None = None,
    null_marker: str = "",
    skip_leading_rows: int = 1,
    sample_interval: int = 1,
    sample_lines: int = 5000,
    normalize: bool = True,
    schema_path: str | None = None,
    curated: list[dict] | dict | None = None,
    prefer_curated_types: bool = False,
) -> DataFrame:
    """Load a TSV as the reference would: sanitize + dedupe headers, infer
    per-column types from a sampled head (unless an explicit schema is
    given), read string-typed, normalize values, then cast.

    ``schema_path`` is the reference's persisted-schema discipline
    (cda_bq_etl/bq_helpers/schema.py:85-187): if the JSON file exists its
    types REPLACE inference (the normalize→cast pipeline still runs, so a
    reload is bit-identical to the inferring run); if absent, the inferred
    types are persisted there for every later run to reload.

    ``curated`` overlays a hand-curated schema repo on the inferred types
    before casting/persisting (reference common_etl/support.py:1161-1290):
    with ``prefer_curated_types=True`` a curated type WINS over inference
    unless the entry carries an ``exception`` (create_schema_hold_list
    static mode); otherwise curated entries contribute descriptions only.
    The merged fields — descriptions included — are what ``schema_path``
    persists."""
    import os

    if schema is not None:
        df = (
            spark.read.options(sep=sep, header=skip_leading_rows > 0, nullValue=null_marker)
            .schema(schema)
            .csv(path)
        )
        return df

    if schema_path is None and os.path.isdir(path):
        # Auto-pin to an engine-written export sidecar (Pipeline export_csv
        # writes one): the writer's types beat head-of-first-file inference,
        # which is partitioning-sensitive — a degenerate first part file
        # (empty, or an all-integral double sample) would re-type a column
        # and cast every non-conforming value to NULL.
        sidecar = os.path.join(path, "_schema.json")
        if os.path.exists(sidecar):
            schema_path = sidecar

    if schema_path and os.path.exists(schema_path):
        from nextgenetl_spark.schemas import load_schema_types

        types = load_schema_types(schema_path)
        # header row only — names come from the file, types from the store
        raw_headers, _ = _sample_head(spark, path, 1, sep)
        headers = dedupe_headers([make_name_bq_friendly(h) for h in raw_headers])
        missing = [h for h in headers if h not in types]
        if missing:
            raise ValueError(f"{schema_path} lacks fields {missing} present in {path}")
    else:
        raw_headers, body = _sample_head(spark, path, sample_lines, sep)
        headers = dedupe_headers([make_name_bq_friendly(h) for h in raw_headers])
        types = infer_tsv_types(body, headers, sample_interval=sample_interval)
        merged_fields = None
        if curated is not None:
            from nextgenetl_spark.schemas import merge_curated

            merged_fields = merge_curated(types, curated, prefer_curated_types)
            types = {f["name"]: f["type"] for f in merged_fields}
        if schema_path:
            import json as _json

            from nextgenetl_spark.schemas import save_schema
            from nextgenetl_spark.staging import atomic_write

            if merged_fields is None:
                save_schema(schema_path, types)
            else:
                atomic_write(schema_path, _json.dumps({"fields": merged_fields}, indent=4))

    str_schema = T.StructType([T.StructField(h, T.StringType(), True) for h in headers])
    df = (
        spark.read.options(sep=sep, header=False, nullValue=null_marker)
        .schema(str_schema)
        .csv(path)
    )
    where = None
    if skip_leading_rows:
        # drop the header row(s) by value, not position: distributed reads
        # have no row order. Header rows are exactly the rows equal to the
        # raw header tuple.
        header_pred = " AND ".join(
            f"{sql_ident(h)} = {sql_string(raw)}" for h, raw in zip(headers, raw_headers)
        )
        where = f"NOT coalesce({header_pred}, false)"
    cols = []
    for h in headers:
        e = normalize_value_sql(sql_ident(h)) if normalize else sql_ident(h)
        cols.append(f"{cast_sql(e, types[h])} AS {sql_ident(h)}")
    return select_sql(df, cols, where)


def cast_sql(expr: str, bq_type: str) -> str:
    """SQL text casting the string expression ``expr`` to ``bq_type``."""
    if bq_type == "INT64":
        # trivial-float collapse ('42.0' → 42), mirroring normalize_value:
        # a direct string→long cast rejects the decimal point
        return f"CAST(CAST({expr} AS double) AS long)"
    return f"CAST({expr} AS {_CAST[bq_type]})"
