"""JSONL ingestion (S2): newline-delimited JSON → DataFrame with an
explicit or reference-inferred schema.

Reference: common_etl/utils.py:631-653 create_and_load_table_from_jsonl;
schema inference is a FULL-pass union of fields across records
(data_helpers.py:109-162) because field sets vary per record — sampling
would drop rare fields. For bounded driver memory on big files, inference
here reads up to ``max_infer_records`` (full pass by default for parity;
cap it at scale and pass an explicit schema for the 100 TB path).
The pass is exact but lazy: a scalar already seen at the same field is not
checked again (``inference.detect_object_structure``). The load normalizes
every top-level string field in one parsed SQL select
(``functions.text.select_sql``), with backtick-quoted names, so keys with
dots, spaces or backticks stay single top-level columns.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nextgenetl_spark.functions.text import normalize_value_sql, select_sql, sql_ident
from nextgenetl_spark.inference import infer_schema, normalize_value


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_infer_records: int | None = None,
    schema_path: str | None = None,
    corrupt_mode: str = "permissive",
) -> DataFrame:
    """Load JSONL with reference-rule schema inference (not Spark's) and
    reference-rule value normalization (data_helpers.py:560-578
    normalize_flat_json_values): inference runs over NORMALIZED records (so
    'yes'/'1.0'/null-vocab drive the lattice as in the reference), and the
    distributed load applies the normalization expression to string columns
    (the null vocabulary → NULL) — scan-stage, no Python in the row loop.

    ``schema_path``: persisted-schema round-trip (reference
    cda_bq_etl/bq_helpers/schema.py:85-187) — reload the JSON schema if the
    file exists (skipping the inference pass entirely), else infer and
    persist it there.

    ``corrupt_mode`` — malformed-line policy for the distributed load:
    'permissive' (default, Spark's: bad lines become all-NULL rows),
    'fail' (FAILFAST — first bad line aborts the job),
    'skip' (DROPMALFORMED — bad lines silently dropped),
    'quarantine' (bad lines kept with their raw text in a
    ``_corrupt_record`` column so the caller can split good/bad into
    separate sinks — the audit-friendly option for a 100 TB ingest where
    a silent drop is unacceptable). The driver-side inference pass applies
    the same policy (raises only under 'fail')."""
    import os

    if schema is None and schema_path and os.path.exists(schema_path):
        from nextgenetl_spark.schemas import load_schema

        schema = load_schema(schema_path)
    if schema is None:
        records = []
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh):
                if max_infer_records is not None and i >= max_infer_records:
                    break
                line = line.strip()
                if line:
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        if corrupt_mode == "fail":
                            raise
                        continue  # skipped/quarantined lines don't drive inference
                    records.append({k: normalize_value(v) for k, v in rec.items()})
        schema = infer_schema(records)
        if schema_path:
            from nextgenetl_spark.schemas import save_schema

            save_schema(schema_path, schema)
    spark_mode = {
        "permissive": "PERMISSIVE",
        "fail": "FAILFAST",
        "skip": "DROPMALFORMED",
        "quarantine": "PERMISSIVE",
    }[corrupt_mode]
    read_schema = schema
    reader = spark.read.option("mode", spark_mode)
    if corrupt_mode == "quarantine":
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
    df = reader.schema(read_schema).json(path)
    string_fields = {f.name for f in schema.fields if isinstance(f.dataType, T.StringType)}
    return select_sql(df, [
        f"{normalize_value_sql(sql_ident(f.name))} AS {sql_ident(f.name)}"
        if f.name in string_fields else sql_ident(f.name)
        for f in read_schema.fields
    ])


def records_to_df(spark: SparkSession, records: list, schema: T.StructType | None = None) -> DataFrame:
    """API-extract entry point (§3.2): list-of-dicts → normalized DataFrame
    with inferred schema — replaces the reference's JSONL-file round-trip
    (write_list_to_jsonl_and_upload → BQ load) with a direct createDataFrame."""
    normalized = [{k: normalize_value(v) for k, v in rec.items()} for rec in records]
    if schema is None:
        schema = infer_schema(normalized)

    rows = [_conform(r, schema) for r in normalized]
    return spark.createDataFrame(rows, schema)


def _conform(rec: dict | None, st: T.StructType) -> tuple | None:
    """Coerce one normalized record to the resolved schema's python shapes
    (the lattice may widen a field past its per-record type: '42' in one
    record + 'x' in another → STRING, so 42 must become '42')."""
    import datetime as _dt

    if rec is None:
        return None
    out = []
    for f in st.fields:
        v = normalize_value(rec.get(f.name))
        dt = f.dataType
        if v is None:
            out.append(None)
        elif isinstance(dt, T.StructType):
            out.append(_conform(v, dt) if isinstance(v, dict) else None)
        elif isinstance(dt, T.ArrayType):
            if not isinstance(v, list):
                out.append(None)
            elif isinstance(dt.elementType, T.StructType):
                out.append([_conform(e, dt.elementType) for e in v])
            else:
                out.append([_scalar(e, dt.elementType, _dt) for e in v])
        else:
            out.append(_scalar(v, dt, _dt))
    return tuple(out)


def _scalar(v, dt, _dt):
    if v is None:
        return None
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, T.BooleanType):
        if isinstance(v, bool):
            return v
        return str(v).strip().lower() in ("true", "yes", "1")
    if isinstance(dt, T.LongType):
        return int(float(v))
    if isinstance(dt, T.DoubleType):
        return float(v)
    if isinstance(dt, T.DecimalType):
        from decimal import Decimal

        return Decimal(str(v))
    if isinstance(dt, T.DateType):
        if isinstance(v, _dt.date):
            return v
        y, m, d = (int(p) for p in str(v).split("-"))
        return _dt.date(y, m, d)
    if isinstance(dt, T.TimestampType):
        if isinstance(v, _dt.datetime):
            return v
        return _dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    return v
