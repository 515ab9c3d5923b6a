"""Schema persistence + curated-schema overlay (reference parity).

The reference serializes inferred schemas as ``{"fields": [...]}`` JSON next
to the data and reloads them at table-creation time
(cda_bq_etl/bq_helpers/schema.py:85-187 create_and_upload_schema_for_json /
retrieve_bq_schema_object), and merges a hand-curated schema repo over
inferred types (common_etl/support.py:1161-1290 build_combined_schema and
create_schema_hold_list). Spark counterpart: StructType ↔ that JSON shape
round-tripped through a file, plus both curated-merge policies.

Field dict shape (the reference's BQ SchemaField JSON): ``name``, ``type``
(BQ vocabulary), ``mode`` (NULLABLE | REPEATED), ``description``, and nested
``fields`` for RECORD types.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from nextgenetl_spark.inference import BQ_TO_SPARK

# Reverse of BQ_TO_SPARK. Two BQ types alias the same Spark type
# (TIME→string, DATETIME→timestamp); round-trips canonicalize those to
# STRING/TIMESTAMP — the same documented divergence as inference.BQ_TO_SPARK.
_SPARK_TO_BQ = {
    T.StringType(): "STRING",
    T.LongType(): "INT64",
    T.IntegerType(): "INT64",
    T.DoubleType(): "FLOAT64",
    T.FloatType(): "FLOAT64",
    T.DecimalType(38, 9): "NUMERIC",
    T.BooleanType(): "BOOL",
    T.DateType(): "DATE",
    T.TimestampType(): "TIMESTAMP",
    # Atomic types outside the reference's inference lattice but perfectly
    # CSV-writable: map best-effort so an export sidecar never crashes a
    # step whose CSV already landed (round-4 ADVICE). NTZ → DATETIME is
    # BQ's zone-less type and reloads as TimestampType via BQ_TO_SPARK.
    T.TimestampNTZType(): "DATETIME",
    T.ShortType(): "INT64",
    T.ByteType(): "INT64",
}

NO_DESC = "No description"  # the reference's placeholder, verbatim


def schema_to_fields(schema: T.StructType, descriptions: dict | None = None) -> list[dict]:
    """StructType → reference-shaped field dicts (recursive for RECORD)."""
    descriptions = descriptions or {}
    out = []
    for f in schema.fields:
        dt, mode = f.dataType, "NULLABLE"
        if isinstance(dt, T.ArrayType):
            dt, mode = dt.elementType, "REPEATED"
        entry = {
            "name": f.name,
            "mode": mode,
            "description": descriptions.get(f.name, NO_DESC),
        }
        if isinstance(dt, T.StructType):
            entry["type"] = "RECORD"
            sub = descriptions.get(f.name)
            entry["fields"] = schema_to_fields(dt, sub if isinstance(sub, dict) else None)
            entry["description"] = NO_DESC if isinstance(sub, dict) else entry["description"]
        elif isinstance(dt, T.DecimalType):
            entry["type"] = "NUMERIC"
        else:
            # Unknown atomic types (BinaryType, future additions) degrade to
            # STRING rather than raising — the sidecar is metadata and must
            # not fail an export whose data file already wrote successfully.
            entry["type"] = _SPARK_TO_BQ.get(dt, "STRING")
        out.append(entry)
    return out


def fields_to_schema(fields: list[dict]) -> T.StructType:
    """Reference-shaped field dicts → StructType (recursive for RECORD)."""
    cols = []
    for f in fields:
        if f["type"] == "RECORD":
            dt: T.DataType = fields_to_schema(f["fields"])
        else:
            dt = BQ_TO_SPARK[f["type"]]
        if f.get("mode") == "REPEATED":
            dt = T.ArrayType(dt, True)
        cols.append(T.StructField(f["name"], dt, True))
    return T.StructType(cols)


def save_schema(path: str, schema: T.StructType | dict, descriptions: dict | None = None) -> str:
    """Persist a schema (StructType, or a flat {name: BQ-type} dict from
    infer_tsv_types) as the reference's ``{"fields": [...]}`` JSON.
    Atomic write so concurrent pipeline steps never read a torn file."""
    if isinstance(schema, dict):
        descriptions = descriptions or {}
        fields = [
            {"name": n, "type": t, "mode": "NULLABLE",
             "description": descriptions.get(n, NO_DESC)}
            for n, t in schema.items()
        ]
    else:
        fields = schema_to_fields(schema, descriptions)
    from nextgenetl_spark.staging import atomic_write

    return atomic_write(path, json.dumps({"fields": fields}, indent=4))


def load_schema_fields(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)["fields"]


def load_schema(path: str) -> T.StructType:
    """Reload a persisted schema as a StructType."""
    return fields_to_schema(load_schema_fields(path))


def load_schema_types(path: str) -> dict[str, str]:
    """Reload a persisted FLAT schema as {name: BQ-type} (the
    infer_tsv_types shape used by the TSV cast pipeline)."""
    out = {}
    for f in load_schema_fields(path):
        if f["type"] == "RECORD" or f.get("mode") == "REPEATED":
            raise ValueError(f"{path}: field '{f['name']}' is nested; TSV schemas are flat")
        out[f["name"]] = f["type"]
    return out


def merge_curated(
    inferred: dict[str, str],
    curated: list[dict] | dict[str, dict],
    prefer_curated_types: bool = False,
) -> list[dict]:
    """Overlay a hand-curated schema repo on inferred types.

    Mirrors the reference's two policies:
    - ``prefer_curated_types=False`` — build_combined_schema
      (common_etl/support.py:1198-1211): the INFERRED type wins, the curated
      entry contributes its description (and any extra keys).
    - ``prefer_curated_types=True`` — create_schema_hold_list static mode
      (common_etl/support.py:1251-1287): the CURATED type wins unless the
      curated entry carries a non-empty ``exception``, in which case the
      inferred (dynamic) type stands.

    Fields with no curated entry get the reference's literal
    "No description". Returns reference-shaped field dicts ready for
    save_schema / fields_to_schema."""
    by_name = (
        {e["name"]: e for e in curated} if isinstance(curated, list) else dict(curated)
    )
    out = []
    for name, inferred_type in inferred.items():
        cur = by_name.get(name)
        if cur is None:
            out.append({"name": name, "type": inferred_type, "mode": "NULLABLE",
                        "description": NO_DESC})
            continue
        if prefer_curated_types and not cur.get("exception"):
            use_type = cur.get("type", inferred_type)
        else:
            use_type = inferred_type
        entry = {k: v for k, v in cur.items() if k not in ("exception",)}
        entry.update(
            name=name, type=use_type, mode=cur.get("mode", "NULLABLE"),
            description=cur.get("description") or NO_DESC,
        )
        out.append(entry)
    return out
