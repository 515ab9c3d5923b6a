"""Value normalization, type inference, and schema generation.

Behavioral reimplementation (from observed semantics, not code) of the
reference's ingest-side type system — SURVEY.md §1.2-1.3. Authoritative
variant is cda_bq_etl (the maintained one):

- ``normalize_value``        reference: cda_bq_etl/data_helpers.py:447-486
- ``is_int_like``            reference: cda_bq_etl/data_helpers.py:391-445
- ``check_value_type``       reference: cda_bq_etl/data_helpers.py:581-715
- ``resolve_type_conflict``  reference: cda_bq_etl/data_helpers.py:298-388
  (common_etl/utils.py:1219-1306 is byte-for-byte the same lattice)
- structure detection        reference: cda_bq_etl/data_helpers.py:109-162
- schema emission            reference: cda_bq_etl/bq_helpers/schema.py:274-333

NOTE: the reference's own tests/common_etl/test_utils.py is stale — it
expects '1'→BOOL, '2.01803E+13'→FLOAT64, and BOOL+INT64→TypeError, none of
which the live code does ('1'→INT64 via the is-integral check; integral
sci-notation→INT64; {BOOL,INT64}→INT64). We implement the live behavior and
pin it in tests/test_inference.py.

Types use the reference's vocabulary (STRING/INT64/FLOAT64/NUMERIC/BOOL/
DATE/TIME/TIMESTAMP/DATETIME/ARRAY/RECORD), mapped to Spark types at the
edge so the conflict lattice stays oracle-comparable.

This is a driver-side sampling pass over a bounded sample of python records
(every-Nth TSV row, or all records for JSON); the resulting StructType is
then applied to ``spark.read`` — which is where scale happens.
"""

from __future__ import annotations

import datetime
import itertools
import math
import re
from typing import Any

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Value normalization
# ---------------------------------------------------------------------------

NULL_VOCAB = (
    "na", "n/a", "none", "", "--", "-", "null", "not reported", "unknown",
    "[not available]", "[not applicable]", "[unknown]", ".",
)

_BOOL_TRUE = ("y", "yes", "t", "true", "on", "1")
_BOOL_FALSE = ("n", "no", "f", "false", "off", "0")


def _is_floatable(value: Any) -> bool:
    try:
        float(value)
    except (ValueError, TypeError):
        return False
    return True


def _leading_zero_id(value: Any) -> bool:
    """A digit string with a leading zero (no ':', '-', '.') is an id like
    '007' — must stay STRING or data is lost."""
    s = str(value)
    return s.startswith("0") and len(s) > 1 and ":" not in s and "-" not in s and "." not in s


def is_int_like(value: Any) -> bool:
    """True when the value is safely castable to int: not bool, not a
    leading-zero id, numerically integral (1.0, '100.0', '-5'), not NaN."""
    if value is True or value is False:
        return False
    if _leading_zero_id(value):
        return False
    if _is_floatable(value):
        try:
            f = float(value)
            if math.isnan(f) or f != int(f):
                return False
            return True
        except OverflowError:
            return False
    try:
        int(value)
        return True
    except (ValueError, TypeError):
        return False


def normalize_value(value: Any, is_tsv: bool = False) -> Any:
    """Null vocabulary → None (or '' for TSV output); yes/no/true/false →
    the STRINGS 'True'/'False' (the type checker later reads them as BOOL);
    integral numerics (100.0, '100.0') → int."""
    if value is None:
        return None
    if isinstance(value, (dict, list)):
        # never int-like: skips is_int_like's str() of the whole subtree
        return value
    if isinstance(value, str):
        value = value.strip()
        low = value.lower()
        if low in NULL_VOCAB:
            return "" if is_tsv else None
        if low in ("false", "no"):
            return "False"
        if low in ("true", "yes"):
            return "True"
    if is_int_like(value):
        try:
            return int(float(value))
        except OverflowError:
            # mirrors the reference: an int too large for float stays None
            return None
    return value


# ---------------------------------------------------------------------------
# Type detection (single value → BQ type name)
# ---------------------------------------------------------------------------

# BigQuery canonical date/time shapes (same families the reference accepts).
_DATE_RE = re.compile(r"[0-9]{4}-(0[1-9]|1[0-2]|[0-9])-(0[1-9]|[1-2][0-9]|[3][0-1]|[1-9])")
_TIME_RE = re.compile(r"([0-1][0-9]|[2][0-3]|[0-9]):([0-5][0-9]|[0-9]):([0-5][0-9]|[0-9])(\.[0-9]{1,6})?")
_TS_RE = re.compile(_DATE_RE.pattern + r"( |T)" + _TIME_RE.pattern + r"([ \-:A-Za-z0-9]*)")


def check_value_type(value: Any) -> str | None:
    """BQ-vocabulary type of one (normalized) value. Live-code behavior:
    '000'→STRING, '0.0'→INT64, '1'→INT64, integral sci-notation→INT64,
    'NaN'/'inf'→FLOAT64, dates/times/timestamps by canonical shape,
    python bool/list/dict/datetime mapped directly; empty-ish → None."""
    if isinstance(value, bool):
        return "BOOL"
    if _is_floatable(value):
        try:
            if _leading_zero_id(value):
                return "STRING"
            f = float(value)
            if math.isnan(f):
                return "FLOAT64"
            if f == int(f):
                return "INT64"
        except OverflowError:
            pass
    if isinstance(value, float):
        return "FLOAT64"
    if value != value:  # NaN-like objects
        return "FLOAT64"
    if isinstance(value, list):
        return "ARRAY"
    if isinstance(value, dict):
        return "RECORD"
    if not value:
        return None
    if isinstance(value, datetime.datetime):
        return "TIMESTAMP"
    if isinstance(value, datetime.date):
        return "DATE"
    if isinstance(value, datetime.time):
        return "TIME"
    if not isinstance(value, str):
        return "STRING"

    # numeric-looking strings with a decimal point (non-integral handled here;
    # integral ones already returned INT64 above)
    if "." in value and ":" not in value and "E+" not in value and "E-" not in value:
        try:
            int(value)
            return "INT64"
        except ValueError:
            try:
                float(value)
                frac = int(value.split(".")[1])
                return "INT64" if not frac else "FLOAT64"
            except ValueError:
                return "STRING"
    elif value.isnumeric() and not value.isdigit() and not value.isdecimal():
        # unicode numerics with special encoding (exponents, fractions)
        return "NUMERIC"

    if value.count("-") > 3:
        return "STRING"

    if value.count("-") >= 2 or value.count(":") == 2:
        if _DATE_RE.fullmatch(value):
            return "DATE"
        if _TIME_RE.fullmatch(value):
            return "TIME"
        if _TS_RE.fullmatch(value):
            return "TIMESTAMP"
        return "STRING"

    low = value.strip().lower()
    if low in _BOOL_TRUE or low in _BOOL_FALSE:
        return "BOOL"

    try:
        int(value)
        return "INT64"
    except ValueError:
        try:
            float(value)
            return "FLOAT64"
        except ValueError:
            return "STRING"


# ---------------------------------------------------------------------------
# Conflict resolution lattice
# ---------------------------------------------------------------------------

_DATETIME_FAMILY = {"TIMESTAMP", "DATE", "TIME"}
_NUMBER_FAMILY = {"INT64", "FLOAT64", "NUMERIC"}


def resolve_type_conflict(field: str, types_set: set) -> str:
    """Collapse observed types for one field — the reference lattice:
    ``_id`` fields → STRING; ∅ → STRING; singleton → itself; ARRAY/RECORD in
    a conflict → TypeError; STRING wins; exactly {INT64,BOOL} → INT64
    (1/0 read as bool); datetime×number → STRING; TIME in a datetime mix →
    STRING else → DATETIME; FLOAT64 > NUMERIC > INT64; leftovers → STRING."""
    types_set = set(types_set) - {None}
    if "_id" in field:
        return "STRING"
    if not types_set:
        return "STRING"
    if len(types_set) == 1:
        return next(iter(types_set))
    if "ARRAY" in types_set or "RECORD" in types_set:
        raise TypeError(f"Invalid datatype combination for {field}: {types_set}")
    if "STRING" in types_set:
        return "STRING"
    if types_set == {"INT64", "BOOL"}:
        return "INT64"
    has_dt = bool(types_set & _DATETIME_FAMILY)
    has_num = bool(types_set & _NUMBER_FAMILY)
    if has_dt and has_num:
        return "STRING"
    if has_dt:
        return "STRING" if "TIME" in types_set else "DATETIME"
    if has_num:
        if "FLOAT64" in types_set:
            return "FLOAT64"
        if "NUMERIC" in types_set:
            return "NUMERIC"
    return "STRING"


# ---------------------------------------------------------------------------
# Structure detection over record collections
# ---------------------------------------------------------------------------

def detect_object_structure(records: list, out: dict | None = None, _seen: dict | None = None) -> dict:
    """Union-of-fields recursive structure over ALL records (field sets vary
    per record; JSON inference must be full-pass, not sampled). Result nodes:
    scalar field → set of type names; nested dict → {'__record__': sub};
    list field → {'__array__': sub-or-{'__scalar__': set}}.

    A scalar already seen at the same node adds nothing, so it is checked
    once. The memo key carries the type because ``True == 1`` in Python
    while the two check as BOOL and INT64."""
    out = out if out is not None else {}
    seen = _seen if _seen is not None else {}
    for rec in records:
        for key, raw in rec.items():
            node_seen = seen.setdefault((id(out), key), set())
            try:
                if (type(raw), raw) in node_seen:
                    continue
                node_seen.add((type(raw), raw))
            except TypeError:
                pass  # unhashable (dict/list) values are always walked
            value = normalize_value(raw)
            vtype = check_value_type(value)
            if vtype == "RECORD":
                node = out.setdefault(key, {"__record__": {}})
                detect_object_structure([value], node["__record__"], seen)
            elif vtype == "ARRAY":
                node = out.setdefault(key, {"__array__": {}})
                elems = [normalize_value(e) for e in value]
                if not elems:
                    # an empty array says nothing about element type — never
                    # let it downgrade a record-array to scalar
                    continue
                if isinstance(elems[0], dict):
                    detect_object_structure(elems, node["__array__"], seen)
                else:
                    types = node["__array__"].setdefault("__scalar__", set())
                    for e in elems:
                        types.add(check_value_type(e))
            else:
                node = out.setdefault(key, set())
                if isinstance(node, set):
                    node.add(vtype)
    return out


BQ_TO_SPARK = {
    "STRING": T.StringType(),
    "INT64": T.LongType(),
    "FLOAT64": T.DoubleType(),
    "NUMERIC": T.DecimalType(38, 9),
    "BOOL": T.BooleanType(),
    "DATE": T.DateType(),
    "TIME": T.StringType(),  # Spark has no TimeType — documented divergence
    "TIMESTAMP": T.TimestampType(),
    "DATETIME": T.TimestampType(),
}


def structure_to_schema(structure: dict) -> T.StructType:
    """Resolve per-field type sets through the lattice → StructType
    (RECORD → StructType, list → ArrayType)."""
    fields = []
    for name, node in sorted(structure.items()):
        if isinstance(node, set):
            fields.append(T.StructField(name, BQ_TO_SPARK[resolve_type_conflict(name, node)], True))
        elif "__record__" in node:
            fields.append(T.StructField(name, structure_to_schema(node["__record__"]), True))
        elif "__array__" in node:
            sub = node["__array__"]
            if "__scalar__" in sub:
                elem = BQ_TO_SPARK[resolve_type_conflict(name, sub["__scalar__"])]
            elif not sub:
                elem = T.StringType()  # only empty arrays observed
            else:
                elem = structure_to_schema(sub)
            fields.append(T.StructField(name, T.ArrayType(elem, True), True))
    return T.StructType(fields)


def infer_schema(records: list) -> T.StructType:
    """records → normalized structure → conflict-resolved StructType."""
    return structure_to_schema(detect_object_structure(records))


def infer_tsv_types(rows: list, headers: list, sample_interval: int = 1) -> dict:
    """Per-column resolved type over every Nth row of pre-split TSV rows
    (reference: data_helpers.py:220-277 — sampled inference for flat files,
    unlike full-pass JSON).

    Exact but lazy: the lattice maps an ``_id`` column to STRING whatever
    its values; each distinct cell is checked once per column; and a column
    stops at its first STRING. A string cell normalizes to a str, int or
    None, whose checked type is never ARRAY or RECORD, so STRING absorbs
    every other type the column could still see."""
    sampled = [row for i, row in enumerate(rows) if not i % sample_interval]
    distinct: dict = {h: set() for h in headers}
    # short rows pad with None, which checks as no type, like a missing cell
    for h, column in zip(headers, itertools.zip_longest(*sampled)):
        distinct[h].update(column)
    out = {}
    for h, values in distinct.items():
        observed: set = set()
        if "_id" not in h:
            for v in values:
                t = check_value_type(normalize_value(v))
                observed.add(t)
                if t == "STRING":
                    break
        out[h] = resolve_type_conflict(h, observed)
    return out


# ---------------------------------------------------------------------------
# Header sanitization (ingest edge)
# ---------------------------------------------------------------------------

_BQ_NAME_RE = re.compile(r"[^a-zA-Z0-9_]")


def make_name_bq_friendly(name: str) -> str:
    """Non-alphanumeric → '_', 300-char cap (reference:
    cda_bq_etl/utils.py:140-155)."""
    return _BQ_NAME_RE.sub("_", name.strip())[:300]


def dedupe_headers(headers: list) -> list:
    """``a,a → a,a_1`` duplicate-header disambiguation (reference:
    data_helpers.py:498-518)."""
    seen: dict = {}
    out = []
    for h in headers:
        if h in seen:
            seen[h] += 1
            out.append(f"{h}_{seen[h]}")
        else:
            seen[h] = 0
            out.append(h)
    return out
