"""Property-based tests (hypothesis) for the inference engine — invariants
the example tables in test_inference.py can't cover exhaustively. The
reference has no property testing (SURVEY.md §5); these pin algebraic laws
of the type lattice and normalizer that any refactor must preserve."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from nextgenetl_spark.inference import (
    check_value_type,
    dedupe_headers,
    make_name_bq_friendly,
    normalize_value,
    resolve_type_conflict,
)

SCALAR_TYPES = ["STRING", "INT64", "FLOAT64", "NUMERIC", "BOOL", "DATE", "TIME", "TIMESTAMP", "DATETIME"]
type_sets = st.sets(st.sampled_from(SCALAR_TYPES), min_size=1, max_size=5)
field_names = st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=12)


@given(field_names, type_sets)
@settings(max_examples=300, deadline=None)
def test_resolve_conflict_total_and_deterministic(field, types):
    """The lattice is total over scalar-type sets and pure."""
    out = resolve_type_conflict(field, set(types))
    assert out in SCALAR_TYPES
    assert resolve_type_conflict(field, set(types)) == out


@given(field_names, type_sets)
@settings(max_examples=300, deadline=None)
def test_resolve_conflict_order_insensitive(field, types):
    """Result must not depend on set iteration order (the reference iterates
    a Python set — a real hazard its own tests never caught)."""
    as_list = sorted(types)
    assert resolve_type_conflict(field, set(as_list)) == resolve_type_conflict(field, set(reversed(as_list)))


@given(type_sets)
@settings(max_examples=200, deadline=None)
def test_id_fields_always_string(types):
    assert resolve_type_conflict("case_id", set(types)) == "STRING"


@given(st.sets(st.sampled_from(SCALAR_TYPES), min_size=1, max_size=3))
@settings(max_examples=200, deadline=None)
def test_string_member_absorbs(types):
    assert resolve_type_conflict("f", set(types) | {"STRING"}) == "STRING"


@given(st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_normalize_idempotent_on_strings(s):
    """normalize(normalize(x)) == normalize(x) — ingest may be re-run."""
    once = normalize_value(s)
    assert normalize_value(once) == once


@given(st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_checked_type_is_stable_under_normalize(s):
    """A normalized value never maps to a *different* non-null scalar family
    in a way that breaks loading: the checked type of the normalized value is
    the type the schema will carry."""
    n = normalize_value(s)
    if n is not None:
        t = check_value_type(n) or "STRING"
        assert t in SCALAR_TYPES + ["ARRAY", "RECORD"]


@given(st.lists(st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6), min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_dedupe_headers_unique_and_prefix_preserving(headers):
    out = dedupe_headers(headers)
    assert len(out) == len(headers)
    assert len(set(out)) == len(out)
    for orig, new in zip(headers, out):
        assert new == orig or new.startswith(orig + "_")


@given(st.text(min_size=1, max_size=40))
@settings(max_examples=300, deadline=None)
def test_bq_friendly_names_are_legal(name):
    out = make_name_bq_friendly(name)
    assert len(out) <= 300
    assert all(c.isalnum() or c == "_" for c in out)


# --- round-2 additions: schema JSON round-trip + pipeline SQL templating ---

from hypothesis import given, settings
from hypothesis import strategies as st


_scalar_types = st.sampled_from(
    ["STRING", "INT64", "FLOAT64", "BOOL", "DATE", "TIMESTAMP", "NUMERIC"]
)
_names = st.from_regex(r"[a-z][a-z0-9_]{0,15}", fullmatch=True)


def _field(depth):
    scalar = st.fixed_dictionaries(
        {"name": _names, "type": _scalar_types, "mode": st.sampled_from(["NULLABLE", "REPEATED"])}
    )
    if depth <= 0:
        return scalar
    record = st.fixed_dictionaries(
        {
            "name": _names,
            "type": st.just("RECORD"),
            "mode": st.sampled_from(["NULLABLE", "REPEATED"]),
            "fields": st.lists(_field(depth - 1), min_size=1, max_size=3, unique_by=lambda f: f["name"]),
        }
    )
    return st.one_of(scalar, record)


@given(st.lists(_field(2), min_size=1, max_size=6, unique_by=lambda f: f["name"]))
@settings(max_examples=80, deadline=None)
def test_schema_fields_roundtrip_property(fields):
    """fields -> StructType -> fields preserves name/type/mode structure
    (descriptions default in; TIME/DATETIME aliases excluded — documented
    canonicalization)."""
    from nextgenetl_spark.schemas import fields_to_schema, schema_to_fields

    st_ = fields_to_schema(fields)
    back = schema_to_fields(st_)

    def strip(fs):
        out = []
        for f in fs:
            e = {"name": f["name"], "type": f["type"], "mode": f.get("mode", "NULLABLE")}
            if f["type"] == "RECORD":
                e["fields"] = strip(f["fields"])
            out.append(e)
        return out

    assert strip(back) == strip(fields)


@given(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80),
    st.dictionaries(_names, st.integers(-1000, 1000), max_size=4),
)
@settings(max_examples=150, deadline=None)
def test_render_sql_only_touches_known_params(sql, params):
    """render_sql replaces exactly the {known_param} tokens; every other
    character (including stray braces) passes through verbatim."""
    import re

    from nextgenetl_spark.plans.pipeline import render_sql

    out = render_sql(sql, params)
    expect = re.sub(
        r"\{([A-Za-z_][A-Za-z0-9_]*)\}",
        lambda m: str(params[m.group(1)]) if m.group(1) in params else m.group(0),
        sql,
    )
    assert out == expect
    if not re.search(r"\{[A-Za-z_][A-Za-z0-9_]*\}", sql):
        assert out == sql  # brace-free or non-param braces: identity


# --- exact-but-lazy inference against the full-pass originals ---

from nextgenetl_spark.inference import (  # noqa: E402
    NULL_VOCAB,
    detect_object_structure,
    infer_tsv_types,
)


def _full_pass_infer_tsv_types(rows, headers, sample_interval=1):
    """The full-pass infer_tsv_types the lazy one replaced, kept verbatim
    as the oracle."""
    observed: dict = {h: set() for h in headers}
    for i, row in enumerate(rows):
        if i % sample_interval:
            continue
        for h, v in zip(headers, row):
            observed[h].add(check_value_type(normalize_value(v)))
    return {h: resolve_type_conflict(h, s) for h, s in observed.items()}


def _full_pass_detect(records, out=None):
    """The memo-free detect_object_structure, kept verbatim as the oracle."""
    out = out if out is not None else {}
    for rec in records:
        for key, raw in rec.items():
            value = normalize_value(raw)
            vtype = check_value_type(value)
            if vtype == "RECORD":
                node = out.setdefault(key, {"__record__": {}})
                _full_pass_detect([value], node["__record__"])
            elif vtype == "ARRAY":
                node = out.setdefault(key, {"__array__": {}})
                elems = [normalize_value(e) for e in value]
                if not elems:
                    continue
                if isinstance(elems[0], dict):
                    _full_pass_detect(elems, node["__array__"])
                else:
                    types = node["__array__"].setdefault("__scalar__", set())
                    for e in elems:
                        types.add(check_value_type(e))
            else:
                node = out.setdefault(key, set())
                if isinstance(node, set):
                    node.add(vtype)
    return out


_tsv_cells = st.one_of(
    st.sampled_from(list(NULL_VOCAB) + ["NA", "N/A", " None ", "Not Reported", "[UNKNOWN]"]),
    st.sampled_from(["1.0", "42.0", "-3.00", "100.000", "0.0", "2.01803E+13", "1e3"]),  # trivial floats
    st.sampled_from(["007", "0012", "00", "0"]),  # leading-zero ids
    st.sampled_from(["2020-01-02", "1999-12-31", "2021-2-3"]),  # dates
    st.sampled_from(["2020-01-02 03:04:05", "2020-01-02T03:04:05.123456", "12:30:00"]),  # timestamps
    st.sampled_from(["yes", "No", "TRUE", "false", "y", "off", "1"]),
    st.integers(-(10**6), 10**6).map(str),
    st.floats(allow_nan=True, allow_infinity=True).map(str),
    st.text(max_size=6),
)
_tsv_headers = st.lists(st.sampled_from(["a", "b", "x", "case_id", "b_id_c", "n", "a"]), min_size=1, max_size=6)


@st.composite
def _tsv_samples(draw):
    headers = draw(_tsv_headers)
    width = len(headers)
    # ragged rows: short rows miss trailing cells, long rows carry extras
    rows = draw(st.lists(st.lists(_tsv_cells, max_size=width + 1), max_size=30))
    return headers, rows


@given(_tsv_samples(), st.sampled_from([1, 2, 3, 7]))
@settings(max_examples=400, deadline=None, derandomize=True)
def test_lazy_infer_tsv_types_equals_full_pass(sample, sample_interval):
    """Skipping `_id` columns, checking each distinct cell once and stopping
    at the first STRING give exactly the full pass's types."""
    headers, rows = sample
    got = infer_tsv_types(rows, headers, sample_interval=sample_interval)
    assert got == _full_pass_infer_tsv_types(rows, headers, sample_interval=sample_interval)
    assert list(got) == list(dict.fromkeys(headers))


_json_scalars = st.sampled_from([True, 1, False, 0, 1.0, "1", "yes", "x", None, "NA", 2.5, "007", ""])
_json_values = st.recursive(
    _json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(st.sampled_from(["p", "q"]), inner, max_size=2),
    ),
    max_leaves=8,
)


@given(st.lists(st.dictionaries(st.sampled_from(["f", "g"]), _json_values, max_size=2), min_size=2, max_size=12))
@settings(max_examples=300, deadline=None, derandomize=True)
def test_memoized_detect_object_structure_equals_full_pass(records):
    """Skipping scalars already seen at the same node leaves the structure
    exactly as the full pass builds it (or fails the same way)."""
    try:
        want = _full_pass_detect(records)
    except Exception as exc:  # a record/scalar clash on one key
        try:
            detect_object_structure(records)
        except type(exc):
            return
        raise AssertionError(f"full pass raised {exc!r}, memoized pass did not")
    assert detect_object_structure(records) == want


def test_detect_object_structure_keeps_true_and_one_apart():
    """True == 1 in Python, so a memo keyed on the value alone would drop
    whichever came second; keyed on (type, value) both are recorded."""
    recs = [{"f": True, "r": {"g": 1}}, {"f": 1, "r": {"g": True}}, {"f": True}, {"f": 1.0}]
    got = detect_object_structure(recs)
    assert got["f"] == {"BOOL", "INT64"}
    assert got["r"]["__record__"]["g"] == {"BOOL", "INT64"}
    assert got == _full_pass_detect(recs)
