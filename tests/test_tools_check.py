"""Property tests for the oracle-compare harness itself (tools/check.py).

The harness canonicalizes values before hashing so two engines' physically
different-but-equal results compare equal; a bug HERE would masquerade as an
engine bug (or worse, mask one). Pin the invariants:

- float/int cross-engine parity: DuckDB returns BIGINT where Spark returns
  DOUBLE (and vice versa) for the same logical value; integral floats below
  the 1e15 double-exactness boundary must canonicalize to the int string.
- negative zero, NaN, None, bool-vs-int are all distinguished or unified
  exactly as intended.
- table_hash is row-order- and column-order-insensitive (the driver sorts
  columns by name) but sensitive to any value change.
"""

from __future__ import annotations

import math
import os
import random
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check import canon, table_hash


# ---------- canon ----------

def test_canon_scalars():
    assert canon(None) == "NULL"
    assert canon(True) == "True" and canon(False) == "False"
    assert canon(1) == "1"
    assert canon(2.0) == "2"            # DOUBLE 2.0 == BIGINT 2 cross-engine
    assert canon(-0.0) == "0"           # negative zero unifies with zero
    assert canon(float("nan")) == "NaN"
    assert canon("x") == "x"


def test_canon_1e15_boundary():
    # below the boundary: integral doubles are exact → int string
    assert canon(float(10**15 - 2)) == str(10**15 - 2)
    # at/above: doubles can't represent every integer → repr path, and the
    # oracle side must CAST to the same float type (documented contract)
    assert canon(1e15) == repr(1e15)
    assert canon(-1e15) == repr(-1e15)
    # non-integral floats keep full repr precision
    assert canon(0.1) == repr(0.1)


def test_canon_bool_is_not_int():
    # Spark BooleanType vs a 0/1 BIGINT must NOT collide
    assert canon(True) != canon(1)
    assert canon(False) != canon(0)


@given(st.integers(min_value=-(10**14), max_value=10**14))
def test_canon_integral_float_equals_int(n):
    assert canon(float(n)) == canon(n) == str(n)


@given(st.floats(allow_nan=True, allow_infinity=True))
def test_canon_float_total(v):
    # canon never raises and is deterministic on ANY double
    assert canon(v) == canon(v)
    if math.isnan(v):
        assert canon(v) == "NaN"


@given(st.floats(allow_nan=False, allow_infinity=False), st.floats(allow_nan=False, allow_infinity=False))
def test_canon_injective_on_reals(a, b):
    # two different doubles never canonicalize to the same string unless
    # they are equal as numbers (repr round-trips; int path only fires for
    # exactly-integral values below 1e15, where str(int(v)) is lossless)
    if canon(a) == canon(b):
        assert a == b


# ---------- table_hash ----------

ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-1000, 1000), st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=8)),
        st.one_of(st.none(), st.integers(-1000, 1000), st.text(max_size=8)),
        st.one_of(st.none(), st.booleans(), st.floats(allow_nan=False, allow_infinity=False)),
    ),
    min_size=0,
    max_size=30,
)


@given(ROWS, st.randoms(use_true_random=False))
@settings(max_examples=60)
def test_table_hash_row_order_insensitive(rows, rnd):
    cols = ["b_col", "a_col", "c_col"]
    shuffled = list(rows)
    rnd.shuffle(shuffled)
    assert table_hash(rows, cols) == table_hash(shuffled, cols)


@given(ROWS)
@settings(max_examples=60)
def test_table_hash_column_order_insensitive(rows):
    # the same table presented with a different physical column order
    # (cols list permuted WITH the row tuples) hashes identically —
    # this is why Spark/DuckDB SELECT order never matters
    cols = ["b_col", "a_col", "c_col"]
    perm = [2, 0, 1]
    pcols = [cols[i] for i in perm]
    prows = [tuple(r[i] for i in perm) for r in rows]
    assert table_hash(rows, cols) == table_hash(prows, pcols)


@given(ROWS, st.integers(0, 10**6))
@settings(max_examples=60)
def test_table_hash_value_sensitive(rows, salt):
    cols = ["b_col", "a_col", "c_col"]
    if not rows:
        return
    mutated = list(rows)
    r = list(mutated[salt % len(rows)])
    old = r[0]
    r[0] = f"mut_{salt}" if old != f"mut_{salt}" else f"mut2_{salt}"
    mutated[salt % len(rows)] = tuple(r)
    # a changed value changes the hash unless an identical row already
    # exists elsewhere making the multiset equal (possible only if the
    # mutated row collides with an existing row — excluded by the fresh token)
    assert table_hash(rows, cols) != table_hash(mutated, cols)


def test_table_hash_cross_engine_float_int():
    # the exact scenario the harness exists for: DuckDB BIGINT column vs
    # Spark DOUBLE column with equal logical values
    cols = ["k", "v"]
    duck = [(1, 10), (2, 20)]
    spark = [(1.0, 10.0), (2.0, 20.0)]
    assert table_hash(duck, cols) == table_hash(spark, cols)


def test_table_hash_nan_in_nested_array_stable():
    # nested arrays stringify; NaN inside a list uses Python repr on both
    # sides (both engines hand back Python lists) — stable, not a crash
    cols = ["arr"]
    rows = [([1.0, float("nan")],)]
    assert table_hash(rows, cols) == table_hash(list(rows), cols)


def test_table_hash_multiset_not_set():
    # duplicate rows must count: {r, r} != {r}
    cols = ["x"]
    assert table_hash([(1,), (1,)], cols) != table_hash([(1,)], cols)
