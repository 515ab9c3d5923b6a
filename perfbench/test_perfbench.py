"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import env  # noqa: E402
import gen  # noqa: E402
from spans import Span, busy, now, self_times, unstolen  # noqa: E402
from run import median_pass, tail  # noqa: E402
from workloads import FRESH_SHARE, fresh_checks, output_mismatch  # noqa: E402


def _digests(d: str) -> dict:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_sql_mix_runs_oracle_paired_headline_queries():
    from bench import HEADLINE
    from nextgenetl_spark.workloads import load_all
    from workloads import SQL_QUERIES

    registry = load_all()
    for name in SQL_QUERIES:
        assert name in HEADLINE
        w = registry[name]
        assert w.fn.__module__.rsplit(".", 1)[-1] in ("relational", "arrays", "files")
        assert w.oracle and "FROM (VALUES" not in w.oracle
    assert "wide_group_dedup_140" not in SQL_QUERIES


def test_release_inputs_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    small = dict(n_files=200, maf_rows=50, n_cases=30, genes=10, aliquots=4, k_perturbed=5)
    ra = gen.release_inputs(str(tmp_path / "a"), 7, **small)
    gen.release_inputs(str(tmp_path / "b"), 7, **small)
    gen.release_inputs(str(tmp_path / "c"), 8, **small)
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert all(a[f] != c[f] for f in a)
    # the rebuild differs from the release in exactly k keys
    keys = [open(ra[k], encoding="utf-8").read().splitlines()[1:] for k in ("f1", "f1_rebuild")]
    old, new = ({line.split("\t")[0] for line in rows} for rows in keys)
    assert len(old - new) == len(new - old) == ra["truth"]["perturbed"] == 5


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("op", 0.0, 10.0, None, 1),
        Span("a", 1.0, 3.0, 0, 1),
        Span("b", 2.0, 5.0, 0, 1),  # overlaps a: covered time is 1..5, not 2 + 3
        Span("c", 7.0, 8.0, 0, 1),
        Span("c", 8.5, 9.0, 3, 1),  # child of the first c
        Span("op", 20.0, 21.0, None, 2),  # another run
    ]
    st = self_times(spans, run=1)
    assert st["op"] == 10.0 - 4.0 - 1.0
    assert st["a"] == 2.0 and st["b"] == 3.0
    # the second "c" lies outside its parent; only the overlap is subtracted
    assert st["c"] == 1.0 + 0.5
    assert self_times(spans)["op"] == st["op"] + 1.0


def test_unstolen_weighs_stolen_time():
    # 30 CPU s ran and 5 were stolen: the wall is scaled by 30 / (30 + 2 * 5)
    assert unstolen((0.0, 100.0, 5.0), (10.0, 130.0, 10.0)) == 7.5
    assert unstolen((0.0, 0.0, 0.0), (8.0, 24.0, 12.0)) == 4.0
    # nothing stolen, or no CPU time counted at all: the wall itself
    assert unstolen((0.0, 0.0, 0.0), (3.0, 6.0, 0.0)) == 3.0
    assert unstolen((0.0, 0.0, 0.0), (3.0, 0.0, 0.0)) == 3.0
    t = now()
    assert len(t) == 3 and t[1] > 0 and t[2] >= 0


def test_busy_clips_to_the_window():
    assert busy([(0.0, 2.0), (1.0, 3.0), (5.0, 9.0)], 1.0, 6.0) == 3.0
    assert busy([], 0.0, 1.0) == 0.0


def test_tail_leaves_ten_samples_beyond():
    values = [float(v) for v in range(1, 29)]
    assert tail(values) == (18.0, 100.0 * 18 / 28)
    assert sum(v > tail(values)[0] for v in values) == 10


def test_median_pass_sums_per_op_medians():
    def p(**walls):
        return {"ops": [{"name": n, "wall": w} for n, w in walls.items()]}

    passes = [p(a=1.0, b=2.0), p(a=1.5, b=2.1), p(a=1.1, b=9.0)]
    # the pass median is 3.6 (the second pass); per op, the slow a of the
    # second pass and the slow b of the third are both dropped
    assert abs(median_pass(passes) - (1.1 + 2.1)) < 1e-12
    assert median_pass(passes[:2]) == (1.0 + 1.5) / 2 + (2.0 + 2.1) / 2


def test_output_check_catches_a_perturbed_output():
    from tools.check import table_hash

    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    expected = {"rows": 3, "cols": sorted(cols), "hash": table_hash(rows, cols)}
    assert output_mismatch(expected, ["v", "k"], [(0.5, 1), (None, 3), (1.25, 2)]) is None
    assert "hash" in output_mismatch(expected, cols, [(1, 0.5), (2, 1.26), (3, None)])
    assert "rows" in output_mismatch(expected, cols, rows[:2])
    assert "columns" in output_mismatch(expected, ["k", "w"], rows)


def _writes_fixed_path(x):
    return f"/tmp/nextgenetl_streams/{x}", (lambda: f"/tmp/nextgenetl_lake/{x}")()


def test_fixed_tmp_paths_are_rewritten_into_the_target():
    code = env._rewrite(_writes_fixed_path.__code__, env.FIXED_TMP_PREFIX, "/scratch/nextgenetl_")
    fn = type(_writes_fixed_path)(code, globals())
    assert fn("q") == ("/scratch/nextgenetl_streams/q", "/scratch/nextgenetl_lake/q")


def test_fresh_checks_cover_every_op_over_consecutive_seeds():
    ops = [f"q{i}" for i in range(10)]
    picks = [fresh_checks(ops, seed) for seed in range(41, 41 + FRESH_SHARE)]
    assert set().union(*picks) == set(ops)
    assert all(len(p) <= -(-len(ops) // FRESH_SHARE) for p in picks)
    assert fresh_checks(ops, 41) == fresh_checks(ops, 41 + FRESH_SHARE)
