"""Tools share the engine's session and its one profiler, and run on their own checkout."""

from __future__ import annotations

import glob
import os
import re
from pathlib import Path

from tests.conftest import SF_T2

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def test_tools_take_their_session_from_the_factory():
    """Every tool runs on ``session.get_spark``'s session, so its numbers
    describe the engine the bench runs. drive_plain.py is the exception on
    purpose: it mimics the external driver's plain session."""
    builders = [
        os.path.relpath(p, TOOLS)
        for p in glob.glob(os.path.join(TOOLS, "**", "*.py"), recursive=True)
        if os.path.basename(p) != "drive_plain.py" and "SparkSession.builder" in Path(p).read_text(encoding="utf-8")
    ]
    assert builders == []


def test_tools_import_their_own_checkout():
    """A tool imports the package next to it, so a copy of the repo tests
    the copy: no tool, and not bench.py, puts a literal path on sys.path or
    names the checkout's absolute path."""
    pinned = [
        os.path.relpath(p, REPO)
        for p in [*glob.glob(os.path.join(TOOLS, "**", "*.py"), recursive=True), os.path.join(REPO, "bench.py")]
        if re.search(r"sys\.path\.insert\(0, [\"']", text := Path(p).read_text(encoding="utf-8"))
        or f"{REPO}/" in text
    ]
    assert pinned == []


def test_prof_query_profiles_each_rep(spark):
    from tools.prof_query import profile

    recs = profile(spark, ["pricing_summary"], SF_T2, reps=2)
    assert [(r["query"], r["rep"]) for r in recs] == [("pricing_summary", 0), ("pricing_summary", 1)]
    for r in recs:
        assert r["wall_s"] > 0
        assert all(r[p] >= 0 for p in ("analysis", "optimization", "planning"))
        assert r["jobs"] >= 1 and r["tasks"] >= r["stages"] >= 1
        assert 0 < r["job_busy_s"] <= r["wall_s"]
        assert abs(r["job_busy_s"] + r["driver_gap_s"] - r["wall_s"]) <= 0.1 * r["wall_s"]
        assert r["codegen_compiles"] >= 0
    # the warm rep reuses every class the cold rep compiled
    assert recs[1]["codegen_compiles"] == 0


def test_bench_takes_the_min_of_profiled_reps(spark, monkeypatch):
    """bench times the Spark side through prof_query.profile: a cold and two
    warm reps, min reported; one warm rep once the cold one reaches
    REPEAT_MAX_SEC; every rep keeps its layer record."""
    import bench

    names = ["pricing_summary", "left_join_counts"]
    timings, reps = bench.spark_side(spark, names, SF_T2)
    assert list(timings) == list(reps) == names
    for name in names:
        assert [r["rep"] for r in reps[name]] == [0, 1, 2]
        assert timings[name] == round(min(r["wall_s"] for r in reps[name]), 3)
        for r in reps[name]:
            assert all(r[p] >= 0 for p in ("analysis", "optimization", "planning"))
            assert r["jobs"] >= 1 and r["tasks"] >= 1 and "driver_gap_s" in r

    monkeypatch.setattr(bench, "REPEAT_MAX_SEC", 0.0)
    _, reps = bench.spark_side(spark, names, SF_T2)
    assert {n: [r["rep"] for r in rs] for n, rs in reps.items()} == {n: [0, 1] for n in names}
