"""Tools share the engine's session and its one profiler."""

from __future__ import annotations

import glob
import os
from pathlib import Path

from tests.conftest import SF_T2

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


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
