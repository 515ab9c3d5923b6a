"""Pipeline harness + diff/publish machinery tests (F8-style versioned
pair: rows added/removed/changed, re-ordered concat column, NaN in both)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nextgenetl_spark import diff as D
from nextgenetl_spark.operators.setops import symmetric_diff
from nextgenetl_spark.plans import Pipeline, load_config, publish_table
from nextgenetl_spark.plans.pipeline import _JOB_GROUP_KEYS
from tests.conftest import fuzz_examples


def _versioned_pair(spark):
    old = spark.createDataFrame(
        [("k1", "a;b", 1.0), ("k2", "x", float("nan")), ("k3", "c", 3.0), ("k4", "d", 4.0)],
        ["pk", "packed", "val"],
    )
    new = spark.createDataFrame(
        [("k1", "b;a", 1.0),            # concat re-ordered → set-equal
         ("k2", "x", float("nan")),     # NaN in both → equal (nan-tolerant)
         ("k3", "c", 99.0),             # value changed
         ("k5", "e", 5.0)],             # k4 removed, k5 added
        ["pk", "packed", "val"],
    )
    return old, new


def test_key_diff_and_counts(spark):
    old, new = _versioned_pair(spark)
    kd = D.key_diff(old, new, "pk")
    assert {r["pk"] for r in kd["removed_keys"].collect()} == {"k4"}
    assert {r["pk"] for r in kd["added_keys"].collect()} == {"k5"}
    rc = D.row_count_compare(old, new)
    assert rc == {"old": 4, "new": 4, "equal": True}


def test_column_diff_and_concat_set_compare(spark):
    old, new = _versioned_pair(spark)
    cd = D.column_diff(old, new, "pk", "val")
    changed = {(r["pk"], r["diff_side"]) for r in cd.collect() if r["pk"] in ("k3",)}
    assert ("k3", "old") in changed and ("k3", "new") in changed
    # concat column: k1 re-ordered must count as EQUAL; k4/k5 differ (one side null)
    bad = {r["pk"] for r in D.concat_column_equal(old, new, "pk", "packed").collect()}
    assert "k1" not in bad
    assert bad == {"k4", "k5"}


def test_tables_equal_nan_tolerant(spark):
    old, _ = _versioned_pair(spark)
    clone = old.select("pk", "packed", "val")
    assert D.tables_equal(old, clone) is True  # NaN==NaN under tolerance
    # Spark set-ops natively normalize NaN (divergence from BigQuery, where
    # the reference needed a special tolerant variant) — strict mode is
    # equally tolerant of NaN==NaN here:
    assert D.tables_equal(old, clone, nan_tolerant=False) is True
    _, new = _versioned_pair(spark)
    assert D.tables_equal(old, new) is False


def test_release_report_and_duplicates(spark):
    old, new = _versioned_pair(spark)
    new2 = new.withColumn("extra", F.lit(1)).drop("packed")
    rep = D.release_report(old, new2, "pk")
    assert rep["added_fields"] == ["extra"] and rep["removed_fields"] == ["packed"]
    assert rep["added_key_count"] == 1 and rep["removed_key_count"] == 1

    dup = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    assert [(r["k"], r["cnt"]) for r in D.duplicate_keys(dup, ["k"]).collect()] == [("a", 2)]


def test_pipeline_yaml_run(spark, tmp_path):
    cfg_path = tmp_path / "pipe.yaml"
    cfg_path.write_text(
        """
params:
  min_size: 10
steps:
  - name: filtered
    dest: filtered_parts
    sql: "SELECT p_partkey, p_brand, p_size FROM part_src WHERE p_size >= {min_size}"
    materialize: true
  - name: brand_counts
    dest: brand_counts
    sql: "SELECT p_brand, COUNT(*) AS n FROM filtered_parts GROUP BY p_brand"
"""
    )
    cfg = load_config(str(cfg_path))
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [(1, "B1", 5), (2, "B1", 15), (3, "B2", 20)], ["p_partkey", "p_brand", "p_size"]
    )
    pipe.register("part_src", src)
    out = pipe.run(cfg)
    assert (tmp_path / "wh" / "filtered_parts").exists()  # materialized step
    counts = {r["p_brand"]: r["n"] for r in out["brand_counts"].collect()}
    assert counts == {"B1": 1, "B2": 1}
    # resume: run only the second step against the materialized first
    pipe2 = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe2.register("filtered_parts", spark.read.parquet(str(tmp_path / "wh" / "filtered_parts")))
    out2 = pipe2.run(cfg, steps=["brand_counts"])
    assert {r["p_brand"]: r["n"] for r in out2["brand_counts"].collect()} == counts


def test_pipeline_salted_join_step(spark, tmp_path):
    """Round-5 verdict ask #8: the §4.4 skew finding (explicit salting wins
    under pathological hot keys) must be usable from the YAML harness. A
    salted_join step joins a skewed fact against a dim through the salt
    rewrite end-to-end, and its output must equal the plain join's."""
    cfg_path = tmp_path / "skew.yaml"
    cfg_path.write_text(
        """
steps:
  - name: enriched
    dest: enriched
    salted_join:
      big: facts
      small: dims
      key: k
      num_salts: 8
    materialize: true
  - name: totals
    dest: totals
    sql: "SELECT label, COUNT(*) AS n, SUM(v) AS sv FROM enriched GROUP BY label"
"""
    )
    # hot key: 900 of 1000 fact rows share k=0
    facts = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    dims = spark.createDataFrame([(i, f"L{i}") for i in range(10)], ["k", "label"])
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.register("facts", facts)
    pipe.register("dims", dims)
    out = pipe.run(load_config(str(cfg_path)))

    got = {(r["label"], r["n"], r["sv"]) for r in out["totals"].collect()}
    plain = facts.join(dims, "k").groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    want = {(r["label"], r["n"], r["sv"]) for r in plain.collect()}
    assert got == want
    # no salt plumbing leaks into the step output schema
    assert "__salt" not in out["enriched"].columns


def test_pipeline_salted_join_auto_step(spark, tmp_path):
    """The auto variant (round-11): `salted_join: {auto: true, ...}` makes
    the salt decision from CMS sketches inside the step — hot fixture
    salts, uniform fixture doesn't — and records the decision on
    pipe.skew_decisions; output equals the plain join either way."""
    facts_hot = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    facts_uni = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    dims = spark.createDataFrame([(i, f"L{i}") for i in range(100)], ["k", "label"])
    for facts, want_salt in ((facts_hot, True), (facts_uni, False)):
        pipe = Pipeline(spark, warehouse=str(tmp_path / f"wh{want_salt}"))
        pipe.register("facts", facts)
        pipe.register("dims", dims)
        out = pipe.run_step(
            {"name": "e", "dest": "e",
             "salted_join": {"big": "facts", "small": "dims", "key": "k",
                             "auto": True, "num_salts": 8}}
        )
        assert pipe.skew_decisions["e"]["salt"] is want_salt
        got = sorted(map(tuple, out.collect()))
        want = sorted(map(tuple, facts.join(dims, "k").collect()))
        assert got == want
        assert "__salt" not in out.columns


def test_pipeline_rejects_removed_force_skew_join(spark, tmp_path):
    """A config that still sets the removed ``force_skew_join`` key fails by
    step and key before any step runs, in ``run`` and ``run_step`` alike."""
    import pytest as _pytest

    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.register("a", spark.range(5).withColumnRenamed("id", "k"))
    first = {"name": "first", "dest": "first", "materialize": True, "sql": "SELECT * FROM a"}
    step = {"name": "x", "dest": "x", "salted_join": {"big": "a", "small": "a", "key": "k"},
            "materialize": True, "force_skew_join": True}
    with _pytest.raises(ValueError, match="step 'x': 'force_skew_join'"):
        pipe.run({"steps": [first, step]})
    assert not (tmp_path / "wh").exists()
    with _pytest.raises(ValueError, match="step 'x': 'force_skew_join'"):
        pipe.run_step(step)


def test_publish_versioning(spark, tmp_path):
    root = str(tmp_path / "pub")
    df1 = spark.createDataFrame([("k1", 1.0)], ["pk", "v"])
    r1 = publish_table(spark, df1, root, "clinical", "r1")
    assert r1["published"] is True and r1["previous_release"] is None

    # identical data → skip republish
    r2 = publish_table(spark, df1.select("pk", "v"), root, "clinical", "r2")
    assert r2["published"] is False and r2["previous_release"] == "r1"

    df2 = spark.createDataFrame([("k1", 2.0)], ["pk", "v"])
    r3 = publish_table(spark, df2, root, "clinical", "r10")
    assert r3["published"] is True and r3["previous_release"] == "r1"

    # numeric release ordering: r10 > r2 > r1
    from nextgenetl_spark.plans.publish import find_most_recent_release

    assert find_most_recent_release(root, "clinical") == "r10"
    cur = spark.read.parquet(f"{root}/clinical_current")
    assert cur.collect()[0]["v"] == 2.0


def test_publish_failed_sidecar_replace_leaves_tables_readable(spark, tmp_path, monkeypatch):
    """Fault injection: os.replace fails while publish_table writes its
    metadata sidecar. The error surfaces, and the versioned and _current
    tables it already wrote still read: the sidecar's temp file is neither
    left where Spark's file index would list it as a data file."""
    import os

    import pytest

    root = str(tmp_path / "pub")
    df = spark.createDataFrame([("k1", 1.0), ("k2", 2.0)], ["pk", "v"])

    def failing_replace(src, dst):
        raise OSError("injected replace failure")

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        publish_table(spark, df, root, "clinical", "r1")
    monkeypatch.undo()
    for d in (f"{root}/clinical_versioned/r1", f"{root}/clinical_current"):
        assert sorted(map(tuple, spark.read.parquet(d).collect())) == [("k1", 1.0), ("k2", 2.0)], d


def test_skip_if_fresh_recomputes_on_torn_fingerprint(spark, tmp_path):
    """Fault injection: a truncated _step_fingerprint.json (a crash mid-
    write) reads as stale, so the step recomputes and records a whole
    fingerprint again instead of failing the run with a JSON error."""
    import json
    import os

    wh = str(tmp_path / "wh")
    src = spark.range(0, 5).select(F.col("id").alias("k"))
    step = {
        "name": "s1",
        "dest": "out1",
        "sql": "SELECT k, k * 2 AS v FROM src",
        "materialize": True,
        "skip_if_fresh": True,
    }
    p = Pipeline(spark, warehouse=wh)
    p.register("src", src)
    p.run_step(step)
    sidecar = os.path.join(wh, "out1", "_step_fingerprint.json")
    with open(sidecar, encoding="utf-8") as fh:
        whole = fh.read()
    with open(sidecar, "w", encoding="utf-8") as fh:
        fh.write(whole[: len(whole) // 2])
    mtime = os.path.getmtime(os.path.join(wh, "out1", "_SUCCESS"))

    p2 = Pipeline(spark, warehouse=wh)
    p2.register("src", src)
    df = p2.run_step(step)
    assert {(r["k"], r["v"]) for r in df.collect()} == {(i, 2 * i) for i in range(5)}
    assert os.path.getmtime(os.path.join(wh, "out1", "_SUCCESS")) != mtime
    with open(sidecar, encoding="utf-8") as fh:
        assert json.load(fh)["fingerprint"]


def test_pipeline_cluster_by_and_export_csv(spark, tmp_path):
    import glob

    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.register("src", spark.createDataFrame([(2, "b"), (1, "a"), (3, "c")], ["k", "v"]))
    cfg = {
        "params": {},
        "steps": [
            {
                "name": "clustered",
                "dest": "out",
                "sql": "SELECT k, v FROM src",
                "cluster_by": ["k"],
                "materialize": True,
                "export_csv": "out_tsv",
                "sep": "\t",
            }
        ],
    }
    out = pipe.run(cfg)["out"]
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]
    files = glob.glob(str(tmp_path / "wh" / "out_tsv" / "*.csv"))
    assert files, "export_csv wrote no files"
    lines = sorted(line for f in files for line in open(f).read().splitlines() if line)
    assert lines[0] == "1\ta" and "k\tv" in lines  # data + header present


def test_bucketed_join_eliminates_shuffle(spark):
    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.plans.bucketing import bucketed_join, plan_has_no_exchange, write_bucketed
    from tests.conftest import SF_SMOKE

    li = load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    try:
        write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=4, sort_cols="l_orderkey")
        write_bucketed(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "b_orders", "l_orderkey",
            num_buckets=4, sort_cols="l_orderkey",
        )
        joined = bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        assert plan_has_no_exchange(joined), joined._jdf.queryExecution().executedPlan().toString()
        # and the join is still correct
        assert joined.count() == li.join(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_pipeline_zorder_step(spark, tmp_path):
    """zorder_by step: output rows are identical, layout is z-clustered
    (spans bounded in both keys for typical files)."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.pipeline import Pipeline

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    pipe.register("grid", df)
    out = pipe.run(
        {
            "steps": [
                {
                    "name": "z",
                    "dest": "zgrid",
                    "sql": "SELECT x, y FROM grid",
                    "zorder_by": ["x", "y"],
                    "num_files": 16,
                    "materialize": True,
                }
            ]
        }
    )["zgrid"]
    assert out.count() == 4096
    assert sorted(r["x"] for r in out.groupBy("x").count().collect()) == list(range(64))


def test_pipeline_sql_templating_tolerates_literal_braces(spark):
    """Step SQL containing regex quantifiers / JSON braces must pass through
    render_sql untouched while known {param} placeholders still substitute
    (str.format would KeyError on the quantifier)."""
    from nextgenetl_spark.plans.pipeline import Pipeline, render_sql

    assert render_sql("a{2,3} {p} {unknown} {\"k\": 1}", {"p": "X"}) == 'a{2,3} X {unknown} {"k": 1}'

    pipe = Pipeline(spark, params={"min_reps": 2})
    src = spark.createDataFrame(
        [(1, "xx banana"), (2, "x apple"), (3, "xxx cherry")], ["id", "s"]
    )
    pipe.register("regex_src", src)
    out = pipe.run_step(
        {
            "name": "braced",
            "dest": "braced",
            "sql": "SELECT id FROM regex_src WHERE s RLIKE 'x{2,3}' AND id >= {min_reps}",
        }
    )
    assert sorted(r["id"] for r in out.collect()) == [3]


def test_publish_metadata_and_archive_flip(spark, tmp_path):
    """Publishing release N writes the metadata sidecar (status=current) to
    both versioned and _current dirs; publishing N+1 flips N's sidecar to
    status=archived; a skipped identical publish changes nothing."""
    from nextgenetl_spark.plans.publish import (
        publish_table,
        read_table_metadata,
        update_table_labels,
    )

    root = str(tmp_path / "wh")
    meta = {
        "friendlyName": "Parts (open)",
        "description": "part dimension",
        "labels": {"program": "tpch"},
        "schema_descriptions": {"p_partkey": "part key"},
    }
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], ["p_partkey", "p_name"])
    out = publish_table(spark, v1, root, "part", "r1", metadata=meta)
    assert out["published"]
    m1 = read_table_metadata(f"{root}/part_versioned/r1")
    assert m1["labels"] == {"program": "tpch", "status": "current", "release": "r1"}
    assert m1["friendlyName"] == "Parts (open)"
    assert read_table_metadata(f"{root}/part_current")["labels"]["release"] == "r1"
    # the sidecar must not break plain parquet reads
    assert spark.read.parquet(f"{root}/part_current").count() == 2

    # identical data -> skip, nothing flips
    out2 = publish_table(spark, v1, root, "part", "r2", metadata=meta)
    assert not out2["published"]
    assert read_table_metadata(f"{root}/part_versioned/r1")["labels"]["status"] == "current"

    # changed data -> r2 publishes, r1 archives
    v2 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["p_partkey", "p_name"])
    out3 = publish_table(spark, v2, root, "part", "r2", metadata=meta)
    assert out3["published"] and out3["previous_release"] == "r1"
    assert read_table_metadata(f"{root}/part_versioned/r1")["labels"]["status"] == "archived"
    assert read_table_metadata(f"{root}/part_versioned/r2")["labels"]["status"] == "current"

    # label surgery mirrors update_table_labels
    labels = update_table_labels(
        f"{root}/part_versioned/r2", remove=["program"], add={"reviewed": "yes"}
    )
    assert labels == {"status": "current", "release": "r2", "reviewed": "yes"}


def test_persisted_views_roundtrip(spark, tmp_path):
    """create_view_from_query persists the definition and instantiates it;
    load_views re-creates it in a 'new session' (simulated by dropping the
    temp view); a name colliding with a table dir is fatal."""
    import pytest

    from nextgenetl_spark.catalog import create_view_from_query, drop_view, load_views

    root = str(tmp_path / "wh")
    src = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    src.createOrReplaceTempView("vt_src")
    create_view_from_query(spark, root, "vt_top", "SELECT k, v FROM vt_src WHERE v > 15")
    assert {r["k"] for r in spark.sql("SELECT * FROM vt_top").collect()} == {2, 3}

    # "new session": catalog entry gone, definition file remains
    spark.catalog.dropTempView("vt_top")
    assert load_views(spark, root) == ["vt_top"]
    assert {r["k"] for r in spark.sql("SELECT * FROM vt_top").collect()} == {2, 3}

    # table-name collision is fatal, like the reference's type check
    (tmp_path / "wh" / "vt_tbl").mkdir(parents=True)
    with pytest.raises(ValueError, match="already exists as a table"):
        create_view_from_query(spark, root, "vt_tbl", "SELECT 1")

    assert drop_view(spark, root, "vt_top")
    assert load_views(spark, root) == []


def test_prune_releases_removes_only_old_archived(spark, tmp_path):
    """Pruning keeps the newest `keep` releases plus anything not labeled
    archived, and removes older archived dirs."""
    from nextgenetl_spark.plans.publish import (
        find_most_recent_release,
        prune_releases,
        publish_table,
        read_table_metadata,
    )

    root = str(tmp_path / "wh")
    for i in range(1, 5):
        df = spark.createDataFrame([(k, f"v{i}") for k in range(i)], ["k", "v"])
        assert publish_table(spark, df, root, "t", f"r{i}")["published"]
    # r1..r3 archived, r4 current
    for i in range(1, 4):
        assert read_table_metadata(f"{root}/t_versioned/r{i}")["labels"]["status"] == "archived"

    removed = prune_releases(root, "t", keep=2)
    assert removed == ["r1", "r2"]  # r3 survives (within keep=2? no — r3,r4 kept)
    import os

    assert sorted(os.listdir(f"{root}/t_versioned")) == ["r3", "r4"]
    assert find_most_recent_release(root, "t") == "r4"

    # keep=1 would target r3 (archived) but never r4 (current)
    assert prune_releases(root, "t", keep=1) == ["r3"]
    assert sorted(os.listdir(f"{root}/t_versioned")) == ["r4"]
    assert prune_releases(root, "t", keep=1) == []


def test_compact_parquet_dir_reduces_files_preserving_rows(spark, tmp_path):
    """Compaction: 40 tiny files -> few ~target-size files, rows intact."""
    from nextgenetl_spark.plans.compaction import compact_parquet_dir

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    spark.range(0, 4000).withColumnRenamed("id", "k").repartition(40).write.parquet(src)
    stats = compact_parquet_dir(spark, src, dst, target_file_bytes=64 * 1024)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40
    assert spark.read.parquet(dst).count() == 4000
    # deterministic content: same key set
    got = {r["k"] for r in spark.read.parquet(dst).collect()}
    assert got == set(range(4000))


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.compaction import compact_parquet_dir

    src = str(tmp_path / "part_small")
    dst = str(tmp_path / "part_compacted")
    (
        spark.range(0, 3000)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("p"))
        .repartition(30)
        .write.partitionBy("p")
        .parquet(src)
    )
    stats = compact_parquet_dir(spark, src, dst, target_file_bytes=256 * 1024, partition_by=["p"])
    assert stats["files_after"] < stats["files_before"]
    out = spark.read.parquet(dst)
    assert out.count() == 3000
    # hive layout preserved: partition dirs exist and pruning filter works
    import os

    assert any(d.startswith("p=") for d in os.listdir(dst))
    assert out.filter(F.col("p") == 1).count() == 1000


def test_skip_if_fresh_reuses_then_invalidates(spark, tmp_path):
    """skip_if_fresh: an unchanged step definition reuses the materialized
    output (no recompute); changing the SQL or a param invalidates the
    fingerprint and recomputes."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.pipeline import Pipeline

    wh = str(tmp_path / "wh")
    src = spark.range(0, 10).select(F.col("id").alias("k"))
    step = {
        "name": "s1",
        "dest": "out1",
        "sql": "SELECT k, k * {mult} AS v FROM src",
        "materialize": True,
        "skip_if_fresh": True,
    }

    p = Pipeline(spark, params={"mult": 2}, warehouse=wh)
    p.register("src", src)
    p.run_step(step)
    import os

    out_dir = os.path.join(wh, "out1")
    mtime1 = os.path.getmtime(os.path.join(out_dir, "_SUCCESS"))

    # identical rerun in a fresh Pipeline → skipped (no rewrite)
    p2 = Pipeline(spark, params={"mult": 2}, warehouse=wh)
    p2.register("src", src)
    df = p2.run_step(step)
    assert os.path.getmtime(os.path.join(out_dir, "_SUCCESS")) == mtime1
    assert {(r["k"], r["v"]) for r in df.collect()} == {(i, 2 * i) for i in range(10)}

    # changed param → fingerprint differs → recompute with new values
    p3 = Pipeline(spark, params={"mult": 3}, warehouse=wh)
    p3.register("src", src)
    df3 = p3.run_step(step)
    assert {(r["k"], r["v"]) for r in df3.collect()} == {(i, 3 * i) for i in range(10)}
    assert os.path.getmtime(os.path.join(out_dir, "_SUCCESS")) != mtime1


def test_export_jsonl_round_trips(spark, tmp_path):
    """export_jsonl writes newline-delimited JSON that read_jsonl loads back
    with identical rows — the reference's BQ-load staging format."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.pipeline import Pipeline

    wh = str(tmp_path / "wh")
    src = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    p = Pipeline(spark, warehouse=wh)
    p.register("src", src)
    p.run_step({"name": "x", "dest": "out", "sql": "SELECT k, v FROM src", "export_jsonl": "out_jsonl"})
    out_dir = os.path.join(wh, "out_jsonl")
    rows = []
    for fn in os.listdir(out_dir):
        if fn.endswith(".json"):
            with open(os.path.join(out_dir, fn), encoding="utf-8") as fh:
                rows.extend(_json.loads(line) for line in fh if line.strip())
    assert {(r["k"], r["v"]) for r in rows} == {(i, 2 * i) for i in range(20)}


def test_quickstart_example_runs_end_to_end(spark, tmp_path):
    """examples/quickstart.py exercises ingest → pipeline → publish → diff →
    curation in one pass; keep it green so the documented entry path works."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "quickstart", os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "quickstart.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from tests.conftest import SF_SMOKE

    out = mod.main(spark, SF_SMOKE, str(tmp_path))
    assert out["ingest_rows"] == 50
    assert out["pipeline_rows"] > 0
    assert out["published_rows"] == out["pipeline_rows"]
    assert out["diff_rows"] > 0  # the perturbation is visible to the QC diff
    assert set(out["split_counts"]) <= {"train", "val", "test"}
    assert sum(out["split_counts"].values()) > 0


def test_lake_report_flags_small_files_and_compaction_clears_it(spark, tmp_path):
    import sys

    sys.path.insert(0, str(tmp_path.parents[0]))  # no-op safety
    from nextgenetl_spark.plans.compaction import compact_parquet_dir
    from tools.lake_report import lake_report

    root = tmp_path / "lake"
    root.mkdir()
    spark.range(0, 4000).repartition(40).write.parquet(str(root / "shattered"))
    spark.range(0, 100).coalesce(1).write.parquet(str(root / "fine"))
    rows = {r["table"]: r for r in lake_report(str(root), target_file_bytes=64 * 1024)}
    assert rows["shattered"]["compactable"]
    assert rows["shattered"]["n_files"] == 40
    assert not rows["fine"]["compactable"]

    compact_parquet_dir(spark, str(root / "shattered"), str(root / "shattered_c"), target_file_bytes=64 * 1024)
    after = {r["table"]: r for r in lake_report(str(root), target_file_bytes=64 * 1024)}
    assert after["shattered_c"]["n_files"] < 40


def _group_jobs(spark, group: str) -> set:
    """Job ids the status tracker holds for ``group``, read once the
    listener bus has caught up with every job already submitted."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs_in(spark, group: str, fn):
    """``(fn(), number of Spark jobs fn ran)``, run under job group ``group``."""
    sc = spark.sparkContext
    before = _group_jobs(spark, group)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in _JOB_GROUP_KEYS:
            sc.setLocalProperty(key, None)
    return out, len(_group_jobs(spark, group) - before)


def test_materialize_resume_and_publish_run_no_schema_inference_job(spark, tmp_path):
    """Job-count guard over an sf0.001 table: a materialized skip_if_fresh
    step runs exactly the jobs of writing its query (no parquet inference
    job), a resume from a fresh Pipeline runs none, and an identical
    publish runs only the gate's. The step's jobs are counted by its job
    group, and run_step gives the caller's group back."""
    import os

    from nextgenetl_spark.catalog import load
    from tests.conftest import SF_SMOKE

    orders = load(spark, SF_SMOKE, "orders")
    wh, root = str(tmp_path / "wh"), str(tmp_path / "pub")
    step = {
        "name": "guard_status_totals",
        "dest": "status_totals",
        "materialize": True,
        "skip_if_fresh": True,
        "sql": "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders GROUP BY o_orderstatus",
    }

    def fresh_pipeline():
        p = Pipeline(spark, warehouse=wh)
        p.register("orders", orders)
        return p

    built, step_jobs = _jobs_in(spark, step["name"], lambda: fresh_pipeline().run_step(step))
    _, write_jobs = _jobs_in(
        spark, "guard_plain_write", lambda: spark.sql(step["sql"]).write.parquet(str(tmp_path / "plain"))
    )
    assert write_jobs > 0 and step_jobs == write_jobs

    sc = spark.sparkContext
    marker = os.path.join(wh, "status_totals", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    sc.setJobGroup("guard_caller", "caller")
    try:
        before = _group_jobs(spark, step["name"])
        resumed = fresh_pipeline().run_step(step)
        assert len(_group_jobs(spark, step["name"]) - before) == 0
        assert sc.getLocalProperty("spark.jobGroup.id") == "guard_caller"
    finally:
        for key in _JOB_GROUP_KEYS:
            sc.setLocalProperty(key, None)
    assert os.path.getmtime(marker) == mtime
    assert sorted(resumed.collect()) == sorted(built.collect())

    assert publish_table(spark, built, root, "status_totals", "r1")["published"]
    out, publish_jobs = _jobs_in(spark, "guard_publish", lambda: publish_table(spark, built, root, "status_totals", "r2"))
    assert not out["published"]
    r1 = spark.read.schema(built.schema).parquet(os.path.join(root, "status_totals_versioned", "r1"))
    equal, gate_jobs = _jobs_in(spark, "guard_gate", lambda: D.tables_equal(r1, built))
    assert equal and publish_jobs == gate_jobs


def test_run_step_restores_an_unset_job_group(spark, tmp_path):
    """Without a caller group, run_step leaves none behind, also when the
    step fails."""
    import pytest

    p = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    p.register("src", spark.range(3))
    p.run_step({"name": "group_probe", "dest": "probe", "sql": "SELECT id FROM src", "materialize": True})
    with pytest.raises(ValueError):
        p.run_step({"name": "group_probe_bad", "dest": "bad"})
    sc = spark.sparkContext
    assert all(sc.getLocalProperty(k) is None for k in _JOB_GROUP_KEYS)


def _schema_zoo(spark, tmp_path):
    """A step input with decimal(20,4), timestamp, timestamp_ntz, date,
    binary, array<struct>, map, char/varchar, a non-nullable column and a
    column with field metadata."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    typed = T.StructType([
        T.StructField("nn", T.LongType(), False),
        T.StructField("d", T.DecimalType(20, 4)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("dt", T.DateType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.StructType([
            T.StructField("x", T.IntegerType(), False), T.StructField("y", T.StringType())]), False)),
        T.StructField("m", T.MapType(T.StringType(), T.LongType(), False)),
        T.StructField("md", T.StringType(), True, {"comment": "described", "level": 2}),
    ])
    rows = [
        (1, decimal.Decimal("12345678901234.5678"), datetime.datetime(2021, 3, 4, 5, 6, 7, 890123),
         datetime.datetime(2021, 3, 4, 5, 6, 7), datetime.date(2021, 3, 4), b"\x00\xff",
         [(1, "a"), (2, None)], {"k": 7}, "x"),
        (2, None, None, None, None, None, None, None, None),
    ]
    # char/varchar columns come from a catalog table's schema
    spark.sql("DROP TABLE IF EXISTS zoo_chars")
    spark.sql(f"CREATE TABLE zoo_chars (k BIGINT, c CHAR(5), v VARCHAR(3)) USING parquet LOCATION '{tmp_path}/chars'")
    spark.sql("INSERT INTO zoo_chars VALUES (1, 'ab', 'xy'), (2, 'c', NULL)")
    spark.createDataFrame(rows, typed).createOrReplaceTempView("zoo_typed")
    return spark.sql("SELECT t.*, c.c, c.v FROM zoo_typed t JOIN zoo_chars c ON t.nn = c.k")


def test_known_and_recorded_schema_reads_equal_inference(spark, tmp_path):
    """The materialize re-read (writer's schema), the resume (schema from
    the step sidecar) and the previous-release read (schema from the
    table sidecar) return the StructType plain inference returns,
    nullability and field metadata included, and the same rows."""
    zoo = _schema_zoo(spark, tmp_path)
    try:
        _check_schema_reads(spark, tmp_path, zoo)
    finally:
        spark.sql("DROP TABLE IF EXISTS zoo_chars")


def _check_schema_reads(spark, tmp_path, zoo):
    import os

    from nextgenetl_spark.catalog import read_parquet_as
    from nextgenetl_spark.plans.publish import read_table_metadata

    assert zoo.schema["nn"].nullable is False
    assert "__CHAR_VARCHAR_TYPE_STRING" in zoo.schema["c"].metadata
    wh, root = str(tmp_path / "wh"), str(tmp_path / "pub")
    step = {"name": "zoo", "dest": "zoo", "sql": "SELECT * FROM zoo_src", "materialize": True, "skip_if_fresh": True}

    def fresh_pipeline():
        p = Pipeline(spark, warehouse=wh)
        p.register("zoo_src", zoo)
        return p

    built = fresh_pipeline().run_step(step)
    inferred = spark.read.parquet(os.path.join(wh, "zoo"))
    assert built.schema == inferred.schema
    resumed = fresh_pipeline().run_step(step)
    assert resumed.schema == inferred.schema
    assert sorted(resumed.collect()) == sorted(inferred.collect())

    assert publish_table(spark, zoo, root, "zoo", "r1")["published"]
    vdir = os.path.join(root, "zoo_versioned", "r1")
    recorded = read_parquet_as(spark, vdir, read_table_metadata(vdir)["spark_schema"])
    assert recorded.schema == spark.read.parquet(vdir).schema
    assert sorted(recorded.collect()) == sorted(spark.read.parquet(vdir).collect())
    assert read_parquet_as(spark, vdir, zoo.schema).schema == spark.read.parquet(vdir).schema
    assert not publish_table(spark, built, root, "zoo", "r2")["published"]


def test_sidecars_without_recorded_schema_still_resume_and_publish(spark, tmp_path):
    """A _step_fingerprint.json or _table_meta.json written before schemas
    were recorded falls back to inference: the step still resumes and the
    publish gate still skips identical data and publishes changed data."""
    import json
    import os

    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.publish import METADATA_FILE

    def strip(path, key):
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        doc.pop(key)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)

    wh, root = str(tmp_path / "wh"), str(tmp_path / "pub")
    src = spark.range(0, 6).select(F.col("id").alias("k"), (F.col("id") * 0.5).alias("v"))
    step = {"name": "legacy", "dest": "legacy", "sql": "SELECT k, v FROM src", "materialize": True, "skip_if_fresh": True}
    p = Pipeline(spark, warehouse=wh)
    p.register("src", src)
    built = p.run_step(step)
    out_dir = os.path.join(wh, "legacy")
    strip(os.path.join(out_dir, "_step_fingerprint.json"), "schema")
    mtime = os.path.getmtime(os.path.join(out_dir, "_SUCCESS"))
    p2 = Pipeline(spark, warehouse=wh)
    p2.register("src", src)
    resumed = p2.run_step(step)
    assert os.path.getmtime(os.path.join(out_dir, "_SUCCESS")) == mtime
    assert resumed.schema == built.schema
    assert sorted(resumed.collect()) == sorted(built.collect())

    assert publish_table(spark, built, root, "legacy", "r1")["published"]
    strip(os.path.join(root, "legacy_versioned", "r1", METADATA_FILE), "spark_schema")
    assert not publish_table(spark, built, root, "legacy", "r2")["published"]
    changed = built.withColumn("v", F.col("v") + 1)
    assert publish_table(spark, changed, root, "legacy", "r2")["published"]


def test_tables_equal_compares_map_columns_by_content(spark):
    """Grouping normalizes maps, so the gate compares map columns by their
    entries, in any insertion order. (EXCEPT DISTINCT rejects map columns.)"""
    m = spark.sql("SELECT 1 AS k, map('a', 1, 'b', 2) AS m")
    assert D.tables_equal(m, spark.sql("SELECT map('b', 2, 'a', 1) AS m, 1 AS k"))
    assert not D.tables_equal(m, spark.sql("SELECT 1 AS k, map('a', 1, 'b', 3) AS m"))


_GATE_FLOATS = (None, 0.0, -0.0, 1.5, -2.0, float("nan"))
_GATE_SCHEMA = "k INT, x DOUBLE, s STRING, arr ARRAY<DOUBLE>, st STRUCT<a: DOUBLE, b: STRING>"


def _flip_float(v):
    """0.0 <-> -0.0 and NaN <-> NULL: values the gate must judge by set
    semantics, not by representation."""
    if v is None:
        return float("nan")
    if math.isnan(v):
        return None
    return -v if v == 0.0 else v


def _gate_twin(row: tuple, flip: bool) -> tuple:
    if not flip:
        return row
    k, x, s, arr, struct = row
    return (
        k,
        _flip_float(x),
        s,
        None if arr is None else [_flip_float(v) for v in arr],
        None if struct is None else (_flip_float(struct[0]), struct[1]),
    )


@st.composite
def _gate_cases(draw):
    """(old rows, new rows, new column order): new holds each old row 0-2
    times, some with flipped floats, maybe one row more, shuffled."""
    floats = st.sampled_from(_GATE_FLOATS)
    row = st.tuples(
        st.sampled_from([None, 1, 2]),
        floats,
        st.sampled_from([None, "", "a"]),
        st.one_of(st.none(), st.lists(floats, max_size=2)),
        st.one_of(st.none(), st.tuples(floats, st.sampled_from([None, "x"]))),
    )
    old = draw(st.lists(row, max_size=4))
    new = [
        _gate_twin(r, draw(st.booleans()))
        for r in old
        for _ in range(draw(st.sampled_from([1, 1, 1, 2, 0])))
    ]
    if draw(st.sampled_from([False, False, True])):
        new.append(draw(row))
    return old, draw(st.permutations(new)), draw(st.permutations(["k", "x", "s", "arr", "st"]))


def _symmetric_diff_gate(old, new, nan_tolerant):
    """The publish gate before it became one tagged group-by: symmetric
    EXCEPT DISTINCT, kept here as the oracle."""
    if sorted(old.columns) != sorted(new.columns):
        return False
    o = D._nan_safe(old) if nan_tolerant else old
    n = D._nan_safe(new.select(*old.columns)) if nan_tolerant else new.select(*old.columns)
    return symmetric_diff(o, n).limit(1).count() == 0


@settings(
    max_examples=fuzz_examples(150, 20),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=_gate_cases())
def test_tables_equal_matches_symmetric_except_distinct(spark, case):
    """The one-shuffle gate agrees with the symmetric EXCEPT DISTINCT over
    NULLs, NaN, -0.0, duplicate rows, reordered columns and array/struct
    columns, NaN-tolerant or not."""
    old_rows, new_rows, order = case
    old = spark.createDataFrame(old_rows, _GATE_SCHEMA)
    new = spark.createDataFrame(new_rows, _GATE_SCHEMA).select(*order)
    for nan_tolerant in (True, False):
        assert D.tables_equal(old, new, nan_tolerant) == _symmetric_diff_gate(old, new, nan_tolerant)


def _two_action_report(old, new, key):
    """release_report's key and row counts before they became one action:
    a full-outer join of distinct keys, then a unioned count. Kept here as
    the oracle."""
    o = old.select(F.col(key).alias("__k")).distinct().withColumn("__o", F.lit(1))
    n = new.select(F.col(key).alias("__k")).distinct().withColumn("__n", F.lit(1))
    krow = (
        o.join(n, "__k", "full_outer")
        .agg(
            F.count(F.when(F.col("__o").isNull(), 1)).alias("added"),
            F.count(F.when(F.col("__n").isNull(), 1)).alias("removed"),
        )
        .first()
    )
    rc = {
        r["__side"]: r["cnt"]
        for r in old.select(F.lit("old").alias("__side"))
        .unionByName(new.select(F.lit("new").alias("__side")))
        .groupBy("__side")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    rc = {"old": rc.get("old", 0), "new": rc.get("new", 0)}
    return krow["added"], krow["removed"], {**rc, "equal": rc["old"] == rc["new"]}


_REPORT_KEYS = st.lists(st.sampled_from([None, 1, 2, 3, 4, 5]), max_size=6)


@settings(
    max_examples=fuzz_examples(150, 10),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@example(old_keys=[None, 1], new_keys=[1])
@example(old_keys=[None, None, 2], new_keys=[None, 2, 2])
@example(old_keys=[], new_keys=[3, 3])
@example(old_keys=[], new_keys=[])
@example(old_keys=[1, 2], new_keys=[3, 4])
@given(old_keys=_REPORT_KEYS, new_keys=_REPORT_KEYS)
def test_release_report_matches_two_action_form(spark, old_keys, new_keys):
    """The one-action report gives the two-action form's added/removed key
    and row counts over NULL keys on one or both sides (a NULL key matches
    nothing), duplicate keys, empty sides and disjoint key sets."""
    old = spark.createDataFrame([(k, "o") for k in old_keys], "pk INT, v STRING")
    new = spark.createDataFrame([(k, "n") for k in new_keys], "pk INT, v STRING")
    rep = D.release_report(old, new, "pk")
    got = (rep["added_key_count"], rep["removed_key_count"], rep["row_counts"])
    assert got == _two_action_report(old, new, "pk")


def test_release_report_runs_one_action(spark):
    """Job-count guard: the report runs one action (every job it runs is
    named after one call site), 3 jobs against the two-action form's 6."""
    old, new = _versioned_pair(spark)
    rep, jobs = _jobs_in(spark, "report_guard", lambda: D.release_report(old, new, "pk"))
    oracle, oracle_jobs = _jobs_in(spark, "report_oracle", lambda: _two_action_report(old, new, "pk"))
    assert (rep["added_key_count"], rep["removed_key_count"], rep["row_counts"]) == oracle
    store = spark._jsc.sc().statusStore()

    def actions(group):
        return len({store.job(j).name() for j in _group_jobs(spark, group)})

    assert (actions("report_guard"), jobs) == (1, 3)
    assert (actions("report_oracle"), oracle_jobs) == (2, 6)


def _sleep_udfs(spark):
    """``pipe_sleep(id, s)`` returns ``id`` after ``s`` seconds;
    ``pipe_fail(id, s)`` raises after ``s`` seconds. One row per call, so
    a one-row input holds its step's job that long."""
    import time

    def fail(i, s):
        time.sleep(float(s))
        raise ValueError("pipe_fail")

    spark.udf.register("pipe_sleep", lambda i, s: time.sleep(float(s)) or i, "long")
    spark.udf.register("pipe_fail", fail, "long")


def _group_span(spark, group: str) -> tuple[int, int]:
    """(first submission, last completion) in epoch ms of ``group``'s jobs."""
    store = spark._jsc.sc().statusStore()
    jobs = [store.job(j) for j in _group_jobs(spark, group)]
    assert jobs, group
    return (min(j.submissionTime().get().getTime() for j in jobs),
            max(j.completionTime().get().getTime() for j in jobs))


def _sleep_step(name: str, seconds: float, **extra) -> dict:
    return {"name": name, "dest": name, "materialize": True,
            "sql": f"SELECT pipe_sleep(id, {seconds}) AS id FROM one", **extra}


def _dag_pipeline(spark, tmp_path):
    _sleep_udfs(spark)
    p = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    p.register("one", spark.range(0, 1, 1, 1))
    return p


def test_step_dag_reads_tables_from_the_parsed_plan(spark):
    """A sql step reads the relations of its parsed plan, subqueries
    included and its own CTE names excluded unless a pipeline table has
    the name; a salted_join step reads big and small; reading a lazy
    step's dest reads its inputs too; a step overwriting a table waits for
    the steps reading it."""
    p = Pipeline(spark)
    p.register("src", spark.range(1))
    plan = [
        {"name": "a", "dest": "a", "materialize": True, "sql": "SELECT * FROM src"},
        {"name": "b", "dest": "b", "materialize": True, "sql": "SELECT * FROM src WHERE id IN (SELECT id FROM A)"},
        {"name": "c", "dest": "c", "materialize": True,
         "sql": "WITH x AS (SELECT 1 AS id) SELECT * FROM x JOIN src USING (id)"},
        {"name": "d", "dest": "d", "materialize": True, "salted_join": {"big": "b", "small": "c", "key": "id"}},
        {"name": "e", "dest": "src", "materialize": True, "sql": "SELECT 2 AS id"},
        {"name": "g", "dest": "g", "materialize": True, "sql": "SELECT * FROM d"},
        {"name": "h", "dest": "h", "sql": "SELECT * FROM a"},
        {"name": "i", "dest": "i", "materialize": True, "sql": "SELECT * FROM h"},
        {"name": "j", "dest": "a", "materialize": True, "sql": "SELECT 3 AS id"},
        {"name": "k", "dest": "k", "materialize": True,
         "sql": "WITH src AS (SELECT * FROM src WHERE id > 0) SELECT * FROM src"},
        {"name": "f", "dest": "f", "sql": "SELECT * FROM IDENTIFIER('a')"},
        {"name": "m", "dest": "m", "materialize": True, "sql": "SELECT * FROM f"},
        {"name": "n", "dest": "n", "materialize": True, "sql": "SELECT * FROM src"},
    ]
    assert p._step_dag(plan) == [
        set(), {0}, set(), {1, 2}, {0, 1, 2}, {3}, {0}, {0, 6}, {0, 1, 6, 7}, {4},
        set(range(10)), set(range(11)), {4, 10, 11},
    ]


def test_reader_of_a_lazy_step_waits_for_an_overwrite_of_its_input(spark, tmp_path):
    """A lazy step over ``y`` is a plan over y's files, so a step reading
    it and a later overwrite of ``y`` never run at the same time, and the
    reader sees the first ``y``."""
    p = _dag_pipeline(spark, tmp_path)
    cfg = {"steps": [
        {"name": "lazy_y", "dest": "y", "materialize": True, "sql": "SELECT 1L AS id"},
        {"name": "lazy_x", "dest": "x", "sql": "SELECT * FROM y"},
        {"name": "lazy_z", "dest": "z", "materialize": True, "sql": "SELECT pipe_sleep(id, 1.0) AS id FROM x"},
        {"name": "lazy_y2", "dest": "y", "materialize": True, "sql": "SELECT pipe_sleep(id + 2, 0.5) AS id FROM one"},
    ]}
    out = p.run(cfg)
    assert [r.id for r in out["z"].collect()] == [1]
    assert [r.id for r in out["y"].collect()] == [2]
    assert _group_span(spark, "lazy_z")[1] <= _group_span(spark, "lazy_y2")[0]


def test_failing_step_cancels_running_sibling(spark, tmp_path):
    """A failing step cancels a sibling blocked in a slow UDF (its job ends
    FAILED long before the UDF would return), nothing more is submitted,
    the error names the failing step, and neither the cancelled step nor
    its never-run dependent writes a fingerprint sidecar."""
    import os
    import time

    import pytest

    p = _dag_pipeline(spark, tmp_path)
    cfg = {"steps": [
        _sleep_step("dag_cancel_slow", 60, skip_if_fresh=True),
        {"name": "dag_cancel_boom", "dest": "boom", "materialize": True,
         "sql": "SELECT pipe_fail(id, 1.0) AS id FROM one"},
        {"name": "dag_cancel_after", "dest": "after", "materialize": True, "skip_if_fresh": True,
         "sql": "SELECT * FROM dag_cancel_slow"},
    ]}
    t0 = time.perf_counter()
    with pytest.raises(RuntimeError, match="pipeline step 'dag_cancel_boom' failed"):
        p.run(cfg)
    assert time.perf_counter() - t0 < 30
    tracker = spark.sparkContext.statusTracker()
    slow_jobs = _group_jobs(spark, "dag_cancel_slow")
    assert slow_jobs and {tracker.getJobInfo(j).status for j in slow_jobs} == {"FAILED"}
    assert not _group_jobs(spark, "dag_cancel_after")
    wh = p.warehouse
    for dest in ("dag_cancel_slow", "after"):
        assert not os.path.exists(os.path.join(wh, dest, "_step_fingerprint.json"))
    assert not {"dag_cancel_slow", "boom", "after"} & set(p.tables)


def test_same_dest_steps_keep_config_order(spark, tmp_path):
    """Two steps writing one dest run in config order even when the first
    is slow, and a reader of that dest sees the second's output."""
    import os

    p = _dag_pipeline(spark, tmp_path)
    cfg = {"steps": [
        {"name": "dag_dest_first", "dest": "t", "materialize": True,
         "sql": "SELECT pipe_sleep(id, 1.0) AS v FROM one"},
        {"name": "dag_dest_second", "dest": "t", "materialize": True, "sql": "SELECT 7L AS v"},
        {"name": "dag_dest_reader", "dest": "r", "sql": "SELECT v + 1 AS v FROM t"},
    ]}
    out = p.run(cfg)
    assert list(out) == ["t", "r"]
    assert [r.v for r in out["t"].collect()] == [7]
    assert [r.v for r in spark.table("t").collect()] == [7]
    assert [r.v for r in spark.read.parquet(os.path.join(p.warehouse, "t")).collect()] == [7]
    assert [r.v for r in out["r"].collect()] == [8]
    assert _group_span(spark, "dag_dest_first")[1] <= _group_span(spark, "dag_dest_second")[0]


def test_builder_and_unregistered_view_steps_are_barriers(spark, tmp_path):
    """A builder step, and a step reading a view the pipeline did not
    register, wait for every earlier step; every later step waits for
    them."""
    p = _dag_pipeline(spark, tmp_path)
    p.register_builder("dag_probe", lambda pipe, step: pipe.table("one").selectExpr("pipe_sleep(id, 0.3) AS id"))
    spark.range(1).createOrReplaceTempView("dag_outside")
    names = ["dag_bar_a", "dag_bar_builder", "dag_bar_c", "dag_bar_view", "dag_bar_e"]
    cfg = {"steps": [
        _sleep_step(names[0], 0.5),
        {"name": names[1], "dest": names[1], "builder": "dag_probe", "materialize": True},
        _sleep_step(names[2], 0.5),
        {"name": names[3], "dest": names[3], "materialize": True,
         "sql": "SELECT pipe_sleep(id, 0.3) AS id FROM dag_outside"},
        _sleep_step(names[4], 0.5),
    ]}
    p.run(cfg)
    spans = [_group_span(spark, n) for n in names]
    for before, after in zip(spans, spans[1:]):
        assert before[1] <= after[0], (names, spans)


def _equivalence_config() -> dict:
    """Independent branches, a chain, a CTE, a subquery, a lazy step, a
    salted_join, a CSV export and an overwritten dest."""
    return {"params": {"floor": 3}, "steps": [
        {"name": "eq_big", "dest": "eq_big", "materialize": True,
         "sql": "SELECT id, id % 5 AS k, id * 2 AS v FROM nums WHERE id >= {floor}"},
        {"name": "eq_dim", "dest": "eq_dim", "materialize": True,
         "sql": "SELECT k, concat('k', k) AS label FROM keys"},
        {"name": "eq_lazy", "dest": "eq_lazy", "sql": "SELECT k, SUM(v) AS total FROM eq_big GROUP BY k"},
        {"name": "eq_join", "dest": "eq_join", "materialize": True,
         "salted_join": {"big": "eq_big", "small": "eq_dim", "key": "k", "num_salts": 4}},
        {"name": "eq_cte", "dest": "eq_cte", "materialize": True, "export_csv": "eq_cte_csv",
         "sql": """WITH top AS (SELECT k FROM eq_lazy WHERE total > 100)
                   SELECT d.k, d.label FROM eq_dim d WHERE d.k IN (SELECT k FROM top)"""},
        {"name": "eq_dim_again", "dest": "eq_dim", "materialize": True,
         "sql": "SELECT k, concat('K', k) AS label FROM keys"},
        {"name": "eq_last", "dest": "eq_last", "materialize": True,
         "sql": "SELECT d.label, COUNT(*) AS n FROM eq_join j JOIN eq_dim d USING (k) GROUP BY d.label"},
    ]}


def _equivalence_pipeline(spark, warehouse: str) -> Pipeline:
    p = Pipeline(spark, warehouse=warehouse)
    p.register("nums", spark.range(0, 200))
    p.register("keys", spark.range(0, 5).selectExpr("id AS k"))
    return p


def test_dag_run_matches_sequential_run(spark, tmp_path):
    """Every output of a DAG run has the rows of a run that calls
    run_step once per step in config order."""
    cfg = _equivalence_config()
    seq = _equivalence_pipeline(spark, str(tmp_path / "seq"))
    seq.params = dict(cfg["params"])
    expected = {}
    for step in cfg["steps"]:
        expected[step["dest"]] = sorted(seq.run_step(step).collect())
    dag = _equivalence_pipeline(spark, str(tmp_path / "dag"))
    out = dag.run(cfg)
    assert list(out) == list(expected)
    assert {dest: sorted(df.collect()) for dest, df in out.items()} == expected
    csv = spark.read.option("header", True).option("sep", "\t").csv(str(tmp_path / "dag" / "eq_cte_csv"))
    assert csv.count() == len(expected["eq_cte"])


def test_overlapped_steps_run_the_jobs_of_a_sequential_run(spark, tmp_path):
    """Two independent materialized steps run, per step job group, the
    same number of jobs overlapped as one after the other."""
    cfg = {"steps": [
        {"name": "jobs_left", "dest": "jobs_left", "materialize": True,
         "sql": "SELECT id % 7 AS k, COUNT(*) AS n FROM nums GROUP BY id % 7"},
        {"name": "jobs_right", "dest": "jobs_right", "materialize": True,
         "sql": "SELECT k, MAX(k) AS m FROM keys GROUP BY k"},
    ]}
    names = [s["name"] for s in cfg["steps"]]

    def counted(fn) -> list[int]:
        before = {n: _group_jobs(spark, n) for n in names}
        fn()
        return [len(_group_jobs(spark, n) - before[n]) for n in names]

    seq = _equivalence_pipeline(spark, str(tmp_path / "seq"))
    sequential = counted(lambda: [seq.run_step(s) for s in cfg["steps"]])
    dag = _equivalence_pipeline(spark, str(tmp_path / "dag"))
    assert dag._step_dag(cfg["steps"]) == [set(), set()]
    assert counted(lambda: dag.run(cfg)) == sequential
    assert all(sequential)


def test_dag_run_under_fast_thread_switching(spark):
    """Stress: 12 independent lazy steps and 12 steps each reading one of
    them, run with a 1 µs thread switch interval. Every output is
    registered and returned in config order, and each dependent reads its
    own source."""
    import sys
    import threading

    p = Pipeline(spark)
    p.register("src", spark.range(3))
    steps = [{"name": f"stress_{i}", "dest": f"stress_{i}", "sql": f"SELECT id + {i} AS v FROM src"}
             for i in range(12)]
    steps += [{"name": f"stress_dep_{i}", "dest": f"stress_dep_{i}", "sql": f"SELECT v FROM stress_{i}"}
              for i in range(12)]
    out: dict = {}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        runner = threading.Thread(target=lambda: out.update(p.run({"steps": steps})))
        runner.start()
        runner.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not runner.is_alive()
    assert list(out) == [s["dest"] for s in steps]
    assert all(p.tables[d] is df for d, df in out.items())
    deps = out["stress_dep_0"]
    for i in range(1, 12):
        deps = deps.unionAll(out[f"stress_dep_{i}"].selectExpr(f"v - {i} AS v"))
    assert sorted(r.v for r in deps.collect()) == sorted(list(range(3)) * 12)
