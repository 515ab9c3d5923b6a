"""Smoke + oracle tests for the driver-contract workloads.

Every registry query must run at sf0.001 with a stable schema; a fast
subset, plus the ANN family at sf0.01, is oracle-compared against DuckDB
here with tools/check.py's row hash (the full compare runs in
tools/check.py / the driver's own gate)."""

from __future__ import annotations

import duckdb
import pytest

from nextgenetl_spark.workloads import load_all
from tests.conftest import SF_SMOKE, SF_T2
from tools.check import table_hash

REGISTRY = load_all()

ORACLE_SUBSET = [
    "pricing_summary",
    "multiway_star",
    "string_agg_ordered",
    "tumbling_window",
    "exact_dedup",
    "ann_cosine_topk",
]
# The ANN family's VALUES oracles are pinned at sf0.01, so they run there.
ANN_FAMILY = [
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_lsh_multiprobe",
    "ann_ivf_topk",
    "ann_ivf_full_probe",
    "ann_pq_topk",
    "ann_pq_full_rerank",
    "ann_ivfpq_topk",
    "ann_ivfpq_full",
    "knn_label_predict",
    "hybrid_rrf_retrieval",
    "hybrid_rrf_production",
    "hybrid_rrf_persisted",
    "ann_ivfpq_append",
    "stream_ivfpq_ingest",
    "stream_ann_lookup",
]


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_workload_runs(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    assert df.columns, name
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(set(ORACLE_SUBSET) | set(ANN_FAMILY)))
def test_oracle_match(spark, name):
    sf = SF_T2 if name in ANN_FAMILY else SF_SMOKE
    wl = REGISTRY[name]
    sdf = wl.fn(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    res = con.execute(wl.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert table_hash(srows, sdf.columns) == table_hash(orows, ocols)


def test_csv_load_disposition_fixtures_follow_supplier_content(spark, tmp_path):
    """The staged supplier CSVs are keyed by supplier.parquet's content, not
    by the sf directory's path: regenerating the table in place serves the
    new rows, not the CSVs staged from the old ones. The rewrite changes
    the file's size, which content_fingerprint covers even where the
    filesystem's mtime is too coarse to move."""
    import os
    import shutil

    from nextgenetl_spark.workloads.files import _fixture_dir

    sf = str(tmp_path)
    target = os.path.join(sf, "supplier.parquet")

    def write_supplier(n):
        duckdb.sql(
            f"COPY (SELECT * FROM '{SF_SMOKE}/supplier.parquet' ORDER BY s_suppkey LIMIT {n}) "
            f"TO '{target}' (FORMAT PARQUET)"
        )

    def loaded():
        df = REGISTRY["csv_load_disposition"].fn(spark, sf)
        return sorted(r["s_suppkey"] for r in df.collect())

    staged = []
    try:
        write_supplier(4)
        staged.append(_fixture_dir(sf, "supplier"))
        assert len(loaded()) == 4
        write_supplier(6)
        staged.append(_fixture_dir(sf, "supplier"))
        new = sorted(r[0] for r in duckdb.sql(f"SELECT s_suppkey FROM '{target}'").fetchall())
        assert len(new) == 6 and loaded() == new
    finally:
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)


def test_stream_lake_publish_calls_keep_their_own_lakes(spark):
    """Each stream_lake_publish call lands its stream in a lake of its own:
    a second call, as from another process sharing the sf dir, neither
    writes into nor removes the lake the first call's result reads."""
    import os
    from urllib.parse import urlparse

    fn = REGISTRY["stream_lake_publish"].fn
    first = fn(spark, SF_SMOKE)
    want = sorted(map(tuple, first.collect()))
    files = first.inputFiles()
    second = fn(spark, SF_SMOKE)
    assert not set(files) & set(second.inputFiles())
    assert files and all(os.path.exists(urlparse(f).path) for f in files)
    assert sorted(map(tuple, first.collect())) == want == sorted(map(tuple, second.collect()))


def test_salted_join_matches_plain_join(spark):
    from nextgenetl_spark.operators.joins import salted_join
    from nextgenetl_spark.catalog import load
    from tests.conftest import SF_SMOKE

    li = load(spark, SF_SMOKE, "lineitem")
    part = load(spark, SF_SMOKE, "part").select("p_partkey", "p_brand")
    plain = (
        li.join(part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey")
        .groupBy("p_brand").count().collect()
    )
    salted = (
        salted_join(li, part.withColumnRenamed("p_partkey", "l_partkey"), on="l_partkey", num_salts=8)
        .groupBy("p_brand").count().collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_auto_decision_and_equivalence(spark):
    """salted_join_auto (round-11, the estimator layer's planner consumer):
    the CMS-backed skew decision fires on a pathological key (40% of rows
    on one key → hot_share_ub ≥ 0.4 ≥ 0.10 → salted branch), stays off on
    a uniform key (share ~1/500), never underestimates the hot share, and
    both branches return the plain join's rows."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.joins import salted_join_auto, skew_decision
    from nextgenetl_spark.operators.agg import cms_build

    # skewed fact: 4000 of 10000 rows on key 7; 500 cold keys share the rest
    skewed = spark.range(10000).select(
        F.when(F.col("id") < 4000, F.lit(7)).otherwise(F.col("id") % 500).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    uniform = spark.range(10000).select(
        (F.col("id") % 500).alias("k"), (F.col("id") * 2).alias("v")
    )
    dim = spark.createDataFrame([(i, f"L{i}") for i in range(500)], ["k", "label"])

    dec_skew: dict = {}
    got_skew = salted_join_auto(
        skewed, dim, "k", num_salts=8, decision_out=dec_skew, estimate_join_size=True
    )
    assert dec_skew["salt"] is True
    # hot bound is SOUND: ≥ the true hot share (0.4 + key 7's cold echo)
    assert dec_skew["hot_share_ub"] >= 0.4
    assert dec_skew["total_rows"] == 10000
    # inner-product estimate never under the true join size (10000: every
    # fact row matches exactly one dim row)
    assert dec_skew["est_join_size"] >= 10000

    dec_uni: dict = {}
    got_uni = salted_join_auto(uniform, dim, "k", decision_out=dec_uni)
    assert dec_uni["salt"] is False
    assert dec_uni["est_join_size"] is None  # small side never sketched

    for got, fact in ((got_skew, skewed), (got_uni, uniform)):
        plain = fact.join(dim, "k")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, plain.collect())
        )
        assert got.columns == plain.columns

    # pre-built sketches (the 100-TB ingest-artifact shape) reach the same
    # decision without touching the join inputs again
    cb = cms_build(skewed.select(F.col("k").cast("string").alias("k")), "k")
    d2 = skew_decision(cb)
    assert d2["salt"] is True and d2["total_rows"] == 10000


def test_approx_distinct_within_error_bound(spark):
    """HLL++ at rsd=0.01 must land within 5% of exact COUNT(DISTINCT)."""
    from pyspark.sql import functions as F

    row = REGISTRY["approx_distinct_profile"].fn(spark, SF_SMOKE).collect()[0]
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_suppkey").alias("s"),
        F.countDistinct("l_orderkey").alias("o"),
    ).collect()[0]
    for approx, true in [
        (row["approx_parts"], exact["p"]),
        (row["approx_supps"], exact["s"]),
        (row["approx_orders"], exact["o"]),
    ]:
        assert abs(approx - true) <= 0.05 * true, (approx, true)


def test_events_load_value_preserving_under_non_utc_session(spark):
    """catalog.load must yield identical epoch instants no matter what
    timezone the caller's session runs in (the NTZ->TIMESTAMP cast
    reinterprets wall-clock values, so load pins UTC at the cast site)."""
    from pyspark.sql import functions as F

    import pyarrow.parquet as pq

    from nextgenetl_spark.catalog import load

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = load(spark, SF_SMOKE, "events").agg(
            F.min(F.unix_timestamp("ts")).alias("lo"),
            F.max(F.unix_timestamp("ts")).alias("hi"),
        ).collect()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    ts = pq.read_table(f"{SF_SMOKE}/events.parquet", columns=["ts"])["ts"]
    import pyarrow.compute as pc

    # tz-naive parquet micros are UTC instants by the engine's contract
    lo = pc.min(ts).value // 1_000_000
    hi = pc.max(ts).value // 1_000_000
    assert (got["lo"], got["hi"]) == (lo, hi)


def test_scd2_intervals_chain_per_key(spark):
    """SCD2 validity intervals must chain (valid_to == next valid_from),
    have exactly one open (current) interval per key, and never overlap."""
    rows = REGISTRY["scd2_order_history"].fn(spark, SF_SMOKE).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["user_id"], []).append(r)
    assert by_key
    for recs in by_key.values():
        recs.sort(key=lambda r: (r["valid_from"], r["event_id"]))
        assert sum(r["is_current"] for r in recs) == 1
        assert recs[-1]["valid_to"] is None and recs[-1]["is_current"]
        for prev, nxt in zip(recs, recs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]


def test_merge_upsert_update_wins_and_retains(spark):
    """Upsert semantics: every update key appears exactly once with the
    updated values; target rows without an update survive unchanged; no
    key appears twice."""
    from pyspark.sql import functions as F

    out = REGISTRY["merge_upsert_orders"].fn(spark, SF_SMOKE)
    rows = out.collect()
    keys = [r["o_orderkey"] for r in rows]
    assert len(keys) == len(set(keys))
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    upd_keys = {r["o_orderkey"] for r in o.filter(F.col("o_orderkey") % 7 == 0).collect()}
    base_keys = {r["o_orderkey"] for r in o.filter(F.col("o_orderkey") % 5 != 0).collect()}
    got_upserts = {r["o_orderkey"] for r in rows if r["action"] == "upsert"}
    assert got_upserts == upd_keys  # includes inserts (upd keys not in base)
    assert {r["o_orderkey"] for r in rows} == upd_keys | base_keys
    for r in rows:
        if r["action"] == "upsert":
            assert r["o_orderstatus"] == "U"


def test_skew_report_flags_hot_key(spark):
    from pyspark.sql import functions as F

    from tools.skew_report import skew_report

    # 50 uniform keys x 10 rows + one hot key with 2000 rows
    uni = spark.range(0, 500).select((F.col("id") % 50).alias("k"))
    hot = spark.range(0, 2000).select(F.lit(999).alias("k"))
    rep = skew_report(uni.unionByName(hot), "k")
    assert rep["skewed"] and rep["skew_ratio"] >= 100
    assert rep["top_keys"][0] == {"key": 999, "n": 2000}
    uniform = skew_report(uni, "k")
    assert not uniform["skewed"]


def test_boilerplate_scrub_drops_shared_chunks_and_preserves_order(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.workloads.text import boilerplate_scrub

    out = boilerplate_scrub(spark, SF_SMOKE)
    rows = {r["doc_id"]: r for r in out.collect()}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(rows) == set(orig)
    dropped_total = sum(r["n_dropped"] for r in rows.values())
    assert dropped_total > 0  # corpus contains cross-doc repeated chunks
    for doc_id, r in rows.items():
        toks = orig[doc_id].split(" ")
        chunks = [" ".join(toks[i : i + 8]) for i in range(0, len(toks), 8)]
        if r["n_dropped"] == 0:
            assert r["scrubbed_text"] == orig[doc_id]
        else:
            # surviving text is the in-order concatenation of a subset of
            # the original non-overlapping chunks
            kept = r["scrubbed_text"].split(" ") if r["scrubbed_text"] else []
            matched = _rechunk(kept, chunks)
            assert " ".join(matched) == r["scrubbed_text"]
            assert len(matched) == len(chunks) - r["n_dropped"]


def _rechunk(kept_tokens, chunks):
    """Greedy re-segmentation of the scrubbed token stream back into the
    original chunk sequence (chunks are non-overlapping, so the kept text is
    the in-order concatenation of a subset of them)."""
    out, i = [], 0
    for ck in chunks:
        n = len(ck.split(" "))
        if kept_tokens[i : i + n] == ck.split(" "):
            out.append(ck)
            i += n
    return out


def test_nearest_centroid_matches_bruteforce(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from nextgenetl_spark.operators.similarity import cosine, nearest_centroid

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    got = {r["vec_id"]: (r["centroid_id"], r["sim"]) for r in nearest_centroid(emb, cent).collect()}
    # expression-form brute force as the independent reference
    ref_rows = (
        emb.crossJoin(cent.hint("broadcast"))
        .select(
            "vec_id",
            "centroid_id",
            F.round(cosine(F.col("embedding"), F.col("cvec")), 4).alias("sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("sim"), "centroid_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    )
    ref = {r["vec_id"]: (r["centroid_id"], r["sim"]) for r in ref_rows}
    assert set(got) == set(ref)
    for k in got:
        assert got[k][0] == ref[k][0]
        assert abs(got[k][1] - ref[k][1]) <= 1e-4


def test_gopher_rules_flags_constructed_docs(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators import textstats as TS

    good = "the quick brown fox jumps over a lazy dog and runs to the hills in the morning is bright"
    short = "too short"
    symbols = "the $$$ %%% @@@ ### !!! ((( ))) *** &&& ^^^ the of and to in is one two three four"
    repeated = " ".join(["spam"] * 40) + " the of"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, repeated)], ["doc_id", "text"]
    )
    toks = TS.tokens("text")
    nc = F.length("text")
    n_words = F.size(toks)
    out = df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(F.length(F.array_join(toks, "")).cast("double") / n_words, 4).alias("mean_word_len"),
        F.round((nc - F.length(F.regexp_replace("text", r"[^a-zA-Z0-9 ]", ""))).cast("double") / nc, 4).alias("symbol_ratio"),
        F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in TS.STOPWORDS["en"]]))).alias("n_stop_hits"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_words, 4).alias("uniq_ratio"),
    ).withColumn(
        "keep",
        F.col("n_words").between(15, 10000)
        & F.col("mean_word_len").between(2, 10)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("n_stop_hits") >= 2)
        & (F.col("uniq_ratio") > 0.2),
    )
    r = {row["doc_id"]: row for row in out.collect()}
    assert r[1]["keep"] is True
    assert r[2]["keep"] is False  # word count below floor
    assert r[3]["keep"] is False and r[3]["symbol_ratio"] >= 0.1
    assert r[4]["keep"] is False and r[4]["uniq_ratio"] <= 0.2


def test_char_entropy_extremes(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.workloads import load_all

    # uniform 4-char alphabet -> exactly 2 bits; single char -> 0 bits
    df = spark.createDataFrame([(1, "abcd" * 10), (2, "aaaaaaaa")], ["doc_id", "text"])
    counts = (
        df.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ent = counts.groupBy("doc_id").agg(
        F.round(F.log2(F.sum("n")) - F.sum(F.col("n") * F.log2("n")) / F.sum("n"), 4).alias("h")
    )
    r = {row["doc_id"]: row["h"] for row in ent.collect()}
    assert r[1] == 2.0
    assert r[2] == 0.0


def test_fuzzy_pairs_and_best_match_reference(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.linkage import best_fuzzy_match, fuzzy_pairs

    df = spark.createDataFrame(
        [("red widget",), ("red widgets",), ("red wagon",), ("blue bolt",), ("blue boat",)],
        ["name"],
    )
    pairs = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in fuzzy_pairs(df, "name", F.split("name", " ")[0], max_dist=3).collect()
    }
    # levenshtein ground truth within first-token blocks
    assert pairs[("red widget", "red widgets")] == 1
    assert pairs[("blue boat", "blue bolt")] == 1
    assert ("red wagon", "red widget") not in pairs  # dist 4 > max_dist 3
    assert all(a.split(" ")[0] == b.split(" ")[0] for a, b in pairs)

    best = {r["name"]: (r["match"], r["dist"]) for r in
            best_fuzzy_match(df, "name", F.split("name", " ")[0], max_dist=3).collect()}
    assert best["red widget"] == ("red widgets", 1)
    assert best["blue bolt"] == ("blue boat", 1)
    assert "red wagon" not in best or best["red wagon"][1] <= 3


def test_fuzzy_pairs_guard_rejects_unbounded_block(spark):
    import pytest
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.linkage import fuzzy_pairs

    big = spark.range(0, 50).select(F.concat(F.lit("x name"), F.col("id")).alias("name"))
    with pytest.raises(Exception, match="fuzzy_pairs"):
        fuzzy_pairs(big, "name", F.split("name", " ")[0], max_dist=3, max_block_rows=10).count()


def test_hll_rollup_tracks_exact_distincts(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.workloads.events import hll_user_rollup

    est = {(r["grain"], r["key"]): r["est_users"] for r in hll_user_rollup(spark, SF_SMOKE).collect()}
    from nextgenetl_spark.catalog import load

    e = load(spark, SF_SMOKE, "events").select(
        F.to_date("ts").cast("string").alias("day"), "event_type", "user_id"
    )
    exact_day = {r["day"]: r["n"] for r in e.groupBy("day").agg(F.countDistinct("user_id").alias("n")).collect()}
    exact_total = e.select("user_id").distinct().count()
    for day, n in exact_day.items():
        assert abs(est[("day", day)] - n) <= max(2, 0.03 * n), (day, est[("day", day)], n)
    assert abs(est[("total", "*")] - exact_total) <= max(2, 0.03 * exact_total)


def test_two_phase_merge_equals_direct_aggregation(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.workloads.events import two_phase_merge_agg

    merged = {r["event_type"]: r for r in two_phase_merge_agg(spark, SF_SMOKE).collect()}
    direct = {
        r["event_type"]: r
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.round(F.min("value"), 4).alias("value_min"),
            F.round(F.max("value"), 4).alias("value_max"),
        )
        .collect()
    }
    assert set(merged) == set(direct)
    for t in merged:
        assert merged[t]["n"] == direct[t]["n"]
        assert abs(merged[t]["value_sum"] - direct[t]["value_sum"]) < 0.02
        assert merged[t]["value_min"] == direct[t]["value_min"]
        assert merged[t]["value_max"] == direct[t]["value_max"]


def test_value_outliers_are_true_tail(spark):
    """Every flagged row must sit beyond 2 sample stddevs of its type's
    mean, and no unflagged row may sit beyond 2.001 (rounding guard)."""
    import statistics

    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.workloads.events import value_outliers

    flagged = {(r["event_id"]): r for r in value_outliers(spark, SF_SMOKE).collect()}
    rows = load(spark, SF_SMOKE, "events").select("event_id", "event_type", "value").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        vals = [r["value"] for r in rs]
        mu = statistics.fmean(vals)
        sd = statistics.stdev(vals)
        for r in rs:
            z = (r["value"] - mu) / sd
            if abs(z) > 2.001:
                assert r["event_id"] in flagged, (t, r["event_id"], z)
            elif abs(z) < 1.999:
                assert r["event_id"] not in flagged, (t, r["event_id"], z)


def test_events_nanos_parquet_reads_without_session_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file must load through catalog.load with
    NO reliance on spark.sql.legacy.parquet.nanosAsLong (the explicit
    LongType read schema replaces the conf — round-2 verdict asked for
    zero session-conf writes outside session.py). Prove it on a session
    where the legacy conf is explicitly OFF."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nextgenetl_spark.catalog import load

    wall = [dt.datetime(2024, 1, 1, 12, 0, 0), dt.datetime(2024, 1, 2, 3, 4, 5)]
    t = pa.table(
        {
            "ts": pa.array(wall, type=pa.timestamp("ns")),
            "user_id": pa.array([1, 2], type=pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))

    ns = spark.newSession()
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = load(ns, str(tmp_path), "events")
    from pyspark.sql import types as T

    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(r["us"] for r in df.select(F.unix_micros("ts").alias("us")).collect())
    want = sorted(int(w.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for w in wall)
    assert got == want


def test_events_nanos_directory_table_loads(spark, tmp_path):
    """A directory-shaped TIMESTAMP(NANOS) events table (a multi-file
    ``events.parquet/``) loads through catalog.load: the explicit read
    schema comes from the first part's footer, not from the table path."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nextgenetl_spark.catalog import load

    wall = [dt.datetime(2024, 1, 1, 12, 0, 0), dt.datetime(2024, 1, 2, 3, 4, 5)]
    table = tmp_path / "events.parquet"
    table.mkdir()
    for i, w in enumerate(wall):
        t = pa.table(
            {
                "ts": pa.array([w], type=pa.timestamp("ns")),
                "user_id": pa.array([i], type=pa.int64()),
            }
        )
        pq.write_table(t, str(table / f"part-{i}.parquet"))

    df = load(spark.newSession(), str(tmp_path), "events")
    got = sorted(r["us"] for r in df.select(F.unix_micros("ts").alias("us")).collect())
    want = sorted(int(w.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for w in wall)
    assert got == want


def test_catalog_load_never_writes_session_conf(spark):
    """load() must be conf-pure: reading every table leaves the caller's
    runtime SQL conf byte-identical (round-1 ask #8 / round-2 verdict #3)."""
    from nextgenetl_spark.catalog import TABLES, load

    probes = [
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ]
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    before = {k: ns.conf.get(k, None) for k in probes}
    for name in TABLES:
        load(ns, SF_SMOKE, name)
    after = {k: ns.conf.get(k, None) for k in probes}
    assert before == after

def test_rotation_promotes_entry_that_gained_an_oracle():
    """Round-7 rotation fix: an entry whose only CORRECTNESS history is
    `err: no_oracle` must re-enter the UNVERIFIED tier (front of the
    registry order) once its workload carries an oracle — otherwise the
    driver's 50-query budget would never earn it a real green hash row.
    compression_ratio is the live instance this round; the assertions stay
    valid afterward because hash-green evidence then keeps it verified."""
    from nextgenetl_spark.workloads import _oracle_verified, load_all

    green = _oracle_verified()
    reg = load_all()
    order = list(reg)
    # every name whose history is no_oracle-only is encoded as a NEGATIVE
    # round by _oracle_verified ...
    neg = [n for n, rnd in green.items() if rnd < 0]
    for n in neg:
        if n in reg and reg[n].oracle is not None:
            # ... and, having an oracle now, must sort into the unverified
            # tier: ahead of every hash-green verified entry
            first_verified = min(
                order.index(v) for v, rnd in green.items() if rnd > 0 and v in reg
            )
            assert order.index(n) < first_verified, n

def test_rotation_promotes_rows_only_green_that_gained_an_oracle():
    """Round-8 rotation fix (round-7 ADVICE #3): an entry whose green
    history is ROWS-ONLY (the driver's weaker ∅-oracle check records
    rows_match with no hash_match key) must re-enter the unverified tier
    once its workload carries an oracle — symmetric with the no_oracle
    path. ann_ivf_topk is the live instance this round (rows-only greens
    r1-r7, VALUES oracle gained in r8); the assertion stays valid
    afterward because a real hash-green row then keeps it verified."""
    from nextgenetl_spark.workloads import _oracle_verified, load_all

    green = _oracle_verified()
    reg = load_all()
    order = list(reg)
    # ann_ivf_topk carries an oracle now
    assert reg["ann_ivf_topk"].oracle is not None
    if green.get("ann_ivf_topk", 0) < 0:
        # rows-only history ⇒ must sort ahead of every hash-green entry
        first_verified = min(
            order.index(v) for v, rnd in green.items() if rnd > 0 and v in reg
        )
        assert order.index("ann_ivf_topk") < first_verified

def test_kmv_estimate_within_error_bound(spark):
    """The KMV twin must track exact COUNT(DISTINCT) within ~3σ of its
    1/√k error (k=256 → σ≈6.25%), and be EXACT below k distinct values
    (the sketch then is the full hash set — l_suppkey at sf0.001/0.01)."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.workloads.relational import kmv_distinct_profile

    est = {
        r["field"]: r["est_distinct"]
        for r in kmv_distinct_profile(spark, SF_SMOKE).collect()
    }
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_suppkey").alias("supps"),
        F.countDistinct("l_orderkey").alias("orders"),
    ).collect()[0]
    for field in ("parts", "supps", "orders"):
        true = exact[field]
        if true < 256:
            assert est[field] == float(true), (field, est[field], true)
        else:
            assert abs(est[field] - true) <= 0.20 * true, (field, est[field], true)


def test_kmv_merge_equals_direct_build(spark):
    """The mergeability identity behind kmv_user_rollup: union-then-trim
    of per-cell KMV sketches must BIT-EQUAL the sketch built directly on
    the union — any hash among the union's k smallest is among its own
    cell's k smallest. Checked at a small k so trimming actually bites."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.operators.agg import kmv_build, kmv_merge

    e = load(spark, SF_SMOKE, "events").select(
        F.to_date("ts").cast("string").alias("day"), "event_type", "user_id"
    )
    k = 4
    cells = kmv_build(e, "user_id", by=("day", "event_type"), k=k)
    merged = {
        r["event_type"]: list(r["m"])
        for r in cells.groupBy("event_type").agg(kmv_merge(F.col("kmv"), k).alias("m")).collect()
    }
    direct = {
        r["event_type"]: list(r["kmv"])
        for r in kmv_build(e, "user_id", by=("event_type",), k=k).collect()
    }
    assert merged == direct
    # at least one cell actually trimmed (distinct users per cell > k)
    assert any(len(v) == k for v in direct.values())


def test_kmv_intersection_estimates(spark):
    """The Theta set-operation estimators (round 10): (a) EXACT mode —
    both sketches under k return the exact intersection/union counts;
    (b) mixed mode — one full sketch, θ = its h_k, the estimate stays in
    a recall-safe band; (c) estimate mode — two 6000/4000-element sets
    with a known 2000-element overlap estimate within ~4/√k relative
    error at k=256; (d) disjoint sets estimate 0."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import (
        kmv_build,
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_pair_union,
    )

    def sketch_pair(items_a, items_b, k):
        df = spark.createDataFrame(
            [("a", x) for x in items_a] + [("b", x) for x in items_b],
            "side string, item long",
        )
        sk = kmv_build(df, "item", by=["side"], k=k)
        a = sk.filter(F.col("side") == "a").select(F.col("kmv").alias("ka"))
        b = sk.filter(F.col("side") == "b").select(F.col("kmv").alias("kb"))
        row = (
            a.crossJoin(b)
            .select(
                kmv_intersect_estimate(F.col("ka"), F.col("kb"), k).alias("i"),
                kmv_estimate(kmv_pair_union(F.col("ka"), F.col("kb"), k), k).alias("u"),
            )
            .collect()[0]
        )
        return row["i"], row["u"]

    # (a) exact mode: both sides under k
    i, u = sketch_pair(range(30), range(20, 50), k=256)
    assert i == 10.0 and u == 50.0

    # (d) disjoint exact
    i, u = sketch_pair(range(30), range(100, 130), k=256)
    assert i == 0.0 and u == 60.0

    # (c) estimate mode: |A|=6000, |B|=4000, |A∩B|=2000, |A∪B|=8000
    A = range(0, 6000)
    B = range(4000, 8000)
    i, u = sketch_pair(A, B, k=256)
    assert abs(i - 2000) / 2000 < 4 / (256 ** 0.5), i   # ±25%
    assert abs(u - 8000) / 8000 < 2 / (256 ** 0.5), u   # ±12.5%

    # (b) mixed mode: a 40-element exact side against the 6000-element
    # estimating side, true overlap 40 (subset)
    i, u = sketch_pair(range(1000, 1040), A, k=256)
    assert 0 < i < 200, i  # θ = full side's h_k; sampled subset scaled up
    assert abs(u - 6040) / 6040 < 2 / (256 ** 0.5), u


def test_cms_inner_product_join_size(spark):
    """cms_inner_product (round 10): the CMS inner-product join-size
    estimator never underestimates, is near-exact when the width makes
    collisions rare, and stays a bounded overestimate when collisions are
    forced (width=32 over 450 keys)."""
    import random

    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import cms_build, cms_inner_product

    rng = random.Random(83)
    fa = {v: rng.randint(1, 20) for v in range(300)}
    fb = {v: rng.randint(1, 20) for v in range(150, 450)}
    true = sum(fa[v] * fb[v] for v in fa if v in fb)
    n1, n2 = sum(fa.values()), sum(fb.values())
    A = spark.createDataFrame([(str(v),) for v, n in fa.items() for _ in range(n)], "k string")
    B = spark.createDataFrame([(str(v),) for v, n in fb.items() for _ in range(n)], "k string")

    est_wide = cms_inner_product(
        cms_build(A, "k", depth=4, width=4096), cms_build(B, "k", depth=4, width=4096)
    ).first()["est_join_size"]
    assert est_wide >= true
    # expected collision mass per hash row is n1*n2/width; min over depth
    # rows stays within a few multiples of it (measured +1565 vs E=2423
    # here — inside one expectation)
    assert est_wide <= true + 4 * n1 * n2 / 4096, (est_wide, true)

    est_narrow = cms_inner_product(
        cms_build(A, "k", depth=4, width=32), cms_build(B, "k", depth=4, width=32)
    ).first()["est_join_size"]
    assert est_narrow >= true
    # one hash row's expected collision mass is n1*n2/width; the min over
    # depth rows concentrates well under a few multiples of it
    assert est_narrow <= true + 4 * n1 * n2 / 32, (est_narrow, true)

    # weighted build (pre-aggregated (item, count) rows) gives the same
    # sketch, hence the same estimate
    Aw = spark.createDataFrame([(str(v), n) for v, n in fa.items()], "k string, n long")
    Bw = spark.createDataFrame([(str(v), n) for v, n in fb.items()], "k string, n long")
    est_w = cms_inner_product(
        cms_build(Aw, "k", depth=4, width=4096, weight_col="n"),
        cms_build(Bw, "k", depth=4, width=4096, weight_col="n"),
    ).first()["est_join_size"]
    assert est_w == est_wide

    # DISJOINT key sets at a wide width: with high probability at least
    # one hash row has zero colliding buckets — its inner product is 0 and
    # proves the true join size is 0, so the estimate must be exactly 0
    # (not NULL, not a collision-only positive; round-10 ADVICE #1)
    C = spark.createDataFrame([(f"left_{v}",) for v in range(20)], "k string")
    D = spark.createDataFrame([(f"right_{v}",) for v in range(20)], "k string")
    row = cms_inner_product(
        cms_build(C, "k", depth=4, width=4096), cms_build(D, "k", depth=4, width=4096)
    ).collect()
    assert len(row) == 1 and row[0]["est_join_size"] == 0, row


def test_qhist_oracle_clamps_before_int_cast(spark):
    """The value_quantile_sketch DuckDB oracle must survive a heavy-tail
    value whose floored bin exceeds INT32 (ADVICE: workloads/events.py —
    clamp on BIGINT first, then cast), and still match qhist exactly."""
    from nextgenetl_spark.operators.agg import qhist_build, qhist_quantiles
    from nextgenetl_spark.workloads import load_all

    oracle = load_all()["value_quantile_sketch"].oracle
    vals = [float(v) for v in range(0, 500, 7)] + [-3.0, 6.0e9, None]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = qhist_quantiles(
        qhist_build(df, "value", lo=0.0, hi=500.0, n_bins=256),
        [0.5, 0.9, 0.99],
        lo=0.0,
        hi=500.0,
        n_bins=256,
    )
    spark_rows = sorted((r["q"], r["value"]) for r in got.collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES %s) AS t(value)"
        % ", ".join("(CAST(%s AS DOUBLE))" % ("NULL" if v is None else repr(v)) for v in vals)
    )
    # pre-fix this raised a conversion error on the 6e9 row
    duck_rows = sorted(tuple(r) for r in con.execute(oracle).fetchall())
    assert spark_rows == duck_rows
