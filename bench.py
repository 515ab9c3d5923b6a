"""Benchmark harness: runs the headline workload queries at
$SPARK_GRAFT_SF_DIR (default ``session.DEFAULT_SF_DIR``) on the factory
session and prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Per-query wall time is measured after a session warm-up job so JVM/session
startup isn't attributed to the first query. Results are forced with
collect() for small outputs and count() for large ones (no driver-side
materialization of big results — same as a real pipeline sink would do).
The Spark side is timed by ``tools/prof_query.profile``, so every rep also
records its layers (Catalyst phases, jobs, tasks, executor CPU/GC, shuffle,
spill, driver gap) in BENCH_DETAIL.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nextgenetl_spark.catalog import TABLES
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark
from nextgenetl_spark.workloads import load_all

# name -> force mode ("collect" for small outputs, "count" for large)
HEADLINE = {
    "pricing_summary": "collect",
    "multiway_star": "collect",
    "clinical_wide_join": "count",
    "clinical_wide_join_pdc": "count",
    "left_join_counts": "count",
    "pull_list_join": "count",
    "window_max": "count",
    "symmetric_diff": "count",
    "string_agg_ordered": "collect",
    "tumbling_window": "count",
    "sessionize": "count",
    "packed_multivalue": "count",
    "explode_tokens": "collect",
    "exact_dedup": "count",
    "ngram_jaccard_pairs": "count",
    "near_dup_pairs_auto": "count",
    "minhash_near_dup": "count",
    "minhash_md5_near_dup": "count",
    "simhash_md5_dedup": "count",
    "ann_ivf_full_probe": "count",
    "ann_cosine_topk": "count",
    "token_stats": "count",
    "embedding_near_dup": "count",
    "embedding_near_dup_auto": "count",
    "matrix_melt": "count",
    "sliding_window": "count",
    "wide_group_dedup": "count",
    "multimodal_decode": "count",
    "simhash_dedup": "count",
    "scalar_surface": "count",
    "hash_split": "count",
    "doc_length_quantiles": "collect",
    "near_dup_groups": "count",
    "stream_sessionize": "count",
    "window_rank_family": "count",
    "rollup_profile": "collect",
    "pivot_flags": "count",
    "pipeline_chain": "collect",
    "partition_pruning": "collect",
    "stream_sliding_window": "count",
    "doc_repetition": "count",
    "passage_dedup": "count",
    "asof_purchase_view": "count",
    "near_dup_groups_star": "count",
    "tfidf_top_terms": "count",
    "ngram_counts": "count",
    "vocab_build": "collect",
    "mixture_token_budget": "count",
    "compression_ratio": "count",
    "stream_interval_join": "count",
    "curation_pipeline": "count",
    "pii_scrub": "count",
    "training_assembly": "count",
    "pack_context_windows": "count",
    "greedy_bin_pack": "count",
    "semantic_dedup_keep": "count",
    "unigram_logprob_score": "count",
    "grouping_sets_profile": "collect",
    "source_capped_sample": "count",
    "stream_static_enrich": "collect",
    "stream_history_antijoin": "count",
    "stream_lake_publish": "collect",
    "scd2_order_history": "count",
    "keep_latest_per_key": "count",
    "funnel_conversion": "collect",
    "normalized_dedup": "count",
    "merge_upsert_orders": "count",
    "source_data_card": "collect",
    "char_entropy": "count",
    "gopher_rules": "count",
    "oov_rate": "count",
    "boilerplate_scrub": "count",
    "kmeans_assign": "count",
    "cluster_cohesion": "collect",
    "fuzzy_name_pairs": "count",
    "fuzzy_best_match": "count",
    "hll_user_rollup": "collect",
    "value_outliers": "count",
    "debounce_events": "count",
    "metric_correlations": "collect",
    "central_tendency": "count",
    "trend_slopes": "collect",
    "two_phase_merge_agg": "collect",
    "phash_near_dup": "count",
    "corpus_manifest": "collect",
    "basket_pairs": "count",
    "quality_percentiles": "count",
    "knn_label_predict": "count",
    "label_centroids": "count",
    "equidepth_histogram": "collect",
    "price_histogram": "collect",
    "forecast_revenue_delta": "collect",
    "shipping_priority": "collect",
    "stream_debounce": "count",
    "incremental_near_dup": "count",
    "variant_props": "count",
    "tsv_export_roundtrip": "count",
    "csv_load_disposition": "count",
    "flatten_merged_single": "count",
    "flatten_deep_single": "count",
    "wide_group_dedup_140": "count",
    "phash_pixels_near_dup": "count",
    "info_schema_columns": "collect",
    "info_schema_tables": "collect",
    "persisted_view_roundtrip": "collect",
    "shard_shuffle": "count",
    "term_cms_counts": "collect",
    "fixed_width_load": "count",
    "doc_chunk_overlap": "count",
    "bloom_membership": "count",
    "bm25_topk": "collect",
    "stream_bloom_gate": "count",
    "value_quantile_sketch": "collect",
    "time_ingest": "count",
    "stream_value_quantiles": "count",
    "temperature_mixture": "count",
    # round 8: IVF with the now-deterministic Lloyd walk (VALUES-pinned —
    # auto-excluded from comparative DuckDB totals), the KMV twins, and the
    # clusterability QC
    "ann_ivf_topk": "count",
    "kmv_distinct_profile": "collect",
    "kmv_user_rollup": "collect",
    "embedding_contrast_qc": "collect",
    # round 8 (cont.): the PQ compressed-ANN path (VALUES-pinned production
    # point + its brute-force-equivalent machinery pin) and deterministic
    # Efraimidis–Spirakis weighted sampling
    "ann_pq_topk": "count",
    "ann_pq_full_rerank": "count",
    "weighted_source_sample": "count",
    # round 8 (cont.): the composed IVF-PQ index shape (VALUES-pinned
    # production point + its brute-force-degenerate FULL-oracle pin)
    "ann_ivfpq_topk": "count",
    "ann_ivfpq_full": "count",
    # round 8 (cont.): hybrid retrieval — RRF fusion of dense + lexical legs
    "hybrid_rrf_retrieval": "collect",
    # round 9: fractional-weight Efraimidis–Spirakis (the r8 ADVICE clamp
    # bug's driver-paired regression pin)
    "quality_weighted_sample": "count",
    # round 10: production-shape hybrid retrieval — rrf over IVF-PQ (all-auto
    # knobs, VALUES-pinned dense leg) + multi-query posting-agg BM25; the
    # _persisted twin queries the staged index (auto knobs from meta, no
    # corpus re-measurement — the serving path)
    "hybrid_rrf_production": "collect",
    "hybrid_rrf_persisted": "collect",
    # round 10: incremental IVF-PQ maintenance — build on history, append
    # the new batch (frozen centroids/codebooks), full-probe query = brute
    # force over the union (staged; the run measures the query path)
    "ann_ivfpq_append": "count",
    # round 10: the streamed form — real availableNow ingest into a per-run
    # copy of the staged history index via foreachBatch append
    "stream_ivfpq_ingest": "count",
    # round 10: Theta set-operation estimators — pairwise overlap/union/
    # jaccard of heavy-user bases from 64-hash KMV sketches
    "kmv_set_overlap": "collect",
    # round 10: CMS inner-product join-size estimation (est vs exact per
    # event-type pair)
    "cms_join_size": "collect",
    # round 10: TPC-H Q21 shape — double correlated EXISTS/NOT-EXISTS as a
    # single per-order aggregate (no fact self-join)
    "waiting_supplier": "collect",
    # round 11: CMS-driven automatic skew decision (estimator-layer planner
    # consumer) — sketch, decide, salt, join, agg in one entry
    "skew_auto_join": "collect",
    # round 11: TPC-H Q17 shape — correlated scalar-agg subquery as one
    # scan + one window (no rejoin)
    "small_quantity_revenue": "collect",
}


def _box_health() -> dict:
    """Environment snapshot recorded with every bench run (round-8 verdict
    ask #2: the r8 record froze ~1.4× both-engine wall inflation from a
    balloon-squeezed page cache + steal, and adjudicating it took forensic
    work — now the record carries the evidence). Fields: page cache /
    free / balloon MiB from /proc/meminfo, 1-min loadavg, and steal% over
    a 1s /proc/stat sample."""
    health: dict = {}
    try:
        mem = {}
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                k, _, rest = line.partition(":")
                mem[k] = int(rest.split()[0])  # kB
        health["cached_mib"] = mem.get("Cached", 0) // 1024
        health["free_mib"] = mem.get("MemFree", 0) // 1024
        health["balloon_mib"] = mem.get("Balloon", 0) // 1024
        with open("/proc/loadavg", encoding="ascii") as fh:
            health["loadavg_1m"] = float(fh.read().split()[0])

        def cpu_sample():
            with open("/proc/stat", encoding="ascii") as fh:
                parts = fh.readline().split()[1:]
            vals = [int(x) for x in parts]
            return sum(vals), vals[7] if len(vals) > 7 else 0  # total, steal

        t1, s1 = cpu_sample()
        time.sleep(1.0)
        t2, s2 = cpu_sample()
        health["steal_pct"] = round(100.0 * (s2 - s1) / max(1, t2 - t1), 2)
    except OSError:
        health["error"] = "unreadable /proc"
    return health


# Each query runs 1 cold + 2 warm reps back to back; the reported time is
# the MIN across reps: steady-state throughput, excluding one-time
# whole-stage-codegen compilation (~0.5-3s/query; a warm rep pays none
# because its classes are still in the codegen cache, which
# session.CODEGEN_CACHE_ENTRIES sizes so that queries run between the reps
# do not evict them either: each rep's record counts its compiles in
# codegen_compiles) AND single-run host noise (multiway_star
# once swung 1.94→5.62s between two healthy-box records on a byte-identical
# plan — one warm run is not a trustworthy wall on a VM; the min of 3 is).
# A query whose cold rep reaches REPEAT_MAX_SEC gets one warm rep, to bound
# total bench time — its multi-second walls drown scheduler jitter anyway.
REPEAT_MAX_SEC = 10.0


def spark_side(spark, names: list[str], sf_dir: str) -> tuple[dict[str, float], dict[str, list[dict]]]:
    """Time ``names`` by the rule above through ``prof_query.profile``.
    Returns each query's min wall and its reps' layer records."""
    from tools.prof_query import profile

    reps: dict[str, list[dict]] = {}
    for rec in profile(spark, names, sf_dir, reps=3, long_s=REPEAT_MAX_SEC):
        reps.setdefault(rec.pop("query"), []).append(rec)
    return {name: round(min(r["wall_s"] for r in rs), 3) for name, rs in reps.items()}, reps


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    health_pre = _box_health()
    registry = load_all()
    spark = get_spark("bench")
    # warm-up: touch the session + parquet footers once
    spark.range(1000).selectExpr("sum(id)").collect()

    timings, spark_reps = spark_side(spark, list(HEADLINE), sf_dir)
    total = round(sum(timings.values()), 3)
    # The stdout line is budget-truncated, so query_set_sha fingerprints the
    # FULL query set (sha256 over the sorted names): a reader can tell
    # truncation from deletion without the detail file. timing_rule names
    # the methodology so a rule change is visible in the record itself.
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spark_reps": spark_reps,
        "sf": sf,
        "timing_rule": "min-of-3",
        "query_set_sha": hashlib.sha256("|".join(sorted(timings)).encode()).hexdigest()[:16],
        # the full first-pass wall, so the one-time cost stays visible
        "cold_total": round(sum(rs[0]["wall_s"] for rs in spark_reps.values()), 3),
        "box_health_pre": health_pre,
        "box_health_post": _box_health(),
    }
    # Warm-time each query's DuckDB oracle on the same tables, on as many
    # threads as Spark has cores, for the paired regime ratio (BASELINE.md §3).
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={spark.sparkContext.defaultParallelism}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    duck: dict[str, float] = {}
    duck_runs: dict[str, list[float]] = {}
    pins: list[str] = []
    for name in HEADLINE:
        sql = registry[name].oracle
        if sql is None:
            continue
        # Literal-VALUES oracles are CORRECTNESS pins — DuckDB just selects
        # frozen literals, so timing it says nothing about the operator.
        # Exclude them from the comparative totals and list them so the
        # record shows which entries are pinned rather than raced.
        if "FROM (VALUES" in sql:
            pins.append(name)
            continue
        # min-of-3 for sub-threshold oracles (same rule as the Spark side —
        # both engines' walls must carry the same noise discipline for the
        # paired ratio to mean anything); the recursive-CTE oracles cost
        # minutes at sf0.1 and stay single-run
        druns = []
        while len(druns) < (3 if not druns or druns[0] < REPEAT_MAX_SEC else 1):
            t0 = time.time()
            con.execute(sql).fetchall()
            druns.append(time.time() - t0)
        duck_runs[name] = [round(r, 3) for r in druns]
        duck[name] = round(min(druns), 3)
    out["duckdb"] = duck
    out["duckdb_runs"] = duck_runs
    out["values_pinned"] = sorted(pins)
    out["duckdb_total"] = round(sum(duck.values()), 3)
    out["paired_spark_total"] = round(sum(timings[n] for n in duck), 3)

    # Full per-query detail goes to a file; the stdout line must stay
    # compact because a tail capture of ~2000 chars would clip it.
    detail = "BENCH_DETAIL.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), detail), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "timing_rule": out["timing_rule"],
        "query_set_sha": out["query_set_sha"],
        "cold_total": out["cold_total"],
        "detail": detail,
        "duckdb_total": out["duckdb_total"],
        "paired_spark_total": out["paired_spark_total"],
        "n_paired": len(duck),
    }
    # Pack the per-query dict slowest-first into the remaining line budget:
    # the tail it drops is sub-0.3s floor-bound queries, and the full dict
    # lives in the detail file.
    budget = 1900 - len(json.dumps(compact))
    packed: dict[str, float] = {}
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        entry_len = len(json.dumps({name: t})) + 2
        if budget - entry_len < 0:
            break
        budget -= entry_len
        packed[name] = t
    compact["queries"] = packed
    compact["n_inline"] = len(packed)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
