"""Physical-plan review: dump formatted plans for headline queries and flag
scale red flags (missing pushdown, cartesian products, row-at-a-time Python
evaluation, unexpectedly wide scans). Run after touching any operator:

    python tools/explain.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nextgenetl_spark.session import get_spark
from nextgenetl_spark.workloads import load_all

RED_FLAGS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    # Global sort/window funneling all rows through one partition — the
    # bug class fixed in pick_centroids (use orderBy().limit() /
    # partitioned windows instead).
    "Exchange SinglePartition",
)
# Deliberate plan shapes, not defects: brute-force ANN *is* a broadcast
# cross product (small query set against the corpus).
EXPECTED = {
    "ann_cosine_topk": {"BroadcastNestedLoopJoin"},
    "ann_ivf_topk": {"BroadcastNestedLoopJoin"},
    # same centroid-probe crossJoin(broadcast(k-row cents)) as ann_ivf_topk
    "ann_ivf_full_probe": {"BroadcastNestedLoopJoin"},
    # IVF-PQ carries the identical k-row centroid-probe crossJoin
    "ann_ivfpq_topk": {"BroadcastNestedLoopJoin"},
    "ann_ivfpq_full": {"BroadcastNestedLoopJoin"},
    # both retrieval legs broadcast the 5-row query set against the corpus
    # (the ann_cosine_topk shape) — deliberate verification-form NLJs
    "hybrid_rrf_retrieval": {"BroadcastNestedLoopJoin"},
    # production-shape hybrid: the IVF-PQ dense leg's k-row centroid-probe
    # crossJoin (ann_ivfpq_topk shape) + the 1-row (avgdl, N) BM25 stats
    # broadcast (bm25_topk shape) — both constant-size NLJs
    "hybrid_rrf_production": {"BroadcastNestedLoopJoin"},
    "hybrid_rrf_persisted": {"BroadcastNestedLoopJoin"},
    # persisted-index query path: k-row centroid-probe crossJoin
    "ann_ivfpq_append": {"BroadcastNestedLoopJoin"},
    "stream_ivfpq_ingest": {"BroadcastNestedLoopJoin"},
    # the pairwise type_a < type_b join runs over the 5-row SKETCH table
    # (n_types² pairs of ≤k-long lists) — constant-size NLJ by design
    "kmv_set_overlap": {"BroadcastNestedLoopJoin"},
    # r11 pair-domain build: the type_a < type_b self-join of the 5-row
    # DISTINCT event-type table (so disjoint pairs surface with est 0) —
    # the same constant-size NLJ shape as kmv_set_overlap
    "cms_join_size": {"BroadcastNestedLoopJoin"},
    # 1-row N-docs aggregate broadcast into every tf row — constant-size NLJ
    "tfidf_top_terms": {"BroadcastNestedLoopJoin"},
    # 1-row (avgdl, N) corpus-stats broadcast into every (doc, term) score
    # row — same constant-size NLJ shape as tfidf_top_terms
    "bm25_topk": {"BroadcastNestedLoopJoin"},
    # the CDF window runs over the ≤n_bins+2-row SKETCH table, not data —
    # a single partition of ≤258 rows is the point, not a funnel; the
    # quantile probe explode is a constant-size NLJ over the same table
    "value_quantile_sketch": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    # 1-row T_max aggregate cross-joined into the per-source budget table
    # (itself group-count-sized) — constant-size NLJ
    "temperature_mixture": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-total broadcast into every (doc, term) row — same shape
    "unigram_logprob_score": {"BroadcastNestedLoopJoin"},
    # 1-row (min,max) bounds row cross-joined to build the hour grid —
    # constant-size NLJ feeding sequence+explode
    "time_grid_fill": {"BroadcastNestedLoopJoin"},
    # 1-row bounded-block guard (operators/dedup.py bounded_block_guard)
    # cross-joined into every quadratic pair generator — constant-size NLJ
    "ngram_jaccard_pairs": {"BroadcastNestedLoopJoin"},
    "near_dup_pairs_auto": {"BroadcastNestedLoopJoin"},
    "near_dup_groups": {"BroadcastNestedLoopJoin"},
    "near_dup_groups_star": {"BroadcastNestedLoopJoin"},
    "embedding_near_dup": {"BroadcastNestedLoopJoin"},
    "semantic_dedup_keep": {"BroadcastNestedLoopJoin"},
    # 1-row bounded-block guard (operators/dedup.py) cross-joined into the
    # blocked levenshtein pair generators — constant-size NLJ
    "fuzzy_name_pairs": {"BroadcastNestedLoopJoin"},
    "fuzzy_best_match": {"BroadcastNestedLoopJoin"},
    # 1-row (min,max) bounds broadcast into the bucket expression
    "price_histogram": {"BroadcastNestedLoopJoin"},
    # clusterability QC: the whole diagnostic runs on a ≤sample_n-row
    # deterministic sample by contract — the sample² cross join (40k pairs),
    # the md5-ring numbering window, and the final 1-row×1-row join are all
    # bounded-deliberate; nothing corpus-sized enters any of them
    "embedding_contrast_qc": {"BroadcastNestedLoopJoin", "Exchange SinglePartition"},
}
INTERESTING = (
    "Scan parquet",
    "PushedFilters",
    "ReadSchema",
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "WholeStageCodegen",
) + RED_FLAGS


def main() -> None:
    spark = get_spark("explain")
    reg = load_all()
    names = sys.argv[1:] or sorted(reg)
    sf = "/root/testdata/sf0.01"
    flagged = []
    for name in names:
        plan = (
            reg[name]
            .fn(spark, sf)
            ._jdf.queryExecution()
            .explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        )
        hits = [f for f in RED_FLAGS if f in plan and f not in EXPECTED.get(name, set())]
        # BatchEvalPython is expected (and Arrow-batched) on mapInPandas paths
        if hits:
            flagged.append((name, hits))
        print(f"===== {name} {'!! ' + ','.join(hits) if hits else 'ok'}")
        for line in plan.splitlines():
            if any(k in line for k in INTERESTING):
                print("  ", line.strip()[:160])
    if flagged:
        print("\nFlagged:", flagged)


if __name__ == "__main__":
    main()
