"""Confirm the AUTO shortlist default (round-8 verdict ask #5).

PQ_RECALL.json / PQ_RECALL_100X.json froze the rule — the shortlist must
exceed ~3× max(k, expected same-code tie-crowd) — from hand-tuned grids at
two crowd regimes (40k corpus / 20-replica crowds, 200k / 100-replica).
This run confirms the PRODUCTIZED default (`shortlist=None` → 3·max(k,
crowd)) hits full recall at BOTH regimes without hand-tuning, for pq_topk
and ivfpq_topk.

MEASURED CORRECTION (first run of this tool): the literal exact-code
collision count (`expected_code_crowd`) read only 2–5 on these corpora —
the 0.05-jitter replicas fragment across code tuples — and the resulting
shortlist 30 reproduced the known 0.42 recall collapse at 200k. The
productized statistic is therefore `measured_adc_crowd`: sampled near-dup
multiplicity within the measured ADC quantization noise band, which
recovers the effective 20/100 crowds. Both statistics are recorded below.

Writes PQ_AUTO_SHORTLIST.json.

    python tools/pq_auto_shortlist.py [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from nextgenetl_spark.operators.similarity import (
    _collect_codebooks,
    _unit_vectors,
    cosine_topk_gemm,
    expected_code_crowd,
    ivfpq_topk,
    measured_adc_crowd,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from nextgenetl_spark.session import get_spark
from tools.ann_recall import K, build_corpus, recall, topk_sets


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark()
    results = {"k": K, "rule": "shortlist = 3 * max(k, measured_adc_crowd)", "runs": []}
    for n_rep in (20, 100):
        corpus = build_corpus(spark, n_rep)
        n_corpus = corpus.count()
        stride = n_corpus // n_queries
        queries = (
            corpus.filter(F.col("vec_id") % stride == 0)
            .select(F.col("vec_id").alias("query_id"), "embedding")
            .persist()
        )
        c = corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding").persist()
        truth = topk_sets(cosine_topk_gemm(queries, c, k=K))

        # the crowd the auto rule will see (measured independently here so
        # the JSON records it; the operators recompute it internally)
        cb = train_pq_codebooks(c, 8, 16, 2, "neighbor_id", "embedding")
        CB = _collect_codebooks(cb, 8, 16)
        codes = pq_encode(c, CB, "neighbor_id", "embedding")
        code_crowd = expected_code_crowd(codes)
        crowd = measured_adc_crowd(
            _unit_vectors(c, "neighbor_id", "embedding"), codes, CB, "neighbor_id"
        )
        auto = 3 * max(K, crowd)

        t0 = time.time()
        pq = topk_sets(pq_topk(queries, c, m=8, ks=16, k=K, shortlist=None, train_iters=2))
        t_pq = time.time() - t0
        t0 = time.time()
        ivfpq = topk_sets(
            ivfpq_topk(
                queries, c, k_centroids=max(1, round(n_corpus**0.5)), nprobe=8,
                m=8, ks=16, k=K, shortlist=None, refine_iters=1, train_iters=2,
            )
        )
        t_ivfpq = time.time() - t0
        row = {
            "corpus": n_corpus,
            "n_queries": len(truth),
            "exact_code_crowd_lower_bound": code_crowd,
            "measured_adc_crowd": crowd,
            "auto_shortlist": auto,
            "pq_recall_at_10": round(recall(pq, truth), 3),
            "pq_sec": round(t_pq, 1),
            "ivfpq_recall_at_10": round(recall(ivfpq, truth), 3),
            "ivfpq_sec": round(t_ivfpq, 1),
        }
        results["runs"].append(row)
        print(
            f"rep={n_rep} corpus={n_corpus}: code_crowd={code_crowd} "
            f"adc_crowd={crowd} auto_shortlist={auto} "
            f"pq recall={row['pq_recall_at_10']} ({row['pq_sec']}s) "
            f"ivfpq recall={row['ivfpq_recall_at_10']} ({row['ivfpq_sec']}s)",
            flush=True,
        )
        queries.unpersist()
        c.unpersist()

    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "PQ_AUTO_SHORTLIST.json")
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
