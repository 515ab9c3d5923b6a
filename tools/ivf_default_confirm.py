"""Confirmation run for build_ivf_index's round-8 ``k_centroids=None``
default (k = round(√N)) — the PRODUCT form of the ANN_RECALL_100X k-sweep
(round-7 verdict ask: "productize the k∝√N finding").

At ×20 (40k vectors) and ×100 (200k), build the persisted index twice —
once with the √N default, once with the legacy fixed k=16 — and query
both at the SAME probe fraction (1/4 of cells), measuring recall@10
against the exact GEMM brute force and wall. Expectation from the sweep:
the √N index reads equal-or-better recall at equal-or-less wall.

    python tools/ivf_default_confirm.py [replication] [n_queries]
writes IVF_DEFAULT_CONFIRM.json (one object per corpus size).
"""

from __future__ import annotations

import json
import math
import shutil
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from nextgenetl_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk_gemm,
    ivf_query_index,
)
from nextgenetl_spark.session import get_spark
from tools.ann_recall import K, build_corpus, recall, topk_sets


def confirm(spark, n_rep: int, n_queries: int) -> dict:
    corpus = build_corpus(spark, n_rep).persist()
    n = corpus.count()
    stride = n // n_queries
    queries = corpus.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).persist()
    t0 = time.time()
    truth = topk_sets(cosine_topk_gemm(queries, corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding"), k=K))
    res = {"corpus": n, "n_queries": len(truth), "k": K,
           "brute_force_sec": round(time.time() - t0, 1), "rows": []}
    print(f"corpus={n}: brute truth {res['brute_force_sec']}s", flush=True)

    for tag, k_cent in (("sqrtN-default", None), ("legacy-16", 16)):
        idx = tempfile.mkdtemp(prefix="ivf_confirm_")
        try:
            t0 = time.time()
            meta = build_ivf_index(corpus, idx, k_centroids=k_cent, refine_iters=0)
            t_build = time.time() - t0
            kc = meta["k_centroids"]
            nprobe = max(1, kc // 4)  # the sweep's fixed 1/4 probe fraction
            t0 = time.time()
            ann = topk_sets(ivf_query_index(spark, idx, queries, nprobe=nprobe, k=K))
            row = {
                "config": tag,
                "k_centroids": kc,
                "nprobe": nprobe,
                "recall_at_10": round(recall(ann, truth), 3),
                "build_sec": round(t_build, 1),
                "query_sec": round(time.time() - t0, 1),
            }
            res["rows"].append(row)
            print(
                f"  {tag:>14}: k={kc:>3} nprobe={nprobe:>3} "
                f"recall@10={row['recall_at_10']:.3f} "
                f"build={row['build_sec']}s query={row['query_sec']}s",
                flush=True,
            )
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    corpus.unpersist()
    queries.unpersist()
    return res


def main() -> None:
    reps = [int(a) for a in sys.argv[1:3]] or [20, 100]
    n_queries = 100
    spark = get_spark()
    out = []
    for n_rep in (reps if len(reps) > 1 else [reps[0]]):
        out.append(confirm(spark, n_rep, n_queries))
    with open(os.path.join(REPO, "IVF_DEFAULT_CONFIRM.json"), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", os.path.join(REPO, "IVF_DEFAULT_CONFIRM.json"))


if __name__ == "__main__":
    main()
