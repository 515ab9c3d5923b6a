"""ANN recall measurement (round-6 verdict ask #1 — the one operator family
whose QUALITY was design-asserted rather than measured).

Builds a ×20 replication of the sf0.1 embeddings corpus (2,000 → 40,000
vectors, 64-dim) with a deterministic per-replica perturbation
(x + 0.05·sin((rep+1)·(j+1))) so replicas are NEAR-duplicates — distinct
vectors crowding the same neighborhoods, the hard case for ANN — instead of
exact ties that would make top-k ground truth arbitrary. 100 query vectors
(every 400th id) are ranked against the full corpus by the exact GEMM
brute force to get ground-truth top-10, then each index configuration is
scored as recall@10 = mean over queries of |ANN∩truth| / 10 under the
operators' shared contract (sim rounded to 4dp, ties broken by neighbor id).

Grid (the knobs a user must pick at scale):
- IVF (k_centroids=16): nprobe ∈ {1,2,4,8,16} × refine_iters ∈ {0,2}
- hyperplane LSH: num_planes ∈ {8,12,16}, single-probe vs multiprobe
  (nprobe_flips=2)

Writes ANN_RECALL.json and prints the table recorded in BASELINE.md §4.2.
tests/test_ann_fuzz.py pins the monotonicity these curves rely on
(recall non-decreasing in nprobe; multiprobe ⊇ single-probe buckets).

    python tools/ann_recall.py [replication] [n_queries]
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.operators.similarity import (
    cosine_topk_gemm,
    ivf_topk,
    lsh_topk,
    lsh_topk_multiprobe,
)
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark

SF_DIR = DEFAULT_SF_DIR
K = 10


def build_corpus(spark, n_rep: int):
    """×n_rep corpus of near-duplicate replicas (see module docstring)."""
    emb = load(spark, SF_DIR, "embeddings")
    r = F.explode(F.sequence(F.lit(0), F.lit(n_rep - 1))).alias("rep")
    pert = F.transform(
        F.col("embedding"),
        lambda x, j: x.cast("double")
        + F.lit(0.05) * F.sin((F.col("rep") + 1).cast("double") * (j + 1).cast("double")),
    )
    return emb.select("vec_id", "embedding", r).select(
        (F.col("vec_id") * n_rep + F.col("rep")).alias("vec_id"), pert.alias("embedding")
    )


def topk_sets(df, k=K):
    """{query_id: frozenset(neighbor ids)} from a (query_id, neighbor_id,
    rank<=k) result — k·|queries| rows, bounded."""
    out = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall(ann: dict, truth: dict, k=K) -> float:
    return sum(len(ann.get(q, set()) & t) / k for q, t in truth.items()) / len(truth)


def main() -> None:
    n_rep = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark()
    corpus = build_corpus(spark, n_rep)
    n_corpus = corpus.count()
    stride = n_corpus // n_queries
    queries = corpus.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    # ground truth + both sides cached: every configuration scores the same
    # corpus, so pay the replication/perturbation scan once
    c = c.persist()
    queries = queries.persist()
    t0 = time.time()
    truth = topk_sets(cosine_topk_gemm(queries, c, k=K))
    t_brute = time.time() - t0
    print(f"corpus={n_corpus} queries={len(truth)} brute-force truth in {t_brute:.1f}s", flush=True)

    results = {"corpus": n_corpus, "n_queries": len(truth), "k": K,
               "brute_force_sec": round(t_brute, 1), "ivf": [], "lsh": []}

    # SPARK_GRAFT_ANN_REFINE=0 skips the refine=2 row — used for the big-
    # corpus confirmation run where Lloyd passes double the wall for a
    # tuning nuance already measured at ×20
    import os

    refines = (0,) if os.environ.get("SPARK_GRAFT_ANN_REFINE") == "0" else (0, 2)
    for refine in refines:
        for nprobe in (1, 2, 4, 8, 16):
            t0 = time.time()
            ann = topk_sets(
                ivf_topk(queries, c, k_centroids=16, nprobe=nprobe, k=K, refine_iters=refine)
            )
            row = {"nprobe": nprobe, "refine_iters": refine,
                   "recall_at_10": round(recall(ann, truth), 3),
                   "sec": round(time.time() - t0, 1)}
            results["ivf"].append(row)
            print(f"IVF  nprobe={nprobe:>2} refine={refine}: recall@10={row['recall_at_10']:.3f} ({row['sec']}s)", flush=True)

    # index-growth guidance: when the corpus grows, do you grow cells or
    # probes? Measure k_centroids x nprobe at a FIXED probe fraction (1/4)
    # and at fixed nprobe — the cells-vs-probes tradeoff a user faces when
    # scaling the index with the corpus.
    results["ivf_k_sweep"] = []
    for k_cent, nprobe in ((16, 4), (64, 4), (64, 16)):
        t0 = time.time()
        ann = topk_sets(
            ivf_topk(queries, c, k_centroids=k_cent, nprobe=nprobe, k=K, refine_iters=0)
        )
        row = {"k_centroids": k_cent, "nprobe": nprobe,
               "recall_at_10": round(recall(ann, truth), 3),
               "sec": round(time.time() - t0, 1)}
        results["ivf_k_sweep"].append(row)
        print(f"IVF  k={k_cent:>2} nprobe={nprobe:>2}: recall@10={row['recall_at_10']:.3f} ({row['sec']}s)", flush=True)

    for n_planes in (8, 12, 16):
        rng = random.Random(42)
        planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(n_planes)]
        for multi in (False, True):
            t0 = time.time()
            fn = (
                (lambda q, cc: lsh_topk_multiprobe(q, cc, planes, k=K, nprobe_flips=2))
                if multi
                else (lambda q, cc: lsh_topk(q, cc, planes, k=K))
            )
            ann = topk_sets(fn(queries, c))
            row = {"num_planes": n_planes, "multiprobe": multi,
                   "recall_at_10": round(recall(ann, truth), 3),
                   "sec": round(time.time() - t0, 1)}
            results["lsh"].append(row)
            tag = "multi(2 flips)" if multi else "single       "
            print(f"LSH  planes={n_planes:>2} {tag}: recall@10={row['recall_at_10']:.3f} ({row['sec']}s)", flush=True)

    # persisted-index path: build once (hive-partitioned by cell_id), query
    # with the same nprobe grid — pins that the partition-pruned index path
    # hits the same recall as the self-contained ivf_topk (identical
    # machinery, but the claim is now measured, not inferred).
    import shutil
    import tempfile

    from nextgenetl_spark.operators.similarity import build_ivf_index, ivf_query_index

    idx_dir = tempfile.mkdtemp(prefix="ann_recall_idx_")
    try:
        build_ivf_index(
            corpus.select(F.col("vec_id"), "embedding"), idx_dir,
            k_centroids=16, refine_iters=0, id_col="vec_id",
        )
        results["ivf_index"] = []
        for nprobe in (1, 4, 16):
            t0 = time.time()
            ann = topk_sets(
                ivf_query_index(spark, idx_dir, queries, nprobe=nprobe, k=K)
            )
            row = {"nprobe": nprobe, "recall_at_10": round(recall(ann, truth), 3),
                   "sec": round(time.time() - t0, 1)}
            results["ivf_index"].append(row)
            print(f"IVF-index nprobe={nprobe:>2}: recall@10={row['recall_at_10']:.3f} ({row['sec']}s)", flush=True)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, "ANN_RECALL.json")
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
