"""PQ recall measurement — the compressed-ANN quality story (round 8).

Same protocol as tools/ann_recall.py (×20 near-dup-crowded replication of
the sf0.1 embeddings → 40k vectors, 100 queries, exact-GEMM ground truth,
recall@10 under the shared 4dp/tie-by-id contract), measuring pq_topk
across the knobs a user picks at scale:

- (m, ks): code size — m·log2(ks) bits/vector (m=8, ks=16 → 4 B, 64× vs
  256 B float32; m=8, ks=64 → 6 B, ~43×)
- shortlist: how many ADC candidates reach the exact re-rank — the
  recall/IO knob (each shortlisted row reads one raw vector)

Wall times include codebook training + encoding + query (the self-contained
operator, like the ivf rows in ANN_RECALL.json which also rebuild the
index); at 100 TB training runs on a sample and encoding is a one-time
ingest artifact, so the steady-state cost is the codes scan + shortlist
re-reads only.

Writes PQ_RECALL.json and prints the table recorded in BASELINE.md §4.2.

    python tools/pq_recall.py [replication] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from nextgenetl_spark.operators.similarity import cosine_topk_gemm, pq_topk
from nextgenetl_spark.session import get_spark
from tools.ann_recall import K, build_corpus, recall, topk_sets


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
    c = c.persist()
    queries = queries.persist()
    t0 = time.time()
    truth = topk_sets(cosine_topk_gemm(queries, c, k=K))
    t_brute = time.time() - t0
    print(f"corpus={n_corpus} queries={len(truth)} brute-force truth in {t_brute:.1f}s", flush=True)

    results = {"corpus": n_corpus, "n_queries": len(truth), "k": K,
               "brute_force_sec": round(t_brute, 1), "pq": []}

    for m, ks in ((8, 16), (8, 64)):
        for shortlist in (10, 32, 100, 320):
            t0 = time.time()
            ann = topk_sets(
                pq_topk(queries, c, m=m, ks=ks, k=K, shortlist=shortlist, train_iters=2)
            )
            row = {"m": m, "ks": ks, "shortlist": shortlist,
                   "code_bytes": m * max(1, (ks - 1).bit_length()) // 8,
                   "recall_at_10": round(recall(ann, truth), 3),
                   "sec": round(time.time() - t0, 1)}
            results["pq"].append(row)
            print(
                f"PQ m={m} ks={ks:>3} shortlist={shortlist:>3}: "
                f"recall@10={row['recall_at_10']:.3f} ({row['sec']}s)",
                flush=True,
            )

    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, "PQ_RECALL.json")
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
