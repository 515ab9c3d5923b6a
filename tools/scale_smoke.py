"""Scale-extrapolation smoke: replicate the sf0.1 corpus N× in-plan (no
files written) and run the operators whose cost curves matter at 100 TB —
near-dup (LSH vs quadratic), ANN, simhash, wide aggregation. Prints wall
times per replication factor so super-linear blowups are visible:

    python tools/scale_smoke.py [factors ...]     # default: 1 5 20

Replication appends a replica id to doc/vec ids (and salts the text with
it), so replicas are near-dups of each other *across* replicas — a stress
shape for the banding path, not a trivially-deduped copy."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.operators import dedup as D
from nextgenetl_spark.operators.similarity import blocked_near_dup_pairs_auto, ivf_topk
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark


def replicate_docs(d, n):
    r = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    return d.select("*", r).select(
        (F.col("doc_id") * n + F.col("rep")).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.col("rep").cast("string")).alias("text"),
        "source",
    )


def replicate_emb(e, n):
    r = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    return e.select("*", r).select(
        (F.col("vec_id") * n + F.col("rep")).alias("vec_id"), "embedding", "label"
    )


def _scrub(d):
    """In-plan variant of workloads/text.py boilerplate_scrub over a
    replicated corpus (threshold scaled: a chunk is boilerplate when it
    appears in more docs than one replication's worth of copies)."""
    base = d.select("doc_id", F.split("text", " ").alias("t"))
    n_wins = F.floor((F.size("t") - 1) / 8).cast("int")
    ch = base.select(
        "doc_id", F.explode(F.sequence(F.lit(0), n_wins)).alias("w"), "t"
    ).select("doc_id", "w", F.concat_ws(" ", F.slice("t", F.col("w") * 8 + 1, 8)).alias("chunk"))
    freq = ch.groupBy("chunk").agg(F.countDistinct("doc_id").alias("nd"))
    kept = ch.join(freq, "chunk").filter(F.col("nd") <= 2)
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(F.struct("w", "chunk"))), lambda x: x["chunk"]), " "
        ).alias("scrubbed_text")
    )


def _bloom_probe(d) -> int:
    """Build a bloom over half the replicated corpus, probe all of it —
    the ingest-gate cost shape (operators/agg.py)."""
    from nextgenetl_spark.operators.agg import bloom_build, bloom_might_contain

    fp = d.select("doc_id", F.md5("text").alias("f"))
    half = fp.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(half, "f", m_bits=262144, k_hashes=4)
    return bloom_might_contain(bloom, fp, "f", m_bits=262144, k_hashes=4).count()


def _bm25(d) -> int:
    """The SAME bm25_scores operator the bm25_topk workload uses, over the
    replicated corpus — scale-smoke validates the shipped computation."""
    from pyspark.sql.window import Window

    from nextgenetl_spark.operators.textstats import bm25_scores

    scores = bm25_scores(d, terms=["hash", "join", "vector"])
    w = Window.orderBy(F.desc(F.round(F.col("score"), 4)), F.col("doc_id"))
    return scores.select("doc_id", F.row_number().over(w).alias("rank")).filter(F.col("rank") <= 20).count()


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 5, 20]
    spark = get_spark("scale-smoke")
    sf = DEFAULT_SF_DIR
    d0 = load(spark, sf, "documents")
    e0 = load(spark, sf, "embeddings")
    for n in factors:
        d = replicate_docs(d0, n)
        e = replicate_emb(e0, n)
        n_docs = d.count()
        steps = {
            "exact_dedup": lambda: D.exact_dedup_groups(d).count(),
            "minhash_lsh": lambda: D.minhash_near_dup_pairs(d, threshold=0.5).count(),
            "simhash": lambda: D.simhash_fingerprints(d).count(),
            # size-routed: label blocks within the 8192-row bound get the
            # exact per-block GEMM; beyond it (x50: ~10.9k-row blocks) the
            # oversized blocks sub-bucket by hyperplane signature — the
            # reroute the guard's error message points at, demonstrated
            # in-curve instead of crashing the smoke
            "emb_near_dup": lambda: blocked_near_dup_pairs_auto(e, dim=64, threshold=0.3).count(),
            "ivf_topk": lambda: ivf_topk(
                e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding"),
                e.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
                k_centroids=32, nprobe=4,
            ).count(),
            # size-routed pairs: bounded source blocks run exact quadratic,
            # oversized ones reroute to MinHash-LSH. The bound is pinned at
            # 2000 so x20 (5000-row blocks on this corpus) actually trips
            # the reroute: x1/x5 follow the exact-quadratic curve (output-
            # bound — replication makes most same-block TOKEN-set pairs
            # near-dups), x20 collapses to the LSH curve, whose stricter
            # shingle-set verify also emits ~100× fewer pairs.
            "auto_route": lambda: D.near_dup_pairs_auto(
                d, "source", threshold=0.5, max_block_rows=2000
            ).count(),
            # banded hamming candidates grow with true near-dups (replica
            # fingerprints differ by ~1 token), never the pair space
            "simhash_hamming": lambda: D.md5_simhash_near_dup_pairs(d).count(),
            # portable universal-hash minhash: should track minhash_lsh's
            # curve (same banding shape, one md5 per shingle)
            "minhash_md5": lambda: D.md5_minhash_near_dup_pairs(d, threshold=0.5).count(),
            # pairs → canonical groups; rounds should stay flat (graph
            # diameter, pointer-doubled) while pair volume grows
            "conn_comp": lambda: D.connected_components(
                D.minhash_near_dup_pairs(d, threshold=0.5)
            ).count(),
            # star-contraction variant: per-round shuffle is the collapsing
            # edge set, so time should grow with pair volume, not rounds
            "conn_comp_star": lambda: D.connected_components_star(
                D.minhash_near_dup_pairs(d, threshold=0.5)
            ).count(),
            # corpus-informed rewrite: chunk-frequency agg + doc reassembly.
            # Cost should track corpus size (rows in, rows out), never a
            # pair space — there is no join wider than chunk-frequency.
            "boilerplate_scrub": lambda: _scrub(d).count(),
            # bloom probe: the filter is ≤m_bits rows REGARDLESS of corpus
            # size, so build+probe should grow only with the scan
            "bloom_probe": lambda: _bloom_probe(d),
            # BM25: one tokenize scan + (doc × query-term) rows; linear
            "bm25": lambda: _bm25(d),
        }
        out = []
        for name, fn in steps.items():
            t0 = time.time()
            rows = fn()
            out.append(f"{name}={time.time() - t0:.1f}s({rows})")
        print(f"x{n} ({n_docs} docs): " + "  ".join(out), flush=True)


if __name__ == "__main__":
    main()
