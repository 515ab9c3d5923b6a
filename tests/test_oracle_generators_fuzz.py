"""Differential tests for the round-7 VALUES-oracle generators: the pure-
Python reimplementations in tools/gen_hashpath_oracle.py and
tools/gen_lsh_oracle.py must stay bit-identical to the Spark operators on
LIVE inputs — not just on the frozen sf0.01 corpus. If an operator (or a
generator) changes, this fails locally before the frozen VALUES oracle can
mismatch at driver time.

Inputs are synthetic edge-case sets: whitespace variants the Java-vs-Python
regex divergence would bite on (tabs, runs of spaces, leading/trailing
separators, unicode text), short docs below the shingle width, exact
duplicates, and near-dup pairs dense enough to produce banded candidates.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

EDGE_DOCS = [
    (0, "alpha beta gamma delta epsilon zeta"),
    (1, "alpha  beta\tgamma   delta epsilon zeta"),   # runs of spaces + tab
    (2, " alpha beta gamma delta epsilon zeta "),      # leading/trailing space
    (3, "\talpha beta gamma\n"),                       # leading tab survives trim
    (4, "alpha beta gamma delta epsilon zeta"),        # exact dup of 0
    (5, "alpha beta gamma delta epsilon eta"),         # near-dup of 0
    (6, "xy"),                                         # single token < shingle width
    (7, "one two"),                                    # two tokens < shingle width
    (8, "日本語 テキスト と emoji 🚀 words mixed in here"),
    (9, ""),                                           # empty text
    (10, "repeat repeat repeat repeat repeat repeat"),
    (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
]


def test_hashpath_generators_match_spark_on_edge_docs(spark):
    import tools.gen_hashpath_oracle as G

    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")

    # doc_fingerprint path
    from nextgenetl_spark.operators import textstats as TS

    got_fp = {
        (r["doc_id"], r["fp"])
        for r in df.select("doc_id", TS.fingerprint("text").alias("fp")).collect()
    }
    exp_fp = {(d, G.xxh_str(" ".join(G.tokens(t)))) for d, t in EDGE_DOCS}
    assert got_fp == exp_fp

    # simhash path (strict bit majority over distinct-token hashes)
    from nextgenetl_spark.operators import dedup as D

    got_sh = {
        (r["doc_id"], r["fp"]) for r in D.simhash_fingerprints(df).collect()
    }
    M = (1 << 64) - 1
    exp_sh = set()
    for d, t in EDGE_DOCS:
        hs = [G.xxh_str(tok) for tok in dict.fromkeys(G.tokens(t))]
        fp_u = 0
        for b in range(64):
            if 2 * sum(1 for h in hs if (h & M) >> b & 1) > len(hs):
                fp_u |= 1 << b
        exp_sh.add((d, G.signed(fp_u)))
    assert got_sh == exp_sh

    # minhash signatures + banded candidate pairs + verified Jaccard
    got_pairs = {
        (r[0], r[1], r[2])
        for r in D.minhash_near_dup_pairs(df, threshold=0.3).collect()
    }
    sigs, sh_sets = {}, {}
    for d, t in EDGE_DOCS:
        h0s = [G.xxh_str(s) for s in G.shingles3(G.tokens(t))]
        sh_sets[d] = set(h0s)
        sigs[d] = [min(G.xxh_long_int(h, p) for h in h0s) for p in range(32)]
    buckets = {}
    for d, sig in sigs.items():
        for b in range(8):
            bh = G.xxh_longarray_int(sig[b * 4:(b + 1) * 4], b)
            buckets.setdefault((b, bh), []).append(d)
    exp_pairs = set()
    for ids in buckets.values():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = sorted((ids[i], ids[j]))
                jac = G.round_half_up(
                    len(sh_sets[a] & sh_sets[b]) / len(sh_sets[a] | sh_sets[b])
                )
                if jac >= 0.3:
                    exp_pairs.add((a, b, jac))
    assert got_pairs == exp_pairs
    assert any(p[0] == 0 and p[1] == 4 for p in exp_pairs), "exact dup must band together"


def test_lsh_generator_matches_spark_on_random_vectors(spark):
    import tools.gen_lsh_oracle as G
    from nextgenetl_spark.operators.similarity import lsh_topk

    rng = random.Random(7)
    dim, n = 16, 40
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    emb = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")

    sig, marg = {}, {}
    for vid, v in vecs.items():
        sig[vid], marg[vid] = G.signature_and_margins(v, planes)

    def expected(multi: bool):
        scored = {qid: set() for qid in range(6)}
        for qid in range(6):
            probes = {sig[qid]}
            if multi:
                for _, i in sorted(marg[qid])[:2]:
                    probes.add(sig[qid] ^ (1 << i))
            for cid, cs in sig.items():
                if cid != qid and (cs in probes if multi else cs == sig[qid]):
                    scored[qid].add((cid, G.round_half_up(G.cosine(vecs[qid], vecs[cid]))))
        return {
            (qid, cid, s, r)
            for qid, pairs in scored.items()
            for r, (cid, s) in enumerate(
                sorted(pairs, key=lambda t: (-t[1], t[0]))[:5], start=1
            )
        }

    got_single = {
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in lsh_topk(q, c, planes, k=5).collect()
    }
    assert got_single == expected(False)
    got_multi = {
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in lsh_topk(q, c, planes, k=5, nprobe_flips=2).collect()
    }
    assert got_multi == expected(True)


def test_ivf_generator_matches_spark_on_random_vectors(spark):
    """Round-8: the pure-Python IVF/Lloyd walk in tools/gen_ivf_oracle.py
    must stay bit-identical to ivf_topk on LIVE random corpora — seed pick
    (XXH64), deterministic-decimal Lloyd refinement, cell assignment,
    probe ranking, and HALF_UP-rounded scoring. The walk asserts every
    argmax/probe margin > 1e-9, certifying that its fold-cosine ordering
    equals assign_cells' normalized-GEMM ordering."""
    import tools.gen_ivf_oracle as G
    from nextgenetl_spark.operators.similarity import ivf_topk

    rng = random.Random(11)
    dim, n = 12, 60
    # clustered corpus (3 loose clusters) so cells are non-degenerate
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(3)]
    vecs = {
        i: [c + rng.gauss(0, 0.3) for c in centers[i % 3]] for i in range(n)
    }
    exp_rows, margin = G.ivf_topk_expected(
        vecs, [i for i in range(6)], k_centroids=4, nprobe=2, k=3, refine_iters=2
    )
    assert margin > G.MIN_MARGIN, "degenerate random draw — tighten the seed"

    emb = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in ivf_topk(q, c, k_centroids=4, nprobe=2, k=3, refine_iters=2).collect()
    )
    assert got == sorted(exp_rows)


def test_pq_generator_matches_spark_on_random_vectors(spark):
    """Round-8: the pure-Python PQ/ADC walk in tools/gen_pq_oracle.py must
    stay bit-identical to pq_topk on LIVE random corpora — fold
    normalization, XXH64 seed pick, per-subspace deterministic-decimal
    Lloyd, L2-argmin encoding, lookup-table ADC fold, shortlist, and
    exact-cosine re-rank. The walk asserts every argmin/shortlist margin
    > 1e-9, certifying its fold ordering equals the GEMM ordering."""
    import tools.gen_pq_oracle as G
    from nextgenetl_spark.operators.similarity import pq_topk

    rng = random.Random(17)
    dim, n = 12, 70
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vecs = {
        i: [c + rng.gauss(0, 0.35) for c in centers[i % 4]] for i in range(n)
    }
    exp_rows, margin = G.pq_topk_expected(
        vecs, list(range(6)), m=3, ks=4, k=3, shortlist=10, train_iters=2
    )
    assert margin > G.MIN_MARGIN, "degenerate random draw — tighten the seed"

    emb = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in pq_topk(q, c, m=3, ks=4, k=3, shortlist=10, train_iters=2).collect()
    )
    assert got == sorted(exp_rows)


def test_ivfpq_generator_matches_spark_on_random_vectors(spark):
    """Round-8: the composed pure-Python IVF-PQ walk in
    tools/gen_ivfpq_oracle.py must stay bit-identical to ivfpq_topk on
    LIVE random corpora — cell seed/refine/assign/probe (the certified IVF
    half) composed with codebook/encode/ADC/shortlist/re-rank (the
    certified PQ half), margins asserted throughout."""
    import tools.gen_ivfpq_oracle as G
    import tools.gen_pq_oracle as GP
    from nextgenetl_spark.operators.similarity import ivfpq_topk

    rng = random.Random(29)
    dim, n = 12, 80
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vecs = {
        i: [c + rng.gauss(0, 0.3) for c in centers[i % 4]] for i in range(n)
    }
    exp_rows, margin = G.ivfpq_topk_expected(
        vecs, list(range(6)), k_centroids=4, nprobe=2, refine_iters=1,
        m=3, ks=4, train_iters=1, shortlist=10, k=3,
    )
    assert margin > GP.MIN_MARGIN, "degenerate random draw — tighten the seed"

    emb = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in ivfpq_topk(
            q, c, k_centroids=4, nprobe=2, refine_iters=1,
            m=3, ks=4, train_iters=1, shortlist=10, k=3,
        ).collect()
    )
    assert got == sorted(exp_rows)


def test_adc_crowd_replication_matches_spark_on_random_vectors(spark):
    """Round-10: the pure-Python measured_adc_crowd replication in
    tools/gen_hybrid_oracle.py (the auto-shortlist statistic behind
    hybrid_rrf_production's frozen dense leg) must equal the Spark
    implementation on LIVE random corpora — unit fold-normalization, the
    md5-ordered sample, the delta/threshold band from the sample pair
    grid, and the corpus count pass. The GEMM count batches differently on
    the two paths, so this is the seam the frozen-corpus pin
    (test_hybrid_oracle_corpus_fingerprint) certifies at sf0.01 and this
    test certifies off-corpus."""
    import tools.gen_hybrid_oracle as G
    from nextgenetl_spark.operators.similarity import (
        _collect_codebooks,
        _unit_vectors,
        measured_adc_crowd,
        pq_encode,
        train_pq_codebooks,
    )

    rng = random.Random(41)
    dim, n, m, ks = 12, 90, 3, 4
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(5)]
    vecs = {i: [c + rng.gauss(0, 0.25) for c in centers[i % 5]] for i in range(n)}
    exp_crowd, exp_delta = G.adc_crowd_expected(vecs, m=m, ks=ks, train_iters=1, n_sample=32)

    emb = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<double>")
    unit = _unit_vectors(emb, "vec_id", "embedding")
    CB = _collect_codebooks(train_pq_codebooks(emb, m, ks, 1, "vec_id", "embedding"), m, ks)
    codes = pq_encode(emb, CB, "vec_id", "embedding")
    got = measured_adc_crowd(unit, codes, CB, "vec_id", n_sample=32)
    assert got == exp_crowd
    assert exp_delta >= 0.0


def test_hybrid_dense_auto_walk_matches_spark_on_random_vectors(spark):
    """Round-10 end-to-end: the FULL auto-knob dense walk behind
    hybrid_rrf_production's frozen oracle — pure-Python crowd measurement →
    replicated shortlist/nprobe rules → ivfpq_topk_expected — must match
    Spark's ivfpq_topk(nprobe=None, shortlist=None) on a LIVE random
    corpus. Composes the two already-pinned seams (adc-crowd replication,
    ivfpq walk) exactly as the generator does."""
    import math

    import tools.gen_hybrid_oracle as G
    import tools.gen_ivfpq_oracle as GI
    import tools.gen_pq_oracle as GP
    from nextgenetl_spark.operators.similarity import ivfpq_topk

    rng = random.Random(53)
    dim, n, m, ks, kc = 12, 80, 3, 4, 4
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vecs = {i: [c + rng.gauss(0, 0.3) for c in centers[i % 4]] for i in range(n)}

    # n_sample=256 > n: both paths sample the WHOLE corpus (md5 order is
    # then irrelevant to the order-insensitive quantile/count), matching
    # Spark's default-knob call exactly
    crowd, _ = G.adc_crowd_expected(vecs, m=m, ks=ks, train_iters=1, n_sample=256)
    nprobe = G.auto_nprobe(kc)
    shortlist = 3 * max(3, crowd)
    exp_rows, margin = GI.ivfpq_topk_expected(
        vecs, list(range(5)), k_centroids=kc, nprobe=nprobe, refine_iters=1,
        m=m, ks=ks, train_iters=1, shortlist=shortlist, k=3,
    )
    assert margin > GP.MIN_MARGIN, "degenerate random draw — tighten the seed"
    assert nprobe == math.ceil(kc / 4)

    emb = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in ivfpq_topk(
            q, c, k_centroids=kc, nprobe=None, refine_iters=1,
            m=m, ks=ks, train_iters=1, shortlist=None, k=3,
        ).collect()
    )
    assert got == sorted(exp_rows)
