"""Dedup + similarity operator tests: MinHash-LSH recall vs the exact
Jaccard baseline, SimHash determinism, LSH-ANN overlap vs brute force."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.operators import dedup as D
from nextgenetl_spark.operators.similarity import cosine, cosine_topk, lsh_topk
from tests.conftest import SF_SMOKE


def test_exact_dedup_finds_planted_dups(spark):
    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unique text here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["canonical_id"]: r["n_docs"] for r in D.exact_dedup_groups(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_recall_vs_exact(spark):
    docs = load(spark, SF_SMOKE, "documents")
    # exact global baseline on shingle-level jaccard (all pairs — fine at smoke SF)
    sh = docs.select("doc_id", D.shingles("text", 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = D.jaccard(F.col("a.sh"), F.col("b.sh"))
    exact_sh = {
        (r["a_id"], r["b_id"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"), jac.alias("j"))
        .filter(F.col("j") >= 0.7)
        .collect()
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_near_dup_pairs(docs, threshold=0.7).collect()
    }
    # verification step makes precision exact; recall should be high for 0.7+
    assert approx <= exact_sh or not exact_sh
    if exact_sh:
        recall = len(approx & exact_sh) / len(exact_sh)
        assert recall >= 0.8, f"LSH recall too low: {recall} ({len(exact_sh)} true pairs)"


def test_simhash_deterministic_and_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely unrelated tokens")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["sh"] for r in df.select("doc_id", D.simhash64("text").alias("sh")).collect()}
    out2 = {r["doc_id"]: r["sh"] for r in df.select("doc_id", D.simhash64("text").alias("sh")).collect()}
    assert out == out2  # deterministic
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_cosine_topk_sanity(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    out = cosine_topk(q, c, k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert -1.0001 <= r["sim"] <= 1.0001
        assert r["neighbor_id"] != r["query_id"]
    for rows in by_q.values():
        sims = [r["sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_lsh_topk_overlaps_bruteforce(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(3)]
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    brute = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, c, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in lsh_topk(q, c, planes, k=3).collect()}
    # 3 planes → 8 buckets over 500 docs: expect meaningful overlap, not exactness
    assert len(approx & brute) / len(brute) >= 0.2


def test_cosine_identity(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [1.0, 1.0])], ["id", "v"])
    a, b = df.alias("a"), df.alias("b")
    out = {
        (r["i"], r["j"]): r["c"]
        for r in a.crossJoin(b)
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"),
                F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("c"))
        .collect()
    }
    assert out[(1, 1)] == 1.0 and out[(1, 2)] == 0.0
    assert abs(out[(1, 3)] - 0.707107) < 1e-6


def test_simhash_fingerprints_match_column_form(spark):
    docs = load(spark, SF_SMOKE, "documents").limit(50)
    fast = {r["doc_id"]: r["fp"] for r in D.simhash_fingerprints(docs).collect()}
    slow = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", D.simhash64("text").alias("fp")).collect()}
    assert fast == slow


def test_ivf_full_probe_equals_brute_force(spark):
    from nextgenetl_spark.operators.similarity import ivf_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    exact = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in cosine_topk(q, c, k=3).collect()}
    full_probe = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(q, c, k_centroids=8, nprobe=8, k=3).collect()
    }
    assert full_probe == exact


def test_ivf_partial_probe_shape(spark):
    from nextgenetl_spark.operators.similarity import ivf_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    rows = ivf_topk(q, c, k_centroids=8, nprobe=2, k=3).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= 3 for v in per_q.values())


def test_refined_centroids_are_cell_means(spark):
    """After one Lloyd iteration each centroid equals the mean of the
    vectors assigned to it (the defining k-means invariant)."""
    import numpy as np

    from nextgenetl_spark.operators.similarity import assign_cells, pick_centroids, refine_centroids

    emb = load(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    seed = pick_centroids(emb, 6, "neighbor_id")
    refined = refine_centroids(emb, seed, iters=1, id_col="neighbor_id")
    assigned = assign_cells(emb, seed, "neighbor_id")
    members = {}
    for r in assigned.collect():
        members.setdefault(r["cell_id"], []).append(np.asarray(r["embedding"], dtype="float64"))
    got = {r["cell_id"]: np.asarray(r["cvec"], dtype="float64") for r in refined.collect()}
    assert set(got) == set(range(6))
    for cell, vecs in members.items():
        np.testing.assert_allclose(got[cell], np.mean(vecs, axis=0), rtol=1e-9, atol=1e-12)


def test_ivf_refined_full_probe_still_exact(spark):
    """Lloyd refinement moves the cell boundaries but nprobe == k_centroids
    must stay identical to brute force regardless of where they are."""
    from nextgenetl_spark.operators.similarity import ivf_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    exact = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in cosine_topk(q, c, k=3).collect()}
    refined = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(q, c, k_centroids=8, nprobe=8, k=3, refine_iters=2).collect()
    }
    assert refined == exact


def test_ivf_refined_recall_not_degraded(spark):
    """At partial probe, recall vs brute force with refined centroids must
    not fall below the unrefined seed centroids (deterministic data, so this
    pins the refinement as at-least-neutral; it is strictly better on the
    driver's clustered embeddings)."""
    from nextgenetl_spark.operators.similarity import ivf_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    brute = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, c, k=5).collect()}

    def recall(refine_iters):
        hits = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                q, c, k_centroids=8, nprobe=2, k=5, refine_iters=refine_iters
            ).collect()
        }
        return len(hits & brute) / len(brute)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0
    # measured at smoke SF: r0 = 0.38, r2 = 0.42 (nprobe 2 of 8 cells)
    assert r2 >= 0.4


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 collapses to min id 1; separate pair (10,11) to 10;
    multi-round propagation needed for the chain (diameter 3)."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["a_id", "b_id"]
    )
    got = {r["node"]: r["label"] for r in D.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_delta_frontier_late_merge(spark):
    """Delta propagation (r12) must still deliver labels that travel ONLY
    through nodes whose label changed in a prior round: two cliques joined
    by a single bridge — the right clique settles on its own min in round
    1 and its min is lowered to the global min strictly later, purely via
    the bridge node's changed label. A stale-frontier bug (skipping a
    changed contributor, or marking a doubling move as unchanged) leaves
    the right clique on its local min."""
    import itertools

    left = [(a, b) for a, b in itertools.combinations([0, 1, 2, 3], 2)]
    right = [(a, b) for a, b in itertools.combinations([10, 11, 12, 13], 2)]
    bridge = [(3, 10)]
    df = spark.createDataFrame(left + right + bridge, "a_id long, b_id long")
    got = {r["node"]: r["label"] for r in D.connected_components(df).collect()}
    assert got == {n: 0 for n in [0, 1, 2, 3, 10, 11, 12, 13]}


def test_connected_components_matches_star_on_seeded_random_graph(spark):
    """Property-style pin for the r12 delta rewrite: on a seeded random
    graph (200 nodes, 300 edges drawn from a fixed LCG), delta min-label
    propagation and star contraction must agree exactly — two independent
    algorithms, one answer."""
    state = 12345
    edges = []
    for _ in range(300):
        state = (state * 1103515245 + 12345) % (2**31)
        a = state % 200
        state = (state * 1103515245 + 12345) % (2**31)
        b = state % 200
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    prop = {(r["node"], r["label"]) for r in D.connected_components(df).collect()}
    star = {(r["node"], r["label"]) for r in D.connected_components_star(df).collect()}
    assert prop == star


def test_connected_components_idempotent_on_groups(spark):
    """Re-running components on the canonical-group edges changes nothing."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["a_id", "b_id"])
    first = D.connected_components(edges)
    again = {
        r["node"]: r["label"]
        for r in D.connected_components(
            first.select(F.col("node").alias("a_id"), F.col("label").alias("b_id"))
        ).collect()
    }
    assert again == {r["node"]: r["label"] for r in first.collect()}


def test_deterministic_split_is_stable_and_disjoint(spark):
    from nextgenetl_spark.operators.sampling import deterministic_split

    docs = load(spark, SF_SMOKE, "documents")
    out = deterministic_split(docs, "doc_id", [("cccc", "train"), ("e666", "val")])
    a = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    assert a == b  # rerun-stable
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < frac_train < 0.9  # ~0.8 by hex threshold
    # growing the corpus never moves existing docs between splits
    half = deterministic_split(
        docs.filter(F.col("doc_id") < 100), "doc_id", [("cccc", "train"), ("e666", "val")]
    )
    for r in half.select("doc_id", "split").collect():
        assert a[r["doc_id"]] == r["split"]


def test_sampler_draws_independent_of_split_draw(spark):
    """Salt-independence of the md5-threshold samplers (round-10 ADVICE
    ask #8, the count_fraction lesson generalized): a sampler drawing from
    the SAME unsalted hash as deterministic_split is perfectly nested with
    it — a rate-r sample of the train split (threshold t) keeps min(r,t)/t
    of it, not r — while the salted default composes independently. Also
    pins that the per-source cap's salted order de-correlates the kept set
    from split membership."""
    from nextgenetl_spark.operators.sampling import (
        deterministic_split,
        stratified_hash_sample,
    )

    n = 20000
    ids = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("stratum")
    )
    split = deterministic_split(ids, "doc_id", [("cccc", "train")], default="test")
    train = split.filter(F.col("split") == "train")
    n_train = train.count()
    assert 0.75 * n < n_train < 0.85 * n  # ~0.8

    # UNSALTED (salt="") inside train: the nested draw keeps min(0.5,0.8)/0.8
    # = 62.5%, nowhere near the requested 50% — the bias the salt removes
    kept_unsalted = stratified_hash_sample(
        train, "doc_id", "stratum", {"s": 0.5}, salt=""
    ).count()
    assert kept_unsalted / n_train > 0.58

    # SALTED default: independent draw → ~50% of train (binomial 3σ ≈ 1.2%)
    kept_salted = stratified_hash_sample(
        train, "doc_id", "stratum", {"s": 0.5}
    ).count()
    assert abs(kept_salted / n_train - 0.5) < 0.02

    # ...and the same rate measured on train vs on the whole corpus agrees
    # (a nested draw would differ: 62.5% vs 50%)
    kept_all = stratified_hash_sample(ids, "doc_id", "stratum", {"s": 0.5}).count()
    assert abs(kept_salted / n_train - kept_all / n) < 0.03

    # per-source cap ('cap|'-salted md5 order): kept docs' split mix tracks
    # the corpus mix; the UNSALTED order would keep ONLY lowest-md5 docs,
    # which are 100% train by construction of the threshold rule
    from pyspark.sql.window import Window

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 20).alias("source")
    )
    w_salt = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string"))), "doc_id"
    )
    capped = docs.withColumn("rk", F.row_number().over(w_salt)).filter(F.col("rk") <= 10)
    mix = (
        deterministic_split(capped, "doc_id", [("cccc", "train")], default="test")
        .groupBy("split")
        .count()
        .collect()
    )
    frac = {r["split"]: r["count"] for r in mix}
    assert frac.get("test", 0) > 0  # unsalted order would make this 0
    assert 0.6 < frac.get("train", 0) / 200 < 0.95

    w_unsalted = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    capped_u = docs.withColumn("rk", F.row_number().over(w_unsalted)).filter(
        F.col("rk") <= 10
    )
    mix_u = (
        deterministic_split(capped_u, "doc_id", [("cccc", "train")], default="test")
        .groupBy("split")
        .count()
        .collect()
    )
    frac_u = {r["split"]: r["count"] for r in mix_u}
    # the correlation the salt removes, demonstrated: lowest-md5-per-source
    # docs are overwhelmingly 'train' (bucket < 'cccc' ⇔ small md5)
    assert frac_u.get("train", 0) / 200 > 0.97


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """A 400-node path graph has diameter 399: plain min-label propagation
    needs ~400 rounds and would NOT converge within max_iters=30; pointer
    doubling must finish it in O(log n) rounds."""
    from nextgenetl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(399)], "a_id long, b_id long"
    )
    out = connected_components(edges, max_iters=30).collect()
    assert len(out) == 400
    assert {r["label"] for r in out} == {0}


def test_star_cc_matches_propagation_on_mixed_graph(spark):
    """Large-star/small-star contraction and min-label propagation must
    produce identical (node, label) sets on a graph mixing a chain, a
    clique, and a max-id hub star (the shapes that stress each variant
    differently)."""
    import itertools

    edges = [(i, i + 1) for i in range(40)]
    edges += [(100 + a, 100 + b) for a, b in itertools.combinations(range(5), 2)]
    edges += [(999, 200 + i) for i in range(30)]  # hub is the LARGEST id
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    star = {(r["node"], r["label"]) for r in D.connected_components_star(df).collect()}
    prop = {(r["node"], r["label"]) for r in D.connected_components(df).collect()}
    assert star == prop
    assert {l for _, l in star} == {0, 100, 200}


def test_star_cc_long_chain_converges(spark):
    """A 400-node path graph: star contraction's O(log^2 n) bound must land
    well within 50 rounds, with every node labelled by the chain minimum."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(399)], "a_id long, b_id long"
    )
    out = D.connected_components_star(edges, max_iters=50).collect()
    assert len(out) == 400
    assert {r["label"] for r in out} == {0}


def test_star_cc_duplicate_and_reversed_edges(spark):
    """Duplicate edges and both orientations must not change the result,
    and a self-loop-only node is its own singleton component — the same
    contract as the label-propagation twin (pinned by the graph fuzz,
    tests/test_graph_fuzz.py; star contraction used to drop node 5)."""
    base = [(1, 2), (2, 3), (7, 8)]
    noisy = base + [(2, 1), (3, 2), (1, 2), (5, 5)]
    df = spark.createDataFrame(noisy, "a_id long, b_id long")
    got = {r["node"]: r["label"] for r in D.connected_components_star(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7}


def test_compression_ratio_matches_direct_zlib(spark):
    """mapInPandas zlib ratios must equal a driver-side recompute on the
    same docs, and repetitive text must compress below shuffled-unique
    text."""
    import zlib

    from nextgenetl_spark.operators.textstats import compression_ratio_stats

    docs = load(spark, SF_SMOKE, "documents").limit(50)
    got = {r["doc_id"]: r for r in compression_ratio_stats(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        raw = r["text"].encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        assert got[r["doc_id"]]["n_bytes"] == len(raw)
        assert got[r["doc_id"]]["n_compressed"] == comp
        assert abs(got[r["doc_id"]]["ratio"] - round(comp / max(len(raw), 1), 4)) < 1e-9

    rep = spark.createDataFrame([(1, "spam " * 400), (2, " ".join(f"w{i}" for i in range(400)))],
                                ["doc_id", "text"])
    rr = {r["doc_id"]: r["ratio"] for r in compression_ratio_stats(rep).collect()}
    assert rr[1] < rr[2] / 3  # repetition compresses dramatically better


def test_token_budget_sample_monotone_and_stable(spark):
    """Budget monotonicity (kept@2000 ⊆ kept@4000), rerun stability, and
    growth stability (a doc kept on the FULL corpus is kept on any subset
    containing it — hash-order rank only drops when docs are removed)."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.sampling import token_budget_sample
    from nextgenetl_spark.operators.textstats import tokens

    d = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    small = {r["doc_id"] for r in token_budget_sample(d, 200).collect()}
    big = {r["doc_id"] for r in token_budget_sample(d, 400).collect()}
    assert small <= big and len(small) < len(big)
    assert small == {r["doc_id"] for r in token_budget_sample(d, 200).collect()}
    half = d.filter(F.col("doc_id") % 2 == 0)
    kept_half = {r["doc_id"] for r in token_budget_sample(half, 200).collect()}
    assert (small & {r["doc_id"] for r in half.collect()}) <= kept_half


def test_source_cap_shrinks_only_under_growth(spark):
    """A doc capped IN on the full corpus must be capped in on any subset
    containing it (per-source rank is monotone under deletion)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")

    def capped(df):
        return {
            r["doc_id"]
            for r in df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10).collect()
        }

    full = capped(d)
    half_df = d.filter(F.col("doc_id") % 2 == 0)
    assert (full & {r["doc_id"] for r in half_df.collect()}) <= capped(half_df)


def test_bounded_block_guard_rejects_oversized_block(spark):
    """The quadratic pair generators must FAIL (naming the block), not
    silently run, when a block exceeds max_block_rows."""
    import pytest

    docs = load(spark, SF_SMOKE, "documents")
    out = D.ngram_jaccard_pairs(docs, "source", threshold=0.5, max_block_rows=3)
    with pytest.raises(Exception, match="bounded blocks"):
        out.collect()


def test_bounded_block_guard_passes_and_preserves_result(spark):
    docs = load(spark, SF_SMOKE, "documents")
    guarded = D.ngram_jaccard_pairs(docs, "source", threshold=0.5)  # default bound
    unguarded = D.ngram_jaccard_pairs(docs, "source", threshold=0.5, max_block_rows=None)
    assert sorted(map(tuple, guarded.collect())) == sorted(map(tuple, unguarded.collect()))


def test_embedding_block_guard_rejects_oversized_block(spark):
    import pytest

    from nextgenetl_spark.operators.similarity import (
        blocked_near_dup_pairs,
        blocked_near_dup_pairs_vectorized,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    for fn in (blocked_near_dup_pairs, blocked_near_dup_pairs_vectorized):
        with pytest.raises(Exception, match="bounded blocks"):
            fn(emb, block_col="label", threshold=0.3, max_block_rows=2).collect()


def test_near_dup_auto_routes_oversized_blocks_to_lsh(spark):
    """With a tiny bound every block routes through MinHash-LSH: the auto
    path must still run (no guard failure), emit only same-block pairs, and
    with a generous bound reproduce the exact baseline bit-for-bit."""
    docs = load(spark, SF_SMOKE, "documents")
    exact = D.ngram_jaccard_pairs(docs, "source", threshold=0.5, max_block_rows=None)
    auto_big = D.near_dup_pairs_auto(docs, "source", threshold=0.5, max_block_rows=10_000)
    assert sorted(map(tuple, auto_big.collect())) == sorted(map(tuple, exact.collect()))

    auto_small = D.near_dup_pairs_auto(docs, "source", threshold=0.5, max_block_rows=3)
    rows = auto_small.collect()  # must not raise — oversized blocks rerouted
    blocks = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    for r in rows:
        assert blocks[r["a_id"]] == blocks[r["b_id"]]


def test_embedding_near_dup_auto_routes_and_matches(spark):
    """Generous bound -> identical to the exact blocked GEMM; tiny bound ->
    every block routes through hyperplane sub-buckets: must run, emit only
    same-block pairs, and stay a subset of the exact pairs."""
    from nextgenetl_spark.operators.similarity import (
        blocked_near_dup_pairs_auto,
        blocked_near_dup_pairs_vectorized,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    exact = sorted(map(tuple, blocked_near_dup_pairs_vectorized(
        emb, block_col="label", threshold=0.3, max_block_rows=None).collect()))
    auto_big = sorted(map(tuple, blocked_near_dup_pairs_auto(
        emb, dim=64, block_col="label", threshold=0.3, max_block_rows=100_000).collect()))
    assert auto_big == exact

    routed = blocked_near_dup_pairs_auto(
        emb, dim=64, block_col="label", threshold=0.3, max_block_rows=2).collect()
    blocks = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    got = sorted((r["a_id"], r["b_id"], r["sim"]) for r in routed)
    assert got  # sub-buckets must still find the close pairs
    assert set(got) <= set(exact)
    for a, b, _ in got:
        assert blocks[a] == blocks[b]


def test_minhash_signature_expr_matches_batch_aggregation(spark):
    """The per-row HOF signature (streaming shape) must be value-identical
    to the batch flat-aggregate form, for both hash families."""
    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 50)
    batch = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(docs).collect()}
    perrow = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", D.minhash_signature_expr("text").alias("sig")).collect()
    }
    assert batch == perrow and len(batch) == 50

    for fam in (D.XXHASH64, D.MD5):
        sets = D._hashed_shingles(fam, "text")
        flat = D._flat_min(docs, "doc_id", fam, sets, fam.num_perm).collect()
        batch = {r["doc_id"]: [r[f"m{i}"] for i in range(fam.num_perm)] for r in flat}
        rows = docs.select("doc_id", D._row_signature(sets, fam, fam.num_perm).alias("sig"))
        assert batch == {r["doc_id"]: r["sig"] for r in rows.collect()}, fam.set_col


def test_stream_near_dup_matches_batch_cross_pairs(spark):
    """Streaming near-dup-on-ingest == the batch MinHash pairs restricted to
    (history × new) — same banding, same verification, stateless plan."""
    from nextgenetl_spark.streaming.neardup import history_index, near_dup_against_history

    docs = load(spark, SF_SMOKE, "documents")
    split = 250
    hist = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    bands, verify = history_index(hist)
    got = {
        (r["new_id"], r["hist_id"], r["jac"])
        for r in near_dup_against_history(new, bands, verify, threshold=0.5).collect()
    }
    batch = D.minhash_near_dup_pairs(docs, threshold=0.5).collect()
    expect = {
        (max(r["a_id"], r["b_id"]), min(r["a_id"], r["b_id"]), r["jac"])
        for r in batch
        if min(r["a_id"], r["b_id"]) < split <= max(r["a_id"], r["b_id"])
    }
    assert got == expect


def test_md5_stream_probe_matches_persisted_index_probe(spark, tmp_path):
    """At split 250 the md5 stream probe (stream_near_dup_md5) and the md5
    persisted-index probe (query_minhash_index) run one candidate-join and
    verify stage, so they return the same pairs."""
    from nextgenetl_spark.workloads import load_all

    stream = load_all()["stream_near_dup_md5"].fn(spark, SF_SMOKE)
    got = sorted((r["new_id"], r["hist_id"], r["jac"]) for r in stream.collect())

    docs = load(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "idx")
    D.build_minhash_index(idx, docs.filter(F.col("doc_id") < 250))
    probe = D.query_minhash_index(spark, idx, docs.filter(F.col("doc_id") >= 250))
    assert got == sorted((r["new_id"], r["hist_id"], r["jac"]) for r in probe.collect())
    assert got


def test_md5_simhash_python_reference(spark):
    """md5_simhash_fingerprints matches a pure-Python recomputation of the
    same bit layout — pins the engine-portable hash family independently of
    both Spark and DuckDB."""
    import hashlib
    import re

    rows = [(1, "alpha beta gamma alpha"), (2, "delta epsilon"), (3, "alpha beta gamma alpha")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["fp"] for r in D.md5_simhash_fingerprints(df).collect()}

    def ref_fp(text):
        toks = dict.fromkeys(re.split(r"\s+", text.strip()))
        votes = [0] * 64
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for b in range(64):
                hv = int(h[b // 4], 16)
                votes[b] += 1 if (hv >> (3 - b % 4)) & 1 else -1
        fp = 0
        for b, v in enumerate(votes):
            if v > 0:
                fp += (1 << b) if b < 63 else -(2**63)
        return fp

    assert got == {i: ref_fp(t) for i, t in rows}
    assert got[1] == got[3]  # identical docs → identical fingerprints


def test_md5_minhash_matches_xxhash_semantics(spark):
    """The md5 minhash variant finds the same verified pair set as the
    xxhash64 production path on planted near-dups (verification makes
    precision exact on both; the planted dups are high-jaccard so both
    banding schemes must catch them)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, base), (2, base + " extra"), (3, "completely different content entirely here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    md5_pairs = {
        (r["a_id"], r["b_id"]) for r in D.md5_minhash_near_dup_pairs(df, threshold=0.5).collect()
    }
    xx_pairs = {
        (r["a_id"], r["b_id"]) for r in D.minhash_near_dup_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in md5_pairs
    assert md5_pairs == xx_pairs


def test_md5_oracle_sql_matches_spark(spark):
    """Full cross-engine pin at smoke SF: the generated DuckDB oracles
    reproduce the Spark md5 simhash/minhash outputs exactly."""
    import duckdb

    docs = load(spark, SF_SMOKE, "documents")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'")

    sim_spark = sorted(
        (r["fp"], r["n_docs"], r["canonical_id"])
        for r in D.md5_simhash_fingerprints(docs)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .collect()
    )
    sim_duck = sorted(tuple(r) for r in con.execute(D.md5_simhash_oracle_sql()).fetchall())
    assert sim_spark == sim_duck

    mh_spark = sorted(
        (r["a_id"], r["b_id"], r["jac"])
        for r in D.md5_minhash_near_dup_pairs(docs, threshold=0.5).collect()
    )
    mh_duck = sorted(tuple(r) for r in con.execute(D.md5_minhash_oracle_sql(threshold=0.5)).fetchall())
    assert mh_spark == mh_duck


def test_cosine_topk_gemm_equals_expression_form(spark):
    """The vectorized GEMM brute force must return exactly the expression
    form's (query, rank) → neighbor assignment — the per-batch partial
    top-(k+1) uses the same total order, so the merge is lossless."""
    from nextgenetl_spark.operators.similarity import cosine_topk_gemm

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    expr = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk(q, c, k=4).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk_gemm(q, c, k=4).collect()
    }
    assert expr == gemm


def test_md5_minhash_python_reference(spark):
    """Full pure-Python recomputation of the portable MinHash pipeline
    (shingles → one md5 per shingle → 32-bit prefix → universal-hash minima
    → band hashes) — pins the spec independent of both Spark and DuckDB."""
    import hashlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs today"),
        (3, "ab"),  # shorter than one 3-shingle → single partial shingle
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = df.select(
        "doc_id", D.shingles("text", 3).alias("sh")
    )
    base = sh.select("doc_id", F.explode("sh").alias("s"))
    aggs = [
        F.min(
            (F.lit(D._MINHASH_A[i]) * F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
             + F.lit(D._MINHASH_B[i])) % F.lit(D.MINHASH_P)
        ).alias(f"m{i}")
        for i in range(16)
    ]
    got = {r["doc_id"]: tuple(r[f"m{i}"] for i in range(16)) for r in base.groupBy("doc_id").agg(*aggs).collect()}

    def ref_sig(text):
        toks = text.strip().split()
        if len(toks) >= 3:
            sh = list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
        else:
            sh = [" ".join(toks)]
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh]
        return tuple(
            min((D._MINHASH_A[i] * h + D._MINHASH_B[i]) % D.MINHASH_P for h in hs)
            for i in range(16)
        )

    assert got == {i: ref_sig(t) for i, t in rows}


def test_ivf_persisted_index_full_probe_equals_brute(spark, tmp_path):
    """build-once/query-many IVF: querying the persisted cell-partitioned
    index with nprobe=ALL returns exactly the brute-force top-k, and the
    index layout is hive-partitioned by cell_id so probes prune files."""
    import os

    from nextgenetl_spark.operators.similarity import build_ivf_index, ivf_query_index

    emb = load(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, k_centroids=8, refine_iters=1)
    assert any(d.startswith("cell_id=") for d in os.listdir(os.path.join(idx, "cells")))

    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in cosine_topk(q, c, k=3).collect()
    }
    idx_full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_query_index(spark, idx, q, nprobe=8, k=3).collect()
    }
    assert idx_full == brute

    # partial probe still returns k ranked rows per query
    part = ivf_query_index(spark, idx, q, nprobe=2, k=3).collect()
    per_q = {}
    for r in part:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_md5_rolling_fingerprint_order_sensitive_and_matches_python(spark):
    """Rolling fingerprint: order-sensitive (unlike the set-shaped pins),
    and bit-equal to a pure-Python left fold of the same md5 prefixes."""
    import hashlib

    rows = [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", D.md5_rolling_fingerprint("text").alias("fp")).collect()
    }

    def ref(text):
        acc = 0
        for t in text.strip().split():
            h = int(hashlib.md5(t.encode()).hexdigest()[:7], 16)
            acc = (acc * D.ROLL_B + h) % D.ROLL_P
        return acc

    assert got == {i: ref(t) for i, t in rows}
    assert got[1] == got[3]
    assert got[1] != got[2]  # order matters


def test_lsh_multiprobe_recall_at_least_single_probe(spark):
    """Multiprobe LSH must recall at least as many true top-k neighbors as
    single-probe on the same planes (it probes a superset of buckets), and
    stay a subset of brute force by construction of the verify ranking."""
    import random

    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 12).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")

    brute = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, c, k=3).collect()}
    single = {(r["query_id"], r["neighbor_id"]) for r in lsh_topk(q, c, planes, k=3).collect()}
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(q, c, planes, k=3, nprobe_flips=2).collect()
    }
    assert len(multi & brute) >= len(single & brute)
    # with 2 of 4 bits probable, multiprobe should strictly improve recall
    # on this corpus unless single-probe is already perfect
    if single & brute != brute:
        assert len(multi & brute) > len(single & brute)


def test_simhash_hamming_banding_lossless(spark):
    """Banded hamming-ball pairs must equal brute-force all-pairs hamming
    (pigeonhole: <= 3 differing bits with 4 bands leaves one band intact)."""
    docs = load(spark, SF_SMOKE, "documents")
    banded = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in D.md5_simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    fps = D.md5_simhash_fingerprints(docs)
    a = fps.selectExpr("doc_id AS a_id", "fp AS fa")
    b = fps.selectExpr("doc_id AS b_id", "fp AS fb")
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    brute = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(ham <= 3)
        .select("a_id", "b_id", ham.cast("int").alias("hamming"))
        .collect()
    }
    assert banded == brute


def test_ivf_index_incremental_append(spark, tmp_path):
    """Appending new vectors to a persisted index (no rebuild) makes them
    retrievable, and a full-probe query over the grown index equals brute
    force over the grown corpus."""
    from nextgenetl_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    idx = str(tmp_path / "ivf")
    build_ivf_index(old, idx, k_centroids=8, refine_iters=1)
    append_to_ivf_index(spark, idx, new)

    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in cosine_topk(q, c, k=3).collect()
    }
    grown = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_query_index(spark, idx, q, nprobe=8, k=3).collect()
    }
    assert grown == brute
    # appended vectors actually live in the index
    n_idx = spark.read.parquet(f"{idx}/cells").count()
    assert n_idx == emb.count()


def test_shingles_match_naive_reference_on_random_texts(spark):
    """The zip-with-shifted-copies shingle construction (the O(1)-per-element
    trick) must equal the naive sliding-window reference for random token
    counts around every edge (0..2 tokens, exactly n, long docs) and for
    n=2..4."""
    import random

    rng = random.Random(123)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    texts = []
    for i in range(60):
        ln = rng.choice([0, 1, 2, 3, 4, 5, 8, 13, 21])
        texts.append((i, " ".join(rng.choice(words) for _ in range(ln))))
    df = spark.createDataFrame(texts, ["doc_id", "text"])

    def ref(text, n):
        toks = text.strip().split() if text.strip() else [""]
        if len(toks) >= n:
            sh = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        else:
            sh = [" ".join(toks)]
        return sorted(set(sh))

    for n in (2, 3, 4):
        got = {
            r["doc_id"]: sorted(r["sh"])
            for r in df.select("doc_id", D.shingles("text", n).alias("sh")).collect()
        }
        want = {i: ref(t, n) for i, t in texts}
        assert got == want, f"n={n}"


def test_bbit_minhash_estimates_track_true_jaccard(spark):
    """b-bit minhash: the unbiased estimator tracks true shingle Jaccard
    within sampling error, and near-identical docs score near 1 while
    unrelated docs score near 0."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today again"
    rows = [
        (1, "x", base),
        (2, "x", base + " extra tail"),
        (3, "x", "completely different content with nothing shared at all here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    est = {
        (r["a_id"], r["b_id"]): r["jac_est"]
        for r in D.bbit_minhash_similarity(df, "src", b=2, num_perm=64).collect()
    }
    sh = df.select("doc_id", D.shingles("text", 3).alias("sh"))
    a, b_ = sh.alias("a"), sh.alias("b")
    true = {
        (r["a_id"], r["b_id"]): r["j"]
        for r in a.join(b_, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            D.jaccard(F.col("a.sh"), F.col("b.sh")).alias("j"),
        )
        .collect()
    }
    assert est[(1, 2)] > 0.55 and abs(est[(1, 2)] - true[(1, 2)]) < 0.25
    assert est[(1, 3)] < 0.3 and est[(2, 3)] < 0.3


def test_minhash_index_append_then_query_matches_full_rebuild(spark, tmp_path):
    """Growing the persisted index must answer probes identically to an
    index rebuilt from scratch over the grown history."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        query_minhash_index,
    )
    from tests.conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    h1 = d.filter(F.col("doc_id") < 200)
    h2 = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
    new = d.filter(F.col("doc_id") >= 400)

    grown = str(tmp_path / "grown")
    build_minhash_index(grown, h1)
    append_to_minhash_index(spark, grown, h2)

    rebuilt = str(tmp_path / "rebuilt")
    build_minhash_index(rebuilt, d.filter(F.col("doc_id") < 400))

    a = sorted(map(tuple, query_minhash_index(spark, grown, new).collect()))
    b = sorted(map(tuple, query_minhash_index(spark, rebuilt, new).collect()))
    assert a == b and len(a) > 0


def test_cosine_topk_gemm_oversized_query_side_fails_by_name(spark, tmp_path, monkeypatch):
    """The GEMM top-k collects the query side into the UDF closure; a
    query batch above MAX_QUERY_ROWS must raise a named ValueError (the
    bounded-collect contract), not exhaust driver memory. limit(cap+1)
    bounds what the driver ever materializes, so the failure itself is
    cheap even for a 100k-row query side. The ADC searches (pq_topk,
    ivfpq_topk, ivfpq_query_index) collect their query side the same way
    and fail the same way, each naming itself. pq_topk and ivfpq_topk
    train their codebooks next to the collect: the failure cancels that
    training, so it never finishes (the training is held until the query
    side is collected, so the check does not race it)."""
    import threading

    import pytest

    import nextgenetl_spark.operators.similarity as S
    from nextgenetl_spark.operators.similarity import (
        MAX_QUERY_ROWS,
        build_ivfpq_index,
        cosine_topk_gemm,
        ivfpq_query_index,
        ivfpq_topk,
        pq_topk,
    )

    big = spark.range(100_000).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    corpus = spark.range(10).select(
        F.col("id").alias("neighbor_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="cosine_topk_gemm.*MAX_QUERY_ROWS"):
        cosine_topk_gemm(big, corpus, k=3)
    assert MAX_QUERY_ROWS >= 1024  # contract floor: real ad-hoc batches fit

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(4)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    big4 = spark.range(100_000).select(
        F.col("id").alias("query_id"),
        F.array(*[F.lit(1.0)] * 4).alias("embedding"),
    )
    c4 = emb.withColumnRenamed("vec_id", "neighbor_id")
    collected, trained = threading.Event(), []
    collect, train = S._collect_queries, S.train_pq_codebooks

    def collect_then_signal(*args):
        rows = collect(*args)
        collected.set()
        return rows

    def train_after_collect(*args, **kwargs):
        assert collected.wait(120)
        cb = train(*args, **kwargs)
        trained.append(cb)
        return cb

    monkeypatch.setattr(S, "_collect_queries", collect_then_signal)
    monkeypatch.setattr(S, "train_pq_codebooks", train_after_collect)
    with pytest.raises(ValueError, match="pq_topk.*MAX_QUERY_ROWS"):
        pq_topk(big4, c4, m=2, ks=4, k=3, shortlist=8, train_iters=1)
    collected.clear()
    with pytest.raises(ValueError, match="ivfpq_topk.*MAX_QUERY_ROWS"):
        ivfpq_topk(big4, c4, k_centroids=2, nprobe=1, m=2, ks=4, k=3, shortlist=8)
    assert trained == []
    monkeypatch.undo()
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, k_centroids=2, refine_iters=0, m=2, ks=4, train_iters=1)
    with pytest.raises(ValueError, match="ivfpq_query_index.*MAX_QUERY_ROWS"):
        ivfpq_query_index(spark, idx, big4, nprobe=1, shortlist=8, k=3)


def test_banded_hamming_pairs_enforces_losslessness_preconditions(spark):
    """banded_hamming_pairs promises exact equality with the all-pairs
    hamming join only when max_hamming < num_bands (pigeonhole) and the
    bands tile the 64-bit word; violating either must fail loudly instead
    of silently dropping pairs."""
    import pytest

    from nextgenetl_spark.operators.dedup import banded_hamming_pairs

    fps = spark.range(4).select(F.col("id").alias("doc_id"), F.col("id").alias("fp"))
    with pytest.raises(ValueError, match="max_hamming < num_bands"):
        banded_hamming_pairs(fps, max_hamming=4, num_bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        banded_hamming_pairs(fps, max_hamming=2, num_bands=3)


def test_shard_shuffle_is_balanced_deterministic_permutation(spark):
    from nextgenetl_spark.operators.sampling import shard_shuffle

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = d.count()
    out = shard_shuffle(d, n_shards=4).select("doc_id", "shard", "shuffle_rank")
    rows = out.collect()
    assert len(rows) == n
    # within each shard, ranks are exactly 1..len(shard)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shuffle_rank"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for ranks in by_shard.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # roughly balanced (md5 buckets): no shard more than 2x the mean
    assert max(len(v) for v in by_shard.values()) <= 2 * (n / 4)
    # deterministic across invocations
    again = {(r["doc_id"], r["shard"], r["shuffle_rank"])
             for r in shard_shuffle(d, n_shards=4).select("doc_id", "shard", "shuffle_rank").collect()}
    assert again == {(r["doc_id"], r["shard"], r["shuffle_rank"]) for r in rows}
    # a different salt yields a different permutation (epoch reshuffle)
    salted = {(r["doc_id"], r["shard"], r["shuffle_rank"])
              for r in shard_shuffle(d, n_shards=4, salt="epoch1").select("doc_id", "shard", "shuffle_rank").collect()}
    assert salted != again


def test_cms_never_underestimates_and_merges(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import cms_build, cms_estimate

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    true_counts = {r["term"]: r["n"] for r in toks.groupBy("term").agg(F.count("*").alias("n")).collect()}
    terms = toks.select("term").distinct()
    est = {r["term"]: r["est_count"] for r in cms_estimate(cms_build(toks, "term"), terms, "term").collect()}
    assert set(est) == set(true_counts)
    overs = 0
    for t, n in true_counts.items():
        assert est[t] >= n, t  # CMS never underestimates
        overs += est[t] > n
    # width=1024 >> distinct terms here: collisions must be rare
    assert overs <= max(2, len(true_counts) // 20)

    # mergeability: summing two halves' sketch TABLES == whole-corpus sketch
    half_a = d.filter(F.col("doc_id") % 2 == 0).select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    half_b = d.filter(F.col("doc_id") % 2 == 1).select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    merged = (
        cms_build(half_a, "term").unionByName(cms_build(half_b, "term"))
        .groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(toks, "term")
    sym_diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
    assert sym_diff == 0


def test_cms_weighted_build_equals_stream_build(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import cms_build

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    stream = cms_build(toks, "term")
    weighted = cms_build(counts, "term", weight_col="n")
    diff = stream.exceptAll(weighted).count() + weighted.exceptAll(stream).count()
    assert diff == 0  # bit-identical sketch from |vocab| rows instead of |tokens|


def test_bloom_no_false_negatives_and_merges(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import bloom_build, bloom_might_contain

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = d.select("doc_id", F.md5("text").alias("f"))
    hist = fp.filter(F.col("doc_id") < 30)
    bloom = bloom_build(hist, "f", m_bits=4096, k_hashes=4)
    assert bloom.count() <= 30 * 4  # sparse set-bit table is bounded

    res = {r["f"]: r["might_contain"]
           for r in bloom_might_contain(bloom, fp, "f", m_bits=4096, k_hashes=4).collect()}
    hist_fps = {r["f"] for r in hist.collect()}
    for f in hist_fps:
        assert res[f], "bloom false negative — structurally impossible"
    # with 4096 bits and <=120 set, false positives among the rest are rare
    fp_rate = sum(res[f] for f in set(res) - hist_fps) / max(1, len(set(res) - hist_fps))
    assert fp_rate < 0.05

    # mergeability: union+distinct of two halves' bit tables == whole build
    a = bloom_build(hist.filter(F.col("doc_id") % 2 == 0), "f", m_bits=4096, k_hashes=4)
    b = bloom_build(hist.filter(F.col("doc_id") % 2 == 1), "f", m_bits=4096, k_hashes=4)
    merged = a.unionByName(b).distinct()
    diff = merged.exceptAll(bloom).count() + bloom.exceptAll(merged).count()
    assert diff == 0


def test_bm25_scores_rank_term_heavy_docs_first(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.workloads.text import bm25_topk

    out = bm25_topk(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0 and out[0]["rank"] == 1
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)  # monotone by rank
    assert all(s > 0 for s in scores)


def test_qhist_quantiles_within_bin_width_and_merges(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import qhist_build, qhist_quantiles

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lo, hi, n_bins = 0.0, 500.0, 256
    h = qhist_build(e, "value", lo, hi, n_bins)
    assert h.count() <= n_bins + 2  # sketch is bounded regardless of rows

    got = {r["q"]: r["value"] for r in qhist_quantiles(h, [0.5, 0.9], lo, hi, n_bins).collect()}
    exact = e.approxQuantile("value", [0.5, 0.9], 0.0)
    width = (hi - lo) / n_bins
    assert abs(got[0.5] - exact[0]) <= width  # error ≤ one bin width
    assert abs(got[0.9] - exact[1]) <= width

    # mergeability: SUM-merge of two halves' sketch tables == whole build
    a = qhist_build(e.filter(F.col("event_id") % 2 == 0), "value", lo, hi, n_bins)
    b = qhist_build(e.filter(F.col("event_id") % 2 == 1), "value", lo, hi, n_bins)
    merged = a.unionByName(b).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    whole = qhist_build(e, "value", lo, hi, n_bins)
    diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
    assert diff == 0

    # under/overflow land in the sentinel bins, never lost — including a
    # heavy-tail value big enough to overflow a pre-clamp int cast (the
    # round-4 review's CAST_OVERFLOW repro) and NaN (excluded with nulls)
    oob = spark.createDataFrame(
        [(-5.0,), (9999.0,), (8.39e9,), (float("nan"),), (None,)], "value double"
    )
    hb = {r["bin"]: r["cnt"] for r in qhist_build(oob, "value", lo, hi, n_bins).collect()}
    assert hb == {-1: 1, n_bins: 2}


def test_bloom_probe_with_duplicate_items_has_no_false_negative(spark):
    """Round-4 review repro: N duplicate rows of a contained item must
    still probe True — the hit count is per DISTINCT item, never inflated
    by probe-row multiplicity."""
    from nextgenetl_spark.operators.agg import bloom_build, bloom_might_contain

    items = spark.createDataFrame([("a",), ("a",), ("b",)], "f string")
    bloom = bloom_build(spark.createDataFrame([("a",)], "f string"), "f", m_bits=256, k_hashes=4)
    got = {r["f"]: r["might_contain"] for r in
           bloom_might_contain(bloom, items, "f", m_bits=256, k_hashes=4).collect()}
    assert got["a"] is True  # was a false negative before the distinct()

def test_compression_oracle_corpus_fingerprint():
    """The compression_ratio VALUES oracle is precomputed over the FIXED
    sf0.01 corpus (tools/gen_compression_oracle.py). If the driver ever
    regenerates documents.parquet with different content, this fails BY
    NAME instead of surfacing as a confusing oracle hash mismatch —
    rerun the generator to refresh _compression_expected.py."""
    import pandas as pd
    import pyarrow.parquet as pq

    from nextgenetl_spark.workloads._compression_expected import CORPUS_MD5, EXPECTED
    from tools.gen_compression_oracle import corpus_md5

    pdf = (
        pq.read_table("/root/testdata/sf0.01/documents.parquet", columns=["doc_id", "text"])
        .to_pandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert corpus_md5(pdf) == CORPUS_MD5
    assert len(EXPECTED) == len(pdf)

def test_lsh_oracle_corpus_fingerprint():
    """The ann_lsh_topk / ann_lsh_multiprobe VALUES oracles are frozen over
    the FIXED sf0.01 embeddings (tools/gen_lsh_oracle.py — an independent
    pure-Python walk). Fails BY NAME if the corpus content changes; rerun
    the generator to refresh _lsh_expected.py."""
    import hashlib

    import pyarrow.parquet as pq

    from nextgenetl_spark.workloads._lsh_expected import CORPUS_MD5, MULTI, SINGLE

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    h = hashlib.md5()
    for vid in sorted(vecs):
        h.update(str(vid).encode() + b"\x00" + str(vecs[vid]).encode() + b"\x01")
    assert h.hexdigest() == CORPUS_MD5
    # 10 queries x top-5 on both variants
    assert len(SINGLE) == 50 and len(MULTI) == 50
    # multiprobe candidates are a superset per query, so at equal rank its
    # sim can never be lower
    s1 = {(q, r): s for q, _, s, r in SINGLE}
    for q, _, s, r in MULTI:
        if (q, r) in s1:
            assert s >= s1[(q, r)]

def test_hashpath_oracle_corpus_fingerprint():
    """The doc_fingerprint / simhash_dedup / minhash_near_dup VALUES
    oracles are frozen over the FIXED sf0.01 documents
    (tools/gen_hashpath_oracle.py — independent pure-Python XXH64 walk).
    Fails BY NAME if the corpus content changes; rerun the generator."""
    import hashlib

    import pyarrow.parquet as pq

    from nextgenetl_spark.workloads._hashpath_expected import (
        CORPUS_MD5,
        DOC_FP,
        MINHASH_PAIRS,
        SIMHASH,
        STREAM_PAIRS,
    )

    t = pq.read_table("/root/testdata/sf0.01/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    h = hashlib.md5()
    for did in sorted(docs):
        h.update(f"{did}\x00{docs[did]}\x01".encode())
    assert h.hexdigest() == CORPUS_MD5
    assert len(DOC_FP) == len(docs)
    # simhash groups partition the corpus; every verified pair clears 0.5
    assert sum(nd for _, nd, _ in SIMHASH) == len(docs)
    assert all(j >= 0.5 for _, _, j in MINHASH_PAIRS)
    # streaming pairs: new (>=250) vs history (<250), threshold holds; the
    # cross-split subset of the batch pair list must appear here too
    assert all(n >= 250 > h and j >= 0.5 for n, h, j in STREAM_PAIRS)
    batch_cross = {(max(a, b), min(a, b)) for a, b, _ in MINHASH_PAIRS if (a < 250) != (b < 250)}
    assert batch_cross <= {(n, h) for n, h, _ in STREAM_PAIRS}


def test_hashpath_oracle_xxh64_matches_spark(spark):
    """The generator's from-scratch XXH64 must equal Spark's xxhash64 on
    every path the oracles use: string bytes, (long, int-seed) chains, and
    (array<long>, int) band hashing — pinned on adversarial lengths around
    the 4/8/32-byte boundaries and on negative longs."""
    from pyspark.sql import functions as F

    from tools.gen_hashpath_oracle import xxh_long_int, xxh_longarray_int, xxh_str

    samples = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31, "y" * 32,
               "z" * 33, "word " * 13, "日本語テキストと emoji 🚀"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxh_str(r["s"]) == r["h"], repr(r["s"])
    longs = [0, 1, -1, 2**62, -(2**62), -5721346551340422899]
    ldf = spark.createDataFrame([(l,) for l in longs], "l long")
    for r in ldf.select(
        "l",
        F.xxhash64(F.col("l"), F.lit(7)).alias("li"),
        F.xxhash64(F.array(F.col("l"), F.lit(3).cast("long")), F.lit(5)).alias("ai"),
    ).collect():
        assert xxh_long_int(r["l"], 7) == r["li"]
        assert xxh_longarray_int([r["l"], 3], 5) == r["ai"]

def test_ivf_oracle_corpus_fingerprint():
    """The ann_ivf_topk VALUES oracle is frozen over the FIXED sf0.01
    embeddings (tools/gen_ivf_oracle.py — independent pure-Python
    XXH64-seed + deterministic-Lloyd IVF walk). Fails BY NAME if the
    corpus content changes; rerun the generator to refresh
    _ivf_expected.py."""
    import hashlib

    import pyarrow.parquet as pq

    from nextgenetl_spark.workloads._ivf_expected import (
        CORPUS_MD5,
        IVF_TOPK,
        MIN_DECISION_MARGIN,
    )

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    h = hashlib.md5()
    for vid in sorted(vecs):
        h.update(str(vid).encode() + b"\x00" + str(vecs[vid]).encode() + b"\x01")
    assert h.hexdigest() == CORPUS_MD5
    # 10 queries x top-5; ranks contiguous from 1 per query
    assert len(IVF_TOPK) == 50
    by_q: dict = {}
    for q, _, _, r in IVF_TOPK:
        by_q.setdefault(q, []).append(r)
    assert all(sorted(rs) == [1, 2, 3, 4, 5] for rs in by_q.values())
    # the frozen walk certified fold-vs-GEMM order equivalence
    assert MIN_DECISION_MARGIN > 1e-9
    # sims are valid cosines, ordered desc within each query
    assert all(-1.0 <= s <= 1.0 for _, _, s, _ in IVF_TOPK)
    for q in by_q:
        sims = [s for qq, _, s, r in sorted(IVF_TOPK, key=lambda t: (t[0], t[3])) if qq == q]
        assert sims == sorted(sims, reverse=True)

def test_relative_contrast_distinguishes_crowded_from_isotropic(spark):
    """The round-8 clusterability QC must separate the two measured ANN
    regimes (BASELINE §4.2): the RAW sf tables are isotropic by
    construction (relative contrast ≈ 1.5 → near_isotropic, where IVF/LSH
    recall floors at 0.52/0.03), while a replicated near-dup-crowded
    corpus (the ann_recall build shape) reads contrast ≫ 2 with the flag
    off — the regime where pruning works."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.operators.similarity import relative_contrast_profile

    emb = load(spark, SF_SMOKE, "embeddings")
    raw = relative_contrast_profile(emb, sample_n=150).collect()[0]
    assert raw["near_isotropic"] is True
    assert raw["relative_contrast"] < 2.0

    # near-dup-crowded: 4 perturbed replicas per base vector, re-idded so
    # the sample holds whole replica groups
    r = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("rep")
    pert = F.transform(
        F.col("embedding"),
        lambda x, j: x.cast("double")
        + F.lit(0.05) * F.sin((F.col("rep") + 1).cast("double") * (j + 1).cast("double")),
    )
    crowded = emb.select("vec_id", "embedding", r).select(
        (F.col("vec_id") * 4 + F.col("rep")).alias("vec_id"), pert.alias("embedding")
    )
    cr = relative_contrast_profile(crowded, sample_n=150).collect()[0]
    assert cr["near_isotropic"] is False
    assert cr["relative_contrast"] > 2.0
    assert cr["mean_nn_sim"] > raw["mean_nn_sim"]


def test_pq_oracle_corpus_fingerprint():
    """The ann_pq_topk VALUES oracle is frozen over the FIXED sf0.01
    embeddings (tools/gen_pq_oracle.py — independent pure-Python PQ/ADC
    walk). Fails BY NAME if the corpus content changes; rerun the
    generator to refresh _pq_expected.py."""
    import hashlib

    import pyarrow.parquet as pq

    from nextgenetl_spark.workloads._pq_expected import (
        CORPUS_MD5,
        MIN_DECISION_MARGIN,
        PQ_TOPK,
    )

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    h = hashlib.md5()
    for vid in sorted(vecs):
        h.update(str(vid).encode() + b"\x00" + str(vecs[vid]).encode() + b"\x01")
    assert h.hexdigest() == CORPUS_MD5
    assert len(PQ_TOPK) == 50  # 10 queries x top-5
    by_q: dict = {}
    for q, _, s, r in PQ_TOPK:
        by_q.setdefault(q, []).append((r, s))
    assert all(sorted(r for r, _ in rs) == [1, 2, 3, 4, 5] for rs in by_q.values())
    assert MIN_DECISION_MARGIN > 1e-9
    # sims are valid cosines, non-increasing within each query
    assert all(-1.0 <= s <= 1.0 for _, _, s, _ in PQ_TOPK)
    for rs in by_q.values():
        sims = [s for _, s in sorted(rs)]
        assert sims == sorted(sims, reverse=True)


def test_pq_full_shortlist_equals_brute_force(spark):
    """With shortlist >= corpus, pq_topk degenerates to exact brute force:
    the ADC shortlist passes everything through and the exact re-rank IS
    the answer — so the full PQ pipeline must reproduce cosine_topk_gemm
    row-for-row on a random corpus (codebook quality becomes irrelevant,
    which is exactly what makes this a machinery pin)."""
    import random

    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.similarity import cosine_topk_gemm, pq_topk

    rng = random.Random(23)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in pq_topk(q, c, m=4, ks=8, k=4, shortlist=10**9, train_iters=1).collect()
    )
    exp = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in cosine_topk_gemm(q, c, k=4).collect()
    )
    assert got == exp


def test_expected_code_crowd_weighted_mean(spark):
    """The crowd statistic is the MEMBERSHIP-weighted mean collision-group
    size, ceil'd: groups of sizes (4,4,1,1) → (16+16+1+1)/10 = 3.4 → 4 —
    what a random vector experiences, not the unweighted mean 2.5."""
    from nextgenetl_spark.operators.similarity import expected_code_crowd

    rows = (
        [(i, [0, 1]) for i in range(4)]
        + [(10 + i, [0, 2]) for i in range(4)]
        + [(20, [1, 1]), (21, [2, 2])]
    )
    codes = spark.createDataFrame(rows, "vec_id long, codes array<int>")
    assert expected_code_crowd(codes) == 4


def test_pq_auto_shortlist_survives_crowds(spark):
    """The 200k finding at test scale: a corpus of near-duplicate crowds
    larger than a hand-tuned small shortlist. With shortlist=6 the crowd
    hides true neighbors (recall < 1); with shortlist=None the auto rule
    3·max(k, crowd) restores brute-force-exact top-k (round-8 verdict
    ask #5)."""
    import random

    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.similarity import cosine_topk_gemm, pq_topk

    rng = random.Random(7)
    vecs = []
    vid = 0
    for base in range(8):  # 8 crowds of 25 near-identical vectors; the
        # jitter is big enough that EXACT cosine ranks crowd members apart
        # at 4dp (so the true top-5 is sim-ordered, not id-ordered) but far
        # smaller than inter-crowd distances (so PQ codes still collide)
        center = [rng.gauss(0, 1) for _ in range(8)]
        for _ in range(25):
            vecs.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = sets(cosine_topk_gemm(q, c, k=5))
    small = sets(pq_topk(q, c, m=4, ks=8, k=5, shortlist=6, train_iters=1))
    auto = sets(pq_topk(q, c, m=4, ks=8, k=5, shortlist=None, train_iters=1))
    n_hit_small = sum(len(small.get(qid, set()) & exact[qid]) for qid in exact)
    n_hit_auto = sum(len(auto.get(qid, set()) & exact[qid]) for qid in exact)
    n_total = sum(len(s) for s in exact.values())
    assert n_hit_auto == n_total  # auto rule: full recall
    assert n_hit_small < n_total  # tiny hand-tuned shortlist: crowd-blinded


def test_pq_train_rejects_corpus_smaller_than_ks(spark):
    """ks codewords need ks non-zero-norm seed vectors; a too-small corpus
    must fail with a descriptive ValueError naming the missing codes —
    raised by _collect_codebooks on first use, not an opaque KeyError
    deep in the Lloyd loop (r8 ADVICE nit; the eager per-call
    seeds.count() guard was dropped in the round-9 self-review — this
    pytest pins that the descriptive error still surfaces without it)."""
    import pytest

    from nextgenetl_spark.operators.similarity import train_pq_codebooks

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 0.0, 0.0, 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="missing.*subspace, code.*fewer than ks"):
        train_pq_codebooks(emb, m=2, ks=8, iters=1)


def test_ivfpq_oracle_corpus_fingerprint():
    """The ann_ivfpq_topk VALUES oracle is frozen over the FIXED sf0.01
    embeddings (tools/gen_ivfpq_oracle.py — the composed pure-Python
    IVF-PQ walk). Fails BY NAME if the corpus content changes; rerun the
    generator to refresh _ivfpq_expected.py."""
    import hashlib

    import pyarrow.parquet as pq

    from nextgenetl_spark.workloads._ivfpq_expected import (
        CORPUS_MD5,
        IVFPQ_TOPK,
        MIN_DECISION_MARGIN,
    )

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    h = hashlib.md5()
    for vid in sorted(vecs):
        h.update(str(vid).encode() + b"\x00" + str(vecs[vid]).encode() + b"\x01")
    assert h.hexdigest() == CORPUS_MD5
    assert len(IVFPQ_TOPK) == 50
    by_q: dict = {}
    for q, _, s, r in IVFPQ_TOPK:
        by_q.setdefault(q, []).append((r, s))
    assert all(sorted(r for r, _ in rs) == [1, 2, 3, 4, 5] for rs in by_q.values())
    assert MIN_DECISION_MARGIN > 1e-9
    assert all(-1.0 <= s <= 1.0 for _, _, s, _ in IVFPQ_TOPK)
    for rs in by_q.values():
        sims = [s for _, s in sorted(rs)]
        assert sims == sorted(sims, reverse=True)


def test_ivfpq_index_persist_matches_self_contained_and_brute(spark, tmp_path):
    """The persisted IVF-PQ index (build_ivfpq_index + ivfpq_query_index)
    must reproduce the self-contained ivfpq_topk BIT-IDENTICALLY when
    built with the same parameters (every stage of the walk is
    deterministic, so parquet round-tripping the centroids/codebooks/codes
    changes nothing), and must degenerate to exact brute force at
    nprobe=all cells + unbounded shortlist — the build_ivf_index
    discipline applied to the composed index."""
    import random

    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk_gemm,
        ivfpq_query_index,
        ivfpq_topk,
    )

    rng = random.Random(31)
    dim, n = 12, 80
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vecs = [(i, [c + rng.gauss(0, 0.3) for c in centers[i % 4]]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")

    meta = build_ivfpq_index(
        emb, str(tmp_path / "idx"), k_centroids=4, refine_iters=1, m=3, ks=4, train_iters=1
    )
    assert meta["k_centroids"] == 4

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["sim"], r["rank"]) for r in df.collect()
        )

    got_idx = rows(
        ivfpq_query_index(spark, str(tmp_path / "idx"), q, nprobe=2, shortlist=10, k=3)
    )
    got_self = rows(
        ivfpq_topk(
            q, c, k_centroids=4, nprobe=2, m=3, ks=4, k=3, shortlist=10,
            refine_iters=1, train_iters=1,
        )
    )
    assert got_idx == got_self

    got_full = rows(
        ivfpq_query_index(spark, str(tmp_path / "idx"), q, nprobe=4, shortlist=10**9, k=3)
    )
    assert got_full == rows(cosine_topk_gemm(q, c, k=3))

    # the build persisted both crowd statistics in meta/ and the
    # shortlist=None query path consumes adc_crowd without re-measuring
    midx = spark.read.parquet(str(tmp_path / "idx" / "meta")).first()
    assert midx["adc_crowd"] == meta["adc_crowd"] >= 1
    assert midx["code_crowd"] == meta["code_crowd"] >= 1
    auto_rows = ivfpq_query_index(
        spark, str(tmp_path / "idx"), q, nprobe=4, shortlist=None, k=3
    )
    assert rows(auto_rows) == rows(
        ivfpq_query_index(
            spark, str(tmp_path / "idx"), q, nprobe=4,
            shortlist=3 * max(3, meta["adc_crowd"]), k=3,
        )
    )
    # nprobe=None applies the measured ceil(k_centroids/4) fraction rule
    # (here ceil(4/4)=1) — identical to the explicit call
    assert rows(
        ivfpq_query_index(spark, str(tmp_path / "idx"), q, nprobe=None, shortlist=10, k=3)
    ) == rows(
        ivfpq_query_index(spark, str(tmp_path / "idx"), q, nprobe=1, shortlist=10, k=3)
    )


def test_ivf_auto_nprobe_matches_quarter_fraction(spark):
    """nprobe=None == explicit ceil(k_centroids/4) on ivf_topk, and the
    helper implements the measured rule (IVF_DEFAULT_CONFIRM.json)."""
    import random

    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.similarity import _auto_nprobe, ivf_topk

    assert _auto_nprobe(200) == 50 and _auto_nprobe(447) == 112
    assert _auto_nprobe(4) == 1 and _auto_nprobe(1) == 1
    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    got_auto = sorted(
        map(tuple, ivf_topk(q, c, k_centroids=8, nprobe=None, k=3).collect())
    )
    got_two = sorted(map(tuple, ivf_topk(q, c, k_centroids=8, nprobe=2, k=3).collect()))
    assert got_auto == got_two


def test_hybrid_oracle_corpus_fingerprint(spark):
    """The hybrid_rrf_production dense-leg VALUES oracle is frozen over the
    FIXED sf0.01 embeddings with the AUTO-knob rules replicated in pure
    Python (tools/gen_hybrid_oracle.py). Fails BY NAME if the corpus
    changes; rerun the generator to refresh _hybrid_expected.py. Also pins
    the one cross-derivation seam: the implementation's measured_adc_crowd
    over the fixed corpus must equal the replicated ADC_CROWD (the two
    GEMM paths batch the corpus differently, so this is the only decision
    the margin assertion cannot cover)."""
    import hashlib

    import pyarrow.parquet as pq

    from nextgenetl_spark.operators.similarity import (
        _collect_codebooks,
        _unit_vectors,
        measured_adc_crowd,
        pq_encode,
        train_pq_codebooks,
    )
    from nextgenetl_spark.workloads._hybrid_expected import (
        ADC_CROWD,
        CORPUS_MD5,
        DENSE_TOPK,
        MIN_DECISION_MARGIN,
        NPROBE,
        SHORTLIST,
    )

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    h = hashlib.md5()
    for vid in sorted(vecs):
        h.update(str(vid).encode() + b"\x00" + str(vecs[vid]).encode() + b"\x01")
    assert h.hexdigest() == CORPUS_MD5
    assert MIN_DECISION_MARGIN > 1e-9
    assert NPROBE == 4  # ceil(16/4)
    assert SHORTLIST == 3 * max(10, ADC_CROWD)
    # 5 queries x top-10, contiguous ranks, sims ordered desc
    assert len(DENSE_TOPK) == 50
    by_q: dict = {}
    for q, _, s, r in DENSE_TOPK:
        by_q.setdefault(q, []).append((r, s))
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    for rs in by_q.values():
        assert sorted(r for r, _ in rs) == list(range(1, 11))
        sims = [s for _, s in sorted(rs)]
        assert sims == sorted(sims, reverse=True)

    # seam pin: Spark's measured crowd == the pure-Python replication
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    unit = _unit_vectors(emb, "doc_id", "embedding")
    CB = _collect_codebooks(train_pq_codebooks(emb, 8, 16, 1, "doc_id", "embedding"), 8, 16)
    codes = pq_encode(emb, CB, "doc_id", "embedding")
    assert measured_adc_crowd(unit, codes, CB, "doc_id") == ADC_CROWD


def test_hybrid_production_vs_brute_force_fusion(spark):
    """Ground truth for hybrid_rrf_production: swap the IVF-PQ dense leg
    for brute-force cosine_topk (the exact leg) and fuse with the SAME
    lexical leg. The fixed sf tables are isotropic (near_isotropic=True —
    the regime where any pruning index structurally loses recall, BASELINE
    §4.2), so the assertion there is a deterministic overlap floor plus
    structural invariants; on a near-dup-crowded corpus (the regime
    indexes are FOR) the auto-knob dense leg must recover the brute-force
    top-10 almost exactly."""
    from nextgenetl_spark.operators.similarity import ivfpq_topk
    from nextgenetl_spark.operators.textstats import rrf_fuse
    from nextgenetl_spark.workloads.similarity import _hybrid_lex_leg, hybrid_rrf_production

    fused = hybrid_rrf_production(spark, SF_SMOKE).collect()
    assert {r["query_id"] for r in fused} == {0, 1, 2, 3, 4}
    for q in range(5):
        ranks = sorted(r["rank"] for r in fused if r["query_id"] == q)
        assert ranks == [1, 2, 3, 4, 5]
    assert all(r["n_lists"] in (1, 2) for r in fused)
    assert all(0.0 < r["rrf"] <= 2.0 / 61.0 + 1e-9 for r in fused)

    emb = load(spark, SF_SMOKE, "embeddings")
    docs = load(spark, SF_SMOKE, "documents")
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c_emb = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    brute = cosine_topk(q_emb, c_emb, k=10, corpus_id="doc_id")
    bf = rrf_fuse(
        [brute.select("query_id", "doc_id", "rank"), _hybrid_lex_leg(docs)],
        k=5,
    ).collect()

    def sets(rows):
        d: dict = {}
        for r in rows:
            d.setdefault(r["query_id"], set()).add(r["doc_id"])
        return d

    fs, bs = sets(fused), sets(bf)
    overlaps = [len(fs[q] & bs[q]) / 5 for q in fs]
    assert sum(overlaps) / len(overlaps) >= 0.5  # isotropic floor (measured 0.64)

    # crowded corpus: 12 perturbed replicas per base vector (600 vecs) —
    # the regime pruning indexes exist for; with k_centroids = 24 ≈ √600
    # (the auto √N sizing rule) the auto-probe/auto-shortlist dense leg
    # reads recall@10 = 1.000 vs brute force (every query's true top-10 is
    # its 11-sibling crowd, recovered exactly). Floor at 0.9 for slack.
    rexp = F.explode(F.sequence(F.lit(0), F.lit(11))).alias("rep")
    pert = F.transform(
        F.col("embedding"),
        lambda x, j: x.cast("double")
        + F.lit(0.05) * F.sin((F.col("rep") + 1).cast("double") * (j + 1).cast("double")),
    )
    crowded = emb.select("vec_id", "embedding", rexp).select(
        (F.col("vec_id") * 12 + F.col("rep")).alias("doc_id"), pert.alias("embedding")
    )
    qids = [b * 12 for b in range(5)]  # 5 distinct bases, not 5 reps of one
    cq = crowded.filter(F.col("doc_id").isin(qids)).withColumnRenamed("doc_id", "query_id")
    dense_auto = ivfpq_topk(
        cq, crowded, k_centroids=24, nprobe=None, m=8, ks=16, k=10,
        shortlist=None, refine_iters=1, train_iters=1, corpus_id="doc_id",
    )
    dense_brute = cosine_topk(cq, crowded, k=10, corpus_id="doc_id")
    da, db = sets(dense_auto.collect()), sets(dense_brute.collect())
    recall = [len(da[q] & db[q]) / 10 for q in db]
    assert sum(recall) / len(recall) >= 0.9


def test_adc_crowd_sampled_count_estimates_exact(spark):
    """measured_adc_crowd(count_fraction=f): the deterministic md5-sampled
    count pass must (a) be EXACT at f=1.0 / None (the default path every
    frozen oracle relies on), (b) estimate the exact crowd within a
    recall-safe band at f=0.5 on a replica-crowded corpus (the 3x
    shortlist rule absorbs +-30% crowd error), and (c) reject nonsense
    fractions by name."""
    import random

    import pytest as _pytest

    from nextgenetl_spark.operators.similarity import (
        _collect_codebooks,
        _unit_vectors,
        measured_adc_crowd,
        pq_encode,
        train_pq_codebooks,
    )

    rng = random.Random(67)
    dim, m, ks = 12, 3, 4
    # 40 bases x 6 jittered replicas = 240 vectors, crowd ~ 6
    bases = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(40)]
    vecs = [
        (b * 6 + r, [c + rng.gauss(0, 0.03) for c in bases[b]])
        for b in range(40)
        for r in range(6)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    unit = _unit_vectors(emb, "vec_id", "embedding")
    CB = _collect_codebooks(train_pq_codebooks(emb, m, ks, 1, "vec_id", "embedding"), m, ks)
    codes = pq_encode(emb, CB, "vec_id", "embedding")

    exact = measured_adc_crowd(unit, codes, CB, "vec_id", n_sample=64)
    assert exact >= 3  # the replica crowds are visible
    assert measured_adc_crowd(unit, codes, CB, "vec_id", n_sample=64, count_fraction=1.0) == exact
    est = measured_adc_crowd(unit, codes, CB, "vec_id", n_sample=64, count_fraction=0.5)
    assert 0.4 * exact <= est <= 2.5 * exact, (exact, est)
    with _pytest.raises(ValueError, match="count_fraction"):
        measured_adc_crowd(unit, codes, CB, "vec_id", count_fraction=0.0)
    with _pytest.raises(ValueError, match="count_fraction"):
        measured_adc_crowd(unit, codes, CB, "vec_id", count_fraction=1.5)


def test_ivfpq_append_matches_frozen_encode(spark, tmp_path):
    """append_to_ivfpq_index must write for the new batch EXACTLY what the
    build would have written for it under the frozen artifacts: same cell
    assignment (persisted centroids), same codes (persisted codebooks),
    appended not overwritten (history rows intact, no duplicates), and the
    full-probe query over the maintained index equals brute force over
    history ∪ batch."""
    import random

    from nextgenetl_spark.operators.similarity import (
        _collect_codebooks,
        append_to_ivfpq_index,
        assign_cells,
        build_ivfpq_index,
        cosine_topk,
        ivfpq_query_index,
        pq_encode,
    )

    rng = random.Random(71)
    dim, n = 12, 90
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(5)]
    vecs = [(i, [c + rng.gauss(0, 0.3) for c in centers[i % 5]]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    hist = emb.filter(F.col("vec_id") >= 20)
    batch = emb.filter(F.col("vec_id") < 20)

    idx = str(tmp_path / "idx")
    build_ivfpq_index(hist, idx, k_centroids=6, refine_iters=1, m=3, ks=4, train_iters=1)
    n_hist_codes = spark.read.parquet(f"{idx}/codes").count()
    append_to_ivfpq_index(spark, idx, batch)

    # frozen-artifact equivalence: re-derive the batch's rows by hand
    cents = spark.read.parquet(f"{idx}/centroids")
    CB = _collect_codebooks(spark.read.parquet(f"{idx}/codebooks"))
    want_cells = {
        r["vec_id"]: r["cell_id"]
        for r in assign_cells(batch, cents).select("vec_id", "cell_id").collect()
    }
    want_codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(batch, CB).collect()
    }
    got = spark.read.parquet(f"{idx}/codes").filter(F.col("vec_id") < 20).collect()
    assert {r["vec_id"]: r["cell_id"] for r in got} == want_cells
    assert {r["vec_id"]: list(r["codes"]) for r in got} == want_codes

    # pure append: history intact, batch present exactly once, both surfaces
    codes_all = spark.read.parquet(f"{idx}/codes")
    vecs_all = spark.read.parquet(f"{idx}/vectors")
    assert codes_all.count() == n_hist_codes + batch.count() == n
    assert vecs_all.count() == n
    assert codes_all.select("vec_id").distinct().count() == n

    # full probe + unbounded shortlist over the maintained index == brute
    # force over history ∪ batch
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    got_q = sorted(
        map(tuple, ivfpq_query_index(spark, idx, q, nprobe=6, shortlist=10**9, k=3).collect())
    )
    brute = sorted(
        map(
            tuple,
            cosine_topk(
                q, emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), k=3
            ).collect(),
        )
    )
    assert got_q == brute


def test_ivfpq_append_batch_id_idempotent(spark, tmp_path):
    """Batch-keyed append idempotence (round-10 verdict ask #6): replaying
    a COMPLETED batch_id skips cleanly (the foreachBatch retry shape — no
    duplicates against ONE index), a claimed-but-unfinished batch fails BY
    NAME instead of silently double-appending, and the unkeyed call keeps
    its documented pure-append contract."""
    import os
    import random

    import pytest as _pytest

    from nextgenetl_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
    )

    rng = random.Random(31)
    dim = 8
    vecs = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    hist = emb.filter(F.col("vec_id") >= 20)
    batch = emb.filter(F.col("vec_id") < 20)

    idx = str(tmp_path / "idx")
    build_ivfpq_index(hist, idx, k_centroids=4, refine_iters=1, m=2, ks=4, train_iters=1)

    r1 = append_to_ivfpq_index(spark, idx, batch, batch_id=7)
    assert r1["appended"] and not r1["skipped_existing_batch"]
    n_codes = spark.read.parquet(f"{idx}/codes").count()
    n_vecs = spark.read.parquet(f"{idx}/vectors").count()
    assert n_codes == n_vecs == 60

    # replay of the committed batch: skipped, byte-counts unchanged
    r2 = append_to_ivfpq_index(spark, idx, batch, batch_id=7)
    assert r2["skipped_existing_batch"] and not r2["appended"]
    assert spark.read.parquet(f"{idx}/codes").count() == 60
    assert spark.read.parquet(f"{idx}/vectors").count() == 60
    assert (
        spark.read.parquet(f"{idx}/codes").select("vec_id").distinct().count() == 60
    )

    # a claimed-but-unfinished batch (prior attempt died mid-append) must
    # fail by name, not double-append
    os.makedirs(os.path.join(idx, "_appends", "batch_9"))
    with _pytest.raises(RuntimeError, match="claimed but not _DONE"):
        append_to_ivfpq_index(spark, idx, batch, batch_id=9)

    # unkeyed appends keep the documented pure-append behavior
    append_to_ivfpq_index(spark, idx, emb.filter(F.col("vec_id") < 5))
    assert spark.read.parquet(f"{idx}/codes").count() == 65


def test_ivfpq_append_normalizes_vector_element_type(spark, tmp_path):
    """Appending a double-element batch into a float-built index must not
    leave mixed float/double part files under vectors/ — the vectorized
    parquet reader fails at QUERY time on the type clash
    (SchemaColumnConvertNotSupportedException, found by the r11 drift
    harness). The append casts the batch to the index's persisted element
    type, and the maintained index stays queryable."""
    import random

    from nextgenetl_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_query_index,
    )

    rng = random.Random(13)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    emb_f = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    emb_d = spark.createDataFrame(
        [(100 + i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "idx")
    build_ivfpq_index(emb_f, idx, k_centroids=4, refine_iters=1, m=2, ks=4,
                      train_iters=1)
    append_to_ivfpq_index(spark, idx, emb_d)
    # the read that used to throw: scan every part file of vectors/
    assert spark.read.parquet(f"{idx}/vectors").count() == 60
    q = emb_f.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivfpq_query_index(spark, idx, q, nprobe=4, shortlist=10**9, k=3)
    assert got.count() == 9


def _ann_pool_site(spark, tmp_path, site: str):
    """A callable running one of the three pooled ANN paths on 40 random
    8-d vectors."""
    from nextgenetl_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_topk,
        pq_topk,
    )

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)], "vec_id long, embedding array<double>"
    )
    corpus = emb.withColumnRenamed("vec_id", "neighbor_id")
    queries = emb.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    if site == "pq_topk":
        return lambda: pq_topk(queries, corpus, m=2, ks=4, k=3, shortlist=8).collect()
    if site == "ivfpq_topk":
        return lambda: ivfpq_topk(queries, corpus, k_centroids=4, m=2, ks=4, k=3, shortlist=8,
                                  refine_iters=1).collect()
    idx = str(tmp_path / "idx")
    build_ivfpq_index(emb.filter("vec_id >= 10"), idx, k_centroids=4, refine_iters=1, m=2, ks=4, train_iters=1)
    return lambda: append_to_ivfpq_index(spark, idx, emb.filter("vec_id < 10"), batch_id=1)


@pytest.mark.parametrize("site", ["pq_topk", "ivfpq_topk", "append_to_ivfpq_index"])
def test_pooled_ann_jobs_stay_in_the_callers_job_group(spark, tmp_path, site):
    """The overlapped walks of pq_topk and ivfpq_topk and the IVF-PQ
    append's two concurrent writes run in the job group the caller set:
    no job they run is left without a group, so the caller's
    cancelJobGroup and per-group job counts reach every one of them."""
    tracker = spark.sparkContext.statusTracker()

    def group_jobs(group):
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    fn = _ann_pool_site(spark, tmp_path, site)
    group = f"ann_pool_{site}"
    ungrouped, grouped = group_jobs(None), group_jobs(group)
    spark.sparkContext.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            spark.sparkContext.setLocalProperty(key, None)
    assert group_jobs(group) - grouped
    assert not group_jobs(None) - ungrouped


def test_swar_vote_fold_matches_naive_and_handles_empty_docs(spark):
    """The SWAR-packed vote fold must produce bit-identical fingerprints to
    a naive per-bit ±1 vote, including the explode_outer null row of an
    NULL-text document (md5(null) propagates null hash halves → coalesced word
    0 → fp 0, matching the old per-bit when-form)."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.dedup import (
        md5_simhash_fingerprints,
        simhash_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, None),
            (4, "completely different text about spark aggregation"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in md5_simhash_fingerprints(docs).collect()}
    assert got[3] == 0  # NULL text: null token array → null md5 halves → fp 0

    # naive reference: per-bit ±1 votes over the same md5 bit layout
    from nextgenetl_spark.operators.textstats import tokens

    base = docs.select("doc_id", F.explode_outer(F.array_distinct(tokens("text"))).alias("t"))
    base = base.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("n1"),
        F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long").alias("n2"),
    )
    masks = [(1 << b) if b < 63 else -(2**63) for b in range(64)]
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("n1" if b < 32 else "n2"), (31 - b) if b < 32 else (63 - b))
                .bitwiseAND(F.lit(1))
                != 0,
                1,
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    votes = base.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for b, m in enumerate(masks):
        fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(m).cast("long")).otherwise(F.lit(0).cast("long"))
    naive = {r["doc_id"]: r["fp"] for r in votes.select("doc_id", fp.alias("fp")).collect()}
    # naive form yields null fp for the empty doc (null votes); SWAR pins it to 0
    assert naive[3] is None or naive[3] == 0
    for d in (1, 2, 4):
        assert got[d] == naive[d], f"doc {d}: SWAR {got[d]:#x} != naive {naive[d]:#x}"

    # xxhash production path: empty doc folds the single null-token hash
    xx = {r["doc_id"]: r["fp"] for r in simhash_fingerprints(docs).collect()}
    assert set(xx) == {1, 2, 3, 4} and all(v is not None for v in xx.values())
