"""Empty-input and degenerate-input robustness: every core operator must
return an empty (or correctly degenerate) result, not crash, when a filter
upstream leaves zero rows — the situation every scheduled pipeline
eventually hits on a quiet day."""

from __future__ import annotations

from pyspark.sql import functions as F

from nextgenetl_spark.operators import dedup as D


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, source string")


def test_dedup_operators_on_empty_input(spark):
    e = _empty_docs(spark)
    assert D.exact_dedup_groups(e).count() == 0
    assert D.minhash_near_dup_pairs(e).count() == 0
    assert D.md5_minhash_near_dup_pairs(e).count() == 0
    assert D.simhash_fingerprints(e).count() == 0
    assert D.md5_simhash_fingerprints(e).count() == 0
    assert D.ngram_jaccard_pairs(e, "source").count() == 0
    assert D.near_dup_pairs_auto(e, "source").count() == 0


def test_connected_components_on_empty_edges(spark):
    edges = spark.createDataFrame([], "a_id long, b_id long")
    assert D.connected_components(edges).count() == 0
    assert D.connected_components_star(edges).count() == 0


def test_similarity_on_empty_corpus_and_queries(spark, tmp_path):
    import random

    from nextgenetl_spark.operators.similarity import (
        blocked_near_dup_pairs_vectorized,
        build_ivf_index,
        build_ivfpq_index,
        cosine_topk,
        cosine_topk_gemm,
        ivf_query_index,
        ivf_topk,
        ivfpq_query_index,
        ivfpq_topk,
        pq_topk,
    )

    e = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    c = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    assert cosine_topk(q, c).count() == 0
    assert cosine_topk_gemm(q, c).count() == 0
    assert blocked_near_dup_pairs_vectorized(e).count() == 0

    # an empty query batch against a real corpus: every ANN search returns
    # no rows, typed and named as a non-empty result
    rng = random.Random(9)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(4)]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.withColumnRenamed("vec_id", "neighbor_id")
    some = emb.filter("vec_id < 2").withColumnRenamed("vec_id", "query_id")
    none = some.filter("query_id < 0")
    ivf_idx, pq_idx = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    build_ivf_index(emb, ivf_idx, k_centroids=2, refine_iters=0)
    build_ivfpq_index(emb, pq_idx, k_centroids=2, refine_iters=0, m=2, ks=4, train_iters=1)
    searches = {
        "ivf_topk": lambda qs: ivf_topk(qs, corpus, k_centroids=2, nprobe=1, k=3),
        "ivf_query_index": lambda qs: ivf_query_index(spark, ivf_idx, qs, nprobe=1, k=3),
        "pq_topk": lambda qs: pq_topk(qs, corpus, m=2, ks=4, k=3, shortlist=8, train_iters=1),
        "ivfpq_topk": lambda qs: ivfpq_topk(
            qs, corpus, k_centroids=2, nprobe=1, m=2, ks=4, k=3, shortlist=8
        ),
        "ivfpq_query_index": lambda qs: ivfpq_query_index(
            spark, pq_idx, qs, nprobe=1, shortlist=8, k=3
        ),
    }
    for name, search in searches.items():
        full, empty = search(some), search(none)
        assert full.count() > 0, name
        assert empty.count() == 0, name
        assert empty.dtypes == full.dtypes, name


def test_single_doc_and_whitespace_only_text(spark):
    rows = [(1, "   "), (2, "one"), (3, "one two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # fingerprints exist for every doc, including whitespace-only
    assert D.md5_simhash_fingerprints(df).count() == 3
    sigs = D.minhash_signatures(df)
    assert sigs.count() == 3
    # no self-pairs, no crash on single/degenerate shingles
    assert D.minhash_near_dup_pairs(df, threshold=0.9).filter("a_id = b_id").count() == 0


def test_sampling_on_empty_input(spark):
    from nextgenetl_spark.operators.sampling import deterministic_split

    e = _empty_docs(spark)
    out = deterministic_split(e, id_col="doc_id", thresholds=[("cccc", "train"), ("e666", "val")])
    assert out.count() == 0


def test_fuzzy_pairs_matches_bruteforce_on_random_names(spark):
    """Property: within-block pairs equal the brute-force levenshtein join
    for a randomized (seeded) name set."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.linkage import fuzzy_pairs

    rng = random.Random(7)
    alpha = "abcde"
    names = list({
        "".join(rng.choice(alpha) for _ in range(rng.randint(3, 7)))
        for _ in range(60)
    })
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    block = F.substring("name", 1, 1)
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in fuzzy_pairs(df, "name", block, max_dist=2).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {}
    for a, b in itertools.combinations(sorted(names), 2):
        if a[0] == b[0]:
            d = lev(a, b)
            if 1 <= d <= 2:
                want[(a, b)] = d
    assert got == want


def test_perceptual_hash_single_append_flips_at_most_one_bit(spark):
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.multimodal import attach_blob, perceptual_hash

    base = "the quick brown fox jumps over the lazy dog"
    rows = [(0, base)] + [(i + 1, base + c) for i, c in enumerate("azq9 ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r["doc_id"]: r["fp"] for r in perceptual_hash(attach_blob(df)).collect()}
    for i in range(1, 6):
        flipped = bin((fps[0] ^ fps[i]) & ((1 << 64) - 1)).count("1")
        assert flipped <= 1  # chars outside [59,122] (space, digits<'; ') flip zero bits


def test_round4_sketches_on_empty_and_degenerate_inputs(spark):
    """Empty corpus / absent terms / empty history must degrade cleanly,
    never crash or mis-report."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.operators.agg import (
        bloom_build,
        bloom_might_contain,
        qhist_build,
        qhist_quantiles,
    )
    from nextgenetl_spark.operators.textstats import bm25_scores

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_vals = spark.createDataFrame([], "value double")

    # empty corpus → empty sketch tables and empty results, no errors
    assert qhist_build(empty_vals, "value", 0.0, 1.0, 8).count() == 0
    assert qhist_quantiles(qhist_build(empty_vals, "value", 0.0, 1.0, 8), [0.5], 0.0, 1.0, 8).count() == 0
    assert bm25_scores(empty_docs, ["x"]).count() == 0

    # empty HISTORY bloom: nothing can be contained — all probes False
    items = spark.createDataFrame([("a",), ("b",)], "f string")
    empty_bloom = bloom_build(spark.createDataFrame([], "f string"), "f", m_bits=64, k_hashes=4)
    got = {r["f"]: r["might_contain"]
           for r in bloom_might_contain(empty_bloom, items, "f", m_bits=64, k_hashes=4).collect()}
    assert got == {"a": False, "b": False}

    # query term absent from the corpus: contributes nothing, others score
    docs = spark.createDataFrame([(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    scores = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["alpha", "zzz_absent"]).collect()}
    assert set(scores) == {1} and scores[1] > 0

    # all-null / all-NaN value column → empty sketch, not a crash
    nulls = spark.createDataFrame([(None,), (float("nan"),)], "value double")
    assert qhist_build(nulls, "value", 0.0, 1.0, 8).count() == 0


def test_bm25_multi_scores_hand_computed_and_edge_cases(spark):
    """bm25_multi_scores (round 10, the hybrid lexical leg) against a
    hand-computed BM25 on a 3-doc corpus, plus the degradation contract:
    empty corpus, absent query terms, empty query table, and the
    part_dp=None raw-double path agreeing with the quantized one to 1e-6."""
    import math

    from nextgenetl_spark.operators.textstats import bm25_multi_scores

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "delta delta delta delta")],
        "doc_id long, text string",
    )
    qt = spark.createDataFrame(
        [(10, "alpha"), (10, "gamma"), (20, "delta")],
        "query_id long, term string",
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_multi_scores(docs, qt, part_dp=6).collect()
    }
    # hand computation: N=3, dl = {1:3, 2:2, 3:4}, avgdl=3;
    # df(alpha)=1, df(gamma)=1, df(delta)=1 → idf = ln((3-1+.5)/(1+.5)+1)
    k1, b = 1.2, 0.75
    idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1)

    def part(tf, dl):
        x = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 3.0))
        return round(x, 6)

    expect = {
        (10, 1): part(2, 3),          # alpha tf=2 in doc 1
        (10, 2): part(1, 2),          # gamma tf=1 in doc 2
        (20, 3): part(4, 4),          # delta tf=4 in doc 3
    }
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])

    # raw-double path agrees with the quantized one to the quantum
    raw = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_multi_scores(docs, qt, part_dp=None).collect()
    }
    assert set(raw) == set(got)
    assert all(abs(raw[k] - got[k]) < 1e-6 for k in got)

    # a query whose terms are absent from the corpus yields no rows for it
    qt_absent = spark.createDataFrame(
        [(30, "zzz_nowhere"), (10, "alpha")], "query_id long, term string"
    )
    got2 = {r["query_id"] for r in bm25_multi_scores(docs, qt_absent).collect()}
    assert got2 == {10}

    # duplicate (query_id, term) rows must NOT double-count the term's
    # contribution (round-10 ADVICE #4: the operator dedupes internally)
    qt_dup = spark.createDataFrame(
        [(10, "alpha"), (10, "alpha"), (10, "gamma"), (20, "delta")],
        "query_id long, term string",
    )
    got_dup = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_multi_scores(docs, qt_dup, part_dp=6).collect()
    }
    assert got_dup == got

    # empty corpus / empty query table → empty result, no crash
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_multi_scores(empty_docs, qt).count() == 0
    empty_qt = spark.createDataFrame([], "query_id long, term string")
    assert bm25_multi_scores(docs, empty_qt).count() == 0

    # a term shared by two queries scores both (the posting join fan-out)
    qt_shared = spark.createDataFrame(
        [(1, "beta"), (2, "beta")], "query_id long, term string"
    )
    got3 = bm25_multi_scores(docs, qt_shared).collect()
    assert {(r["query_id"], r["doc_id"]) for r in got3} == {
        (1, 1), (1, 2), (2, 1), (2, 2)
    }
    # identical query → identical scores
    s1 = {r["doc_id"]: r["score"] for r in got3 if r["query_id"] == 1}
    s2 = {r["doc_id"]: r["score"] for r in got3 if r["query_id"] == 2}
    assert s1 == s2
