"""Embedding similarity-search workloads on the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.operators.similarity import (
    blocked_near_dup_pairs_vectorized,
    cosine_topk_gemm,
    lsh_topk,
)
from nextgenetl_spark.workloads import workload


@workload(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — exact ANN baseline.
    Queries close over the scan as a numpy matrix; the corpus never
    shuffles — each Arrow batch scores all queries in one normalized GEMM
    and only batch-local top-(k+1) candidates reach the final ranking
    window (operators/similarity.py cosine_topk_gemm; the expression form
    cosine_topk is kept as the pure-Column reference)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    out = cosine_topk_gemm(q, c, k=5)
    return out.select("query_id", "neighbor_id", "sim", "rank")


def _lsh_values_oracle(which: str) -> str:
    """Literal-VALUES oracle for the hyperplane-LSH workloads (round 7,
    compression_ratio's discipline applied to the last SQL-inexpressible
    ANN entries): every arithmetic step of the operator is plain IEEE
    double in a fixed fold order, so tools/gen_lsh_oracle.py — an
    INDEPENDENT pure-Python reimplementation (no Spark, no numpy) —
    reproduces the exact rows over the fixed sf0.01 corpus, frozen here
    for the driver's cross-engine hash compare. The corpus md5 is guarded
    by a named pytest so a regenerated corpus fails loudly."""
    from nextgenetl_spark.workloads import _lsh_expected as L

    rows = L.SINGLE if which == "single" else L.MULTI
    vals = ",\n           ".join(f"({q}, {n}, {s!r}, {r})" for q, n, s, r in rows)
    return f"""
    SELECT CAST(query_id AS BIGINT)    AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(sim AS DOUBLE)         AS sim,
           CAST(rank AS INT)           AS rank
    FROM (VALUES {vals}) AS t(query_id, neighbor_id, sim, rank)
    """


@workload("ann_lsh_topk", oracle=_lsh_values_oracle("single"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed top-k (the 100-TB path: score only within
    buckets). Deterministic planes from a fixed seed. Cross-engine check:
    an independently-computed literal-VALUES oracle (_lsh_values_oracle);
    measured recall curves live in ANN_RECALL*.json / BASELINE §4.2."""
    import random

    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return lsh_topk(q, c, planes, k=5).select("query_id", "neighbor_id", "sim", "rank")


@workload(
    "embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by cluster label so the
    pair space is per-block, not global all-pairs (the 100-TB shape: block =
    LSH bucket or shard). Per-block scoring is one numpy GEMM via
    applyInPandas (vectorized Pandas-UDF path)."""
    return blocked_near_dup_pairs_vectorized(
        load(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )


@workload(
    "embedding_near_dup_auto",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3
    """,
)
def embedding_near_dup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-routed embedding near-dup (operators/similarity.py
    blocked_near_dup_pairs_auto): bounded blocks run the exact per-block
    GEMM, oversized blocks sub-bucket by hyperplane signature — decided by a
    block-count aggregate inside the plan. Every label block is bounded at
    this sf, so the result equals the exact baseline and shares its oracle;
    pytest forces a tiny bound to exercise the sub-bucket branch."""
    from nextgenetl_spark.operators.similarity import blocked_near_dup_pairs_auto

    return blocked_near_dup_pairs_auto(
        load(spark, sf_dir, "embeddings"), dim=64, block_col="label", threshold=0.3
    )


def _ivf_values_oracle() -> str:
    """Literal-VALUES oracle for ann_ivf_topk (round 8, closing the last
    closable ∅ row): round 8 made the Lloyd refinement order-deterministic
    (decimal(27,18)-exact sums in operators/similarity.py
    refine_centroids), so tools/gen_ivf_oracle.py — an INDEPENDENT
    pure-Python IVF/Lloyd walk (pure-Python XXH64 seed pick, fold-cosine
    assignment with every decision margin asserted > 1e-9, Decimal-exact
    means, HALF_UP rounding) — reproduces the exact rows over the fixed
    sf0.01 corpus, frozen here for the driver's cross-engine hash compare.
    Corpus md5 guarded by a named pytest; the generator walk is
    differentially fuzzed against Spark on random corpora
    (tests/test_oracle_generators_fuzz.py)."""
    from nextgenetl_spark.workloads import _ivf_expected as I

    vals = ",\n           ".join(f"({q}, {n}, {s!r}, {r})" for q, n, s, r in I.IVF_TOPK)
    return f"""
    SELECT CAST(query_id AS BIGINT)    AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(sim AS DOUBLE)         AS sim,
           CAST(rank AS INT)           AS rank
    FROM (VALUES {vals}) AS t(query_id, neighbor_id, sim, rank)
    """


@workload("ann_ivf_topk", oracle=_ivf_values_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN top-5 for 10 query vectors (nprobe=4 of 16 cells, 2 Lloyd
    refinement iterations on the seed centroids): the inverted-file scale
    path next to the hyperplane-LSH one. Cross-engine check: an
    independently-computed literal-VALUES oracle (_ivf_values_oracle) —
    admissible since round 8's order-deterministic refinement; nprobe=ALL
    ≡ brute force stays pinned by ann_ivf_full_probe's FULL oracle."""
    from nextgenetl_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return ivf_topk(q, c, k_centroids=16, nprobe=4, k=5, refine_iters=2).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@workload(
    "ann_ivf_full_probe",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def ann_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with nprobe == k_centroids: probing every cell degenerates
    to exact brute force, so the ENTIRE IVF machinery — deterministic
    centroid pick, Lloyd refinement, cell assignment, query-side probe
    ranking, per-cell scoring, final re-rank — is value-hash-verified
    against the brute-force oracle. The nprobe=4 variant (`ann_ivf_topk`)
    is the production recall/cost point; this one is its correctness pin."""
    from nextgenetl_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return ivf_topk(q, c, k_centroids=16, nprobe=16, k=5, refine_iters=1).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


def _pq_values_oracle() -> str:
    """Literal-VALUES oracle for ann_pq_topk: the entire PQ walk —
    fold-normalization, XXH64 seed pick, per-subspace deterministic-decimal
    Lloyd, L2-argmin encoding, per-query ADC lookup-table fold, shortlist,
    exact-cosine re-rank — is order-deterministic, so
    tools/gen_pq_oracle.py (an INDEPENDENT pure-Python replay with every
    argmin/shortlist margin asserted > 1e-9) reproduces the exact rows over
    the fixed sf0.01 corpus, frozen here for the driver's cross-engine hash
    compare. Corpus md5 guarded by a named pytest; differentially fuzzed on
    random corpora (tests/test_oracle_generators_fuzz.py)."""
    from nextgenetl_spark.workloads import _pq_expected as P

    vals = ",\n           ".join(f"({q}, {n}, {s!r}, {r})" for q, n, s, r in P.PQ_TOPK)
    return f"""
    SELECT CAST(query_id AS BIGINT)    AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(sim AS DOUBLE)         AS sim,
           CAST(rank AS INT)           AS rank
    FROM (VALUES {vals}) AS t(query_id, neighbor_id, sim, rank)
    """


@workload("ann_pq_topk", oracle=_pq_values_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-5 for 10 query vectors (m=8 subspaces,
    ks=16 codewords, 2 Lloyd iterations, 32-candidate ADC shortlist, exact
    re-rank): the COMPRESSED scale path next to IVF's pruned one — the
    corpus scans as m·log2(ks) bits per vector (64-dim float32 256 B →
    4 B, 64×), and raw vectors are only read for the shortlist
    (operators/similarity.py pq_topk; Jégou et al., TPAMI 2011).
    Cross-engine check: an independently-computed literal-VALUES oracle
    (_pq_values_oracle), admissible because normalization, training,
    encoding, and ADC are all fold/decimal order-deterministic."""
    from nextgenetl_spark.operators.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return pq_topk(q, c, m=8, ks=16, k=5, shortlist=32, train_iters=2).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@workload(
    "ann_pq_full_rerank",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def ann_pq_full_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_topk with a shortlist larger than any corpus: every candidate
    survives ADC and reaches the exact-cosine re-rank, so the output
    degenerates to exact brute-force top-k AT ANY SCALE FACTOR — which
    value-hash-verifies the ENTIRE PQ machinery (fold normalization, seed
    pick, Lloyd training, encoding, LUT fold scoring, shortlist window,
    re-rank join) against a plain brute-force SQL oracle. The 32-candidate
    variant (`ann_pq_topk`) is the production compression/recall point;
    this one is its correctness pin — the ann_ivf_full_probe discipline."""
    from nextgenetl_spark.operators.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return pq_topk(
        q, c, m=8, ks=16, k=5, shortlist=1_000_000_000, train_iters=1
    ).select("query_id", "neighbor_id", "sim", "rank")


def _ivfpq_values_oracle() -> str:
    """Literal-VALUES oracle for ann_ivfpq_topk: the composition of the two
    certified deterministic walks (gen_ivf_oracle.py's centroid/probe half,
    gen_pq_oracle.py's codebook/ADC half) replayed end-to-end by
    tools/gen_ivfpq_oracle.py with every argmax/argmin/probe/shortlist
    margin asserted > 1e-9, frozen over the fixed sf0.01 corpus for the
    driver's cross-engine hash compare. Corpus md5 guarded by a named
    pytest; differentially fuzzed on random corpora."""
    from nextgenetl_spark.workloads import _ivfpq_expected as P

    vals = ",\n           ".join(f"({q}, {n}, {s!r}, {r})" for q, n, s, r in P.IVFPQ_TOPK)
    return f"""
    SELECT CAST(query_id AS BIGINT)    AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(sim AS DOUBLE)         AS sim,
           CAST(rank AS INT)           AS rank
    FROM (VALUES {vals}) AS t(query_id, neighbor_id, sim, rank)
    """


@workload("ann_ivfpq_topk", oracle=_ivfpq_values_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 for 10 query vectors (nprobe=4 of 16 Lloyd-refined
    cells × m=8/ks=16 PQ codes × 32-candidate ADC shortlist × exact
    re-rank): the production vector-index architecture — cells prune WHICH
    vectors are scored, codes compress HOW, raw vectors are touched only
    for the shortlist (operators/similarity.py ivfpq_topk). Cross-engine
    check: an independently-computed literal-VALUES oracle composing the
    two certified pure-Python walks (_ivfpq_values_oracle); the brute-
    force-degenerate pin is ann_ivfpq_full."""
    from nextgenetl_spark.operators.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return ivfpq_topk(
        q, c, k_centroids=16, nprobe=4, m=8, ks=16, k=5, shortlist=32,
        refine_iters=1, train_iters=1,
    ).select("query_id", "neighbor_id", "sim", "rank")


@workload(
    "ann_ivfpq_full",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def ann_ivfpq_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivfpq_topk with nprobe == k_centroids AND an unbounded shortlist:
    probing every cell and re-ranking every ADC candidate degenerates to
    exact brute force AT ANY SCALE FACTOR, value-hash-verifying the whole
    composed pipeline — cell training/assignment, probe ranking, codebook
    training, encoding, the probed-cell code join, LUT fold scoring,
    shortlist window, and re-rank join — against a plain brute-force SQL
    oracle. The nprobe=4/shortlist=32 variant (ann_ivfpq_topk) is the
    production point; this is its correctness pin."""
    from nextgenetl_spark.operators.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return ivfpq_topk(
        q, c, k_centroids=16, nprobe=16, m=8, ks=16, k=5,
        shortlist=1_000_000_000, refine_iters=0, train_iters=1,
    ).select("query_id", "neighbor_id", "sim", "rank")


@workload(
    "embedding_norm_qc",
    oracle="""
    WITH v AS (
        SELECT label, len(embedding) AS dim,
               ROUND(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
        FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(norm), 4) AS mean_norm,
           ROUND(MIN(norm), 4) AS min_norm,
           CAST(SUM(CASE WHEN norm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           MIN(dim) AS min_dim, MAX(dim) AS max_dim
    FROM v GROUP BY label
    """,
)
def embedding_norm_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QC before any similarity work: per-label vector
    count, L2-norm distribution (catches unnormalized batches), zero-vector
    count (failed encodes), and dimension min/max (schema drift). Norms are
    one numpy pass per Arrow batch via mapInPandas — the same
    stay-vectorized rule as the GEMM scoring paths; per-element SQL
    higher-order lambdas are interpreted per value and left to the oracle
    side only. Then a tiny groupBy(label) aggregate; the vectors themselves
    never shuffle."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")

    def norms(batches):
        for pdf in batches:
            if pdf.empty:  # np.stack([]) raises; empty Arrow batches are legal
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            yield pd.DataFrame(
                {
                    "label": pdf["label"],
                    "dim": [V.shape[1]] * len(pdf),
                    "norm": np.round(np.sqrt((V * V).sum(axis=1)), 4),
                }
            )

    v = e.select("label", "embedding").mapInPandas(norms, "label long, dim int, norm double")
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("norm"), 4).alias("mean_norm"),
        F.round(F.min("norm"), 4).alias("min_norm"),
        F.sum(F.when(F.col("norm") < 1e-6, 1).otherwise(0)).alias("n_zero"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
    )


@workload(
    "semantic_dedup_keep",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.7),
    sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(node, label) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.dst, r.label FROM sym s JOIN reach r ON s.src = r.node),
    lab AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
    SELECT e.vec_id, COALESCE(lab.label, e.vec_id) AS group_id,
           (lab.node IS NULL OR lab.label = e.vec_id) AS keep
    FROM embeddings e LEFT JOIN lab ON e.vec_id = lab.node
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup shape): cosine near-dup pairs
    blocked by cluster label (numpy GEMM per block via applyInPandas) →
    connected components → a keep/drop decision for EVERY vector — keep
    the component minimum, keep all singletons. This is the decision list
    a curation pipeline joins back onto the corpus. At 100 TB the blocks
    come from k-means/IVF cells (operators/similarity.py pick_centroids +
    Lloyd refinement) instead of given labels; everything downstream is
    identical. Oracle: recursive-CTE closure over the same pairs,
    left-joined to all vectors."""
    from nextgenetl_spark.operators.dedup import connected_components

    e = load(spark, sf_dir, "embeddings")
    pairs = blocked_near_dup_pairs_vectorized(e, block_col="label", threshold=0.7)
    comp = connected_components(pairs.select("a_id", "b_id"))
    return (
        e.select("vec_id")
        .join(comp, e.vec_id == comp.node, "left")
        .select(
            "vec_id",
            F.coalesce("label", "vec_id").alias("group_id"),
            (F.col("node").isNull() | (F.col("label") == F.col("vec_id"))).alias("keep"),
        )
    )


@workload(
    "stream_ann_lookup",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def stream_ann_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN serving against the persisted IVF index: query vectors
    arrive as a file-source stream, and each micro-batch is scored via
    ``foreachBatch`` → ``ivf_query_index`` (per-query ranking is not
    expressible inside an append stream, so per-batch batch-plan scoring is
    the standard serving pattern). The index is built ONCE per source dir
    (cells hive-partitioned by cell_id, _SUCCESS-checked cache) — the
    stream never rescans the corpus. Probing ALL cells makes the streamed
    result exactly brute force, so the whole serving path shares the
    brute-force oracle.

    The index cache is keyed by CONTENT fingerprint (size+mtime of every
    source data file) with a _COMPLETE marker, not by path: regenerating
    embeddings.parquet in place gets a fresh index, and a crashed partial
    build is rebuilt, never probed."""
    import os

    from nextgenetl_spark.operators.similarity import build_ivf_index, ivf_query_index
    from nextgenetl_spark.staging import staged
    from nextgenetl_spark.streaming.source import embeddings_stream, run_bounded

    idx = staged(
        "ngetl_ivf",
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda idx: build_ivf_index(load(spark, sf_dir, "embeddings"), idx, k_centroids=16, refine_iters=1),
    )

    # keyed by batch id: foreachBatch is at-least-once, so a re-delivered
    # batch replaces its rows instead of adding them a second time
    results: dict = {}

    def score_batch(batch_df, batch_id):
        q = batch_df.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        results[batch_id] = (
            ivf_query_index(spark, idx, q, nprobe=16, k=5)
            .select("query_id", "neighbor_id", "sim", "rank")
            .collect()
        )

    run_bounded(
        embeddings_stream(spark, sf_dir).writeStream.foreachBatch(score_batch),
        "stream_ann_lookup",
    )
    return spark.createDataFrame(
        [row for b in sorted(results) for row in results[b]],
        "query_id long, neighbor_id long, sim double, rank int",
    )


@workload("ann_lsh_multiprobe", oracle=_lsh_values_oracle("multi"))
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane LSH (operators/similarity.py lsh_topk with
    nprobe_flips=2): each query also probes the buckets across its two
    lowest-margin hyperplanes — the recall of several hash tables for the
    cost of a small query-side fan-out, with the corpus still bucketed
    once. Cross-engine check: independently-computed literal-VALUES oracle
    (_lsh_values_oracle — probes, margins, fold arithmetic and HALF_UP
    rounding re-walked in pure Python); pytest additionally proves
    recall >= single-probe at any sf."""
    import random

    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return lsh_topk(q, c, planes, k=5, nprobe_flips=2).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@workload(
    "kmeans_assign",
    oracle="""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.centroid_id,
                      list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) AS sim
               FROM embeddings e, c)
    SELECT vec_id, centroid_id, ROUND(sim, 4) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn FROM s)
    WHERE rn = 1
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step, value-hash oracle-checked: nearest centroid
    by cosine for every vector against a deterministic centroid set (the 8
    lowest vec_ids — fixed, so DuckDB can replay the exact argmax). One
    normalized GEMM per Arrow batch (operators/similarity.py
    nearest_centroid); the centroid matrix broadcasts in the closure and
    the corpus never shuffles — the same plan at 100 TB, with k bounded by
    what fits a closure (~100k×768 floats)."""
    from nextgenetl_spark.operators.similarity import nearest_centroid

    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    return nearest_centroid(emb, cent)


@workload(
    "cluster_cohesion",
    oracle="""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.centroid_id,
                      ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 4) AS sim
               FROM embeddings e, c),
         a AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn FROM s)
               WHERE rn = 1)
    SELECT centroid_id,
           COUNT(*) AS n_members,
           ROUND(MIN(sim), 4) AS min_sim,
           ROUND(CAST(SUM(CAST(ROUND(sim * 10000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 10000, 4) AS avg_sim
    FROM a GROUP BY centroid_id
    """,
)
def cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality profile over the k-means assignment: member count,
    worst (minimum) member cosine, and mean member cosine per centroid —
    the signal that drives IVF rebuilds and semantic-dedup thresholds. The
    mean is computed over e4 fixed-point sims (sum of exact integers, then
    one division) so the value hash is reproducible across engines — float
    accumulation order never enters the comparable value. One GEMM pass +
    one k-row hash aggregate; map-side partial, k rows to the driver."""
    from nextgenetl_spark.operators.similarity import nearest_centroid

    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    a = nearest_centroid(emb, cent)
    return a.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.min("sim"), 4).alias("min_sim"),
        F.round(
            F.sum(F.round(F.col("sim") * 10000).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 10000,
            4,
        ).alias("avg_sim"),
    )


@workload(
    "knn_label_predict",
    oracle="""
    WITH lab AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 400),
         unl AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 400),
         s AS (SELECT u.vec_id, l.label,
                      -- ROUND before ranking: cosine_topk_gemm rounds sims to 4
                      -- decimals before its (sim desc, neighbor_id) order, so the
                      -- oracle must rank (and later take best_sim) under the SAME
                      -- 4-decimal total order, or rank-5/best_sim boundary ties
                      -- past the 4th decimal diverge (as ann_cosine_topk does)
                      ROUND(list_cosine_similarity(u.embedding::DOUBLE[], l.embedding::DOUBLE[]), 4) AS sim,
                      l.vec_id AS nb
               FROM unl u, lab l),
         topk AS (
             SELECT vec_id, label, sim
             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb) AS rn FROM s)
             WHERE rn <= 5
         ),
         votes AS (
             SELECT vec_id, label, COUNT(*) AS n_votes, MAX(sim) AS best_sim
             FROM topk GROUP BY vec_id, label
         )
    SELECT vec_id, label AS pred_label, CAST(n_votes AS INT) AS n_votes
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY n_votes DESC, best_sim DESC, label) AS rn
          FROM votes)
    WHERE rn = 1
    """,
)
def knn_label_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding table: vectors with vec_id >=
    400 are 'unlabeled' and take the majority label of their 5 nearest
    labeled neighbors by cosine (ties → higher best-sim, then lower label —
    fully deterministic, so DuckDB replays the whole vote). The scoring
    pass is the same batch-GEMM shape as ann_cosine_topk: the unlabeled
    queries broadcast, the labeled corpus streams through Arrow batches and
    never shuffles; only (query, neighbor) candidate rows reach the vote
    aggregate. The 100-TB variant scores within IVF cells (ivf_topk) and
    feeds the identical vote."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    lab = emb.filter(F.col("vec_id") < 400)
    unl = emb.filter(F.col("vec_id") >= 400).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = cosine_topk_gemm(
        unl, lab.select(F.col("vec_id").alias("neighbor_id"), "embedding"), k=5
    )
    nb_labels = lab.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nb_label")
    )
    votes = (
        topk.join(F.broadcast(nb_labels), "neighbor_id")
        .groupBy(F.col("query_id").alias("vec_id"), F.col("nb_label").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n_votes"), F.max("sim").alias("best_sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("n_votes"), F.desc("best_sim"), "pred_label"
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "pred_label", F.col("n_votes").cast("int").alias("n_votes"))
    )


@workload(
    "label_centroids",
    oracle="""
    WITH u AS (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS x
        FROM embeddings
    )
    SELECT label, CAST(pos AS INT) AS pos,
           ROUND(AVG(x), 4) AS mean_val,
           COUNT(*) AS n
    FROM u GROUP BY label, pos
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean vector ('class centroids') as a flat (label, pos,
    mean) table — the vector-reduce shape behind k-means refinement,
    prototype classifiers, and cluster drift monitors. posexplode + one
    hash aggregate: map-side partial means, shuffle = labels × dims rows
    regardless of corpus size. (refine_centroids in operators/similarity.py
    uses exactly this reduce; here it is surfaced as an oracle-checked
    query.)"""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "x"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg("x"), 4).alias("mean_val"), F.count(F.lit(1)).alias("n"))
    )


@workload(
    "embedding_contrast_qc",
    oracle="""
    WITH s AS (
        SELECT vec_id AS a_id, embedding AS av,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS arn,
               COUNT(*) OVER () AS m
        FROM embeddings WHERE vec_id < 200
    ),
    sims AS (
        SELECT a.a_id, b.a_id AS b_id, a.arn, b.arn AS brn, a.m,
               ROUND(list_cosine_similarity(a.av::DOUBLE[], b.av::DOUBLE[]), 4) AS sim
        FROM s a JOIN s b ON a.a_id <> b.a_id
    ),
    nn AS (
        SELECT a_id, sim FROM (
            SELECT a_id, sim, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS r
            FROM sims) WHERE r = 1
    ),
    rnd AS (SELECT a_id, sim FROM sims WHERE brn = (arn + m // 2) % m),
    agg AS (
        SELECT
            (SELECT COUNT(*) FROM nn) AS n_sample,
            ROUND(CAST((SELECT SUM(CAST(ROUND(sim * 10000) AS BIGINT)) FROM nn) AS DOUBLE)
                  / (SELECT COUNT(*) FROM nn) / 10000, 4) AS mean_nn_sim,
            ROUND(CAST((SELECT SUM(CAST(ROUND(sim * 10000) AS BIGINT)) FROM rnd) AS DOUBLE)
                  / (SELECT COUNT(*) FROM rnd) / 10000, 4) AS mean_rand_sim
    )
    SELECT n_sample, mean_nn_sim, mean_rand_sim,
           CASE WHEN mean_nn_sim < 1.0
                THEN ROUND((1.0 - mean_rand_sim) / (1.0 - mean_nn_sim), 4) END AS relative_contrast,
           (mean_nn_sim < 1.0
            AND ROUND((1.0 - mean_rand_sim) / (1.0 - mean_nn_sim), 4) < 2.0) AS near_isotropic
    FROM agg
    """,
)
def embedding_contrast_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusterability QC before index tuning (operators/similarity.py
    relative_contrast_profile): sampled relative contrast — mean true-NN
    distance vs mean decorrelated-pair distance — with a ``near_isotropic``
    flag. The round-7 RAW finding as a queryable signal: when this flag is
    on, IVF/LSH pruning structurally cannot reach high recall on this
    table (BASELINE §4.2's measured 0.52/0.03 floors) and the fix is the
    embedding model, not index parameters. The fixed sf tables are
    isotropic by construction, so the flag is TRUE here; the pytest
    distinguishes a replicated near-dup-crowded corpus (contrast ≈ 13.6,
    flag off). FULL oracle: the diagnostic is plain aggregation over a
    bounded deterministic sample — e4 fixed-point means, md5-ring pairing."""
    from nextgenetl_spark.operators.similarity import relative_contrast_profile

    return relative_contrast_profile(
        load(spark, sf_dir, "embeddings"), sample_n=200, flag_below=2.0
    )


@workload(
    "hybrid_rrf_retrieval",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents),
    dense AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
                            c.vec_id) AS rank
        FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5) q,
             embeddings c
        WHERE c.vec_id <> q.query_id),
    lex AS (
        SELECT qt.query_id, d.doc_id,
               row_number() OVER (
                   PARTITION BY qt.query_id
                   ORDER BY len(list_intersect(qt.qt, d.t)) DESC, d.doc_id) AS rank
        FROM (SELECT doc_id AS query_id, t AS qt FROM toks WHERE doc_id < 5) qt,
             toks d
        WHERE d.doc_id <> qt.query_id),
    u AS (
        SELECT query_id, doc_id,
               CAST(1.0 AS DOUBLE) / CAST(60 + rank AS DOUBLE) AS term
        FROM (SELECT query_id, doc_id, rank FROM dense WHERE rank <= 10
              UNION ALL
              SELECT query_id, doc_id, rank FROM lex WHERE rank <= 10)),
    f AS (
        SELECT query_id, doc_id, ROUND(SUM(term), 6) AS rrf,
               CAST(COUNT(*) AS INT) AS n_lists
        FROM u GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, rrf, n_lists, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS rank
          FROM f)
    WHERE rank <= 5
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (operators/textstats.py
    rrf_fuse; Cormack et al., SIGIR 2009): for 5 query documents, fuse a
    DENSE ranking (embedding cosine top-10 — the vec_id↔doc_id join the
    test corpus provides) with a LEXICAL ranking (distinct-token overlap
    top-10) into a final top-5, rrf = Σ 1/(60+rank) — the calibration-free
    combiner every RAG/retrieval stack runs in front of an LLM. The
    lexical leg here is the verification form (exact overlap, all pairs
    against 5 broadcast queries); at scale both legs swap to their
    candidate-generating forms (BM25 posting agg, IVF-PQ) and the fusion
    cost — one groupBy + window over queries × Σk rows — does not change
    with corpus size."""
    from nextgenetl_spark.operators import textstats as TS
    from nextgenetl_spark.operators.similarity import cosine_topk
    from nextgenetl_spark.operators.textstats import rrf_fuse
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c_emb = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    dense = cosine_topk(q_emb, c_emb, k=10, corpus_id="doc_id")

    toks = docs.select("doc_id", F.array_distinct(TS.tokens("text")).alias("t"))
    qt = toks.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("t").alias("qt")
    )
    ovl = (
        toks.crossJoin(F.broadcast(qt))
        .filter(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id", "doc_id", F.size(F.array_intersect("qt", "t")).alias("ovl")
        )
    )
    wlex = Window.partitionBy("query_id").orderBy(F.desc("ovl"), F.asc("doc_id"))
    lex = ovl.withColumn("rank", F.row_number().over(wlex)).filter(F.col("rank") <= 10)

    return rrf_fuse(
        [dense.select("query_id", "doc_id", "rank"), lex.select("query_id", "doc_id", "rank")],
        k=5,
    )


def _hybrid_values_oracle() -> str:
    """Oracle for hybrid_rrf_production: the DENSE leg is the frozen
    independent pure-Python IVF-PQ walk WITH THE AUTO-KNOB RULES REPLICATED
    (tools/gen_hybrid_oracle.py — nprobe=ceil(k_centroids/4), shortlist=
    3*max(k, replayed measured_adc_crowd)), embedded as a VALUES table; the
    LEXICAL BM25 leg and the RRF fusion are fully SQL-expressible and stay
    live. Per-(query, doc, term) BM25 contributions are quantized to 6dp
    scaled BIGINTs on BOTH engines (bm25_multi_scores part_dp=6) so posting
    summation order cannot move the ranking frontier."""
    from nextgenetl_spark.workloads import _hybrid_expected as P

    vals = ",\n           ".join(f"({q}, {n}, {r})" for q, n, _, r in P.DENSE_TOPK)
    return f"""
    WITH dense AS (
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(rank AS INT) AS rank
        FROM (VALUES {vals}) AS t(query_id, doc_id, rank)),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl),
    qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 5),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN (SELECT DISTINCT term FROM qterms)
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    parts AS (
        SELECT q.query_id, tf.doc_id,
               CAST(ROUND((ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                     * tf.tf * (1.2 + 1)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)))
                     * 1000000) AS BIGINT) AS p
        FROM qterms q
        JOIN tf USING (term)
        JOIN dfreq d USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
        WHERE tf.doc_id <> q.query_id),
    lexscore AS (SELECT query_id, doc_id, SUM(p) AS sp
                 FROM parts GROUP BY query_id, doc_id),
    lex AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sp DESC, doc_id) AS rank
        FROM lexscore),
    u AS (
        SELECT query_id, doc_id,
               CAST(1.0 AS DOUBLE) / CAST(60 + rank AS DOUBLE) AS term
        FROM (SELECT query_id, doc_id, rank FROM dense WHERE rank <= 10
              UNION ALL
              SELECT query_id, doc_id, rank FROM lex WHERE rank <= 10)),
    f AS (
        SELECT query_id, doc_id, ROUND(SUM(term), 6) AS rrf,
               CAST(COUNT(*) AS INT) AS n_lists
        FROM u GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, rrf, n_lists, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS rank
          FROM f)
    WHERE rank <= 5
    """


def _hybrid_lex_leg(docs: DataFrame, k: int = 10) -> DataFrame:
    """The shared lexical leg of the hybrid_rrf_* pair: each query doc's
    distinct tokens form its (query_id, term) query table, scored by the
    inverted-posting multi-query BM25 (bm25_multi_scores, part_dp=6 for
    the engine-free quantized sum), self-matches dropped, top-k ranked per
    query. One definition so the production/persisted twins (and the
    ground-truth pytest) cannot drift apart (self-review r10)."""
    from nextgenetl_spark.operators.textstats import bm25_multi_scores, tokens
    from pyspark.sql.window import Window

    qterms = (
        docs.filter(F.col("doc_id") < 5)
        .select(F.col("doc_id").alias("query_id"), F.explode(tokens("text")).alias("term"))
        .distinct()
    )
    lexscore = bm25_multi_scores(docs, qterms, part_dp=6).filter(
        F.col("query_id") != F.col("doc_id")
    )
    wlex = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        lexscore.withColumn("rank", F.row_number().over(wlex))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank")
    )


@workload("hybrid_rrf_production", oracle=_hybrid_values_oracle())
def hybrid_rrf_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-SHAPE hybrid retrieval: rrf_fuse over an IVF-PQ dense leg
    with ALL-AUTO knobs (nprobe=None → ceil(k_centroids/4), shortlist=None
    → 3·max(k, measured_adc_crowd)) + an inverted-posting multi-query BM25
    lexical leg (bm25_multi_scores) — the composition hybrid_rrf_retrieval's
    docstring promises at scale ("legs swap to IVF-PQ / BM25 posting agg"),
    now exercised end-to-end as its own oracle-paired query. For the 5 query
    documents: the dense leg prunes with cells and scores with codes (raw
    vectors only for the shortlist re-rank); the lexical leg's candidate
    width is Σ_q docs-containing-q's-terms (posting-list cost, never
    |queries|×|corpus|); the fusion is one groupBy + window over
    queries × Σk rows, corpus-size-free. Oracle: frozen independent
    pure-Python IVF-PQ walk with both auto rules replicated
    (tools/gen_hybrid_oracle.py) + live SQL BM25/fusion legs; the
    brute-force-leg ground-truth pin is tests/test_dedup_similarity.py::
    test_hybrid_production_vs_brute_force_fusion."""
    from nextgenetl_spark.operators.similarity import ivfpq_topk
    from nextgenetl_spark.operators.textstats import rrf_fuse

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")

    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c_emb = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    dense = ivfpq_topk(
        q_emb, c_emb, k_centroids=16, nprobe=None, m=8, ks=16, k=10,
        shortlist=None, refine_iters=1, train_iters=1, corpus_id="doc_id",
    )
    return rrf_fuse(
        [dense.select("query_id", "doc_id", "rank"), _hybrid_lex_leg(docs)],
        k=5,
    )


@workload("hybrid_rrf_persisted", oracle=_hybrid_values_oracle())
def hybrid_rrf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_rrf_production on the PERSISTED index path — the
    build-once/query-many form a serving deployment actually runs:
    `build_ivfpq_index` persists centroids/codebooks/cell-partitioned
    codes+vectors AND the measured crowd statistic in meta/, then
    `ivfpq_query_index(nprobe=None, shortlist=None)` applies the same auto
    rules FROM META — zero corpus re-measurement at query time (the cost
    the self-contained auto default pays per call, r9 ADVICE #3; this
    entry demonstrates the documented opt-out). The index is staged
    content-fingerprinted (the stream_ann_lookup discipline: size+mtime
    keyed, _COMPLETE-marked, rebuilt on in-place regeneration). The
    persisted walk is bit-identical to the self-contained one (pinned by
    pytest), so this entry shares hybrid_rrf_production's frozen
    dense-VALUES oracle verbatim — one frozen walk certifying both
    composition paths. Lexical leg + fusion identical."""
    import os

    from nextgenetl_spark.operators.similarity import build_ivfpq_index, ivfpq_query_index
    from nextgenetl_spark.operators.textstats import rrf_fuse
    from nextgenetl_spark.staging import staged

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    idx = staged(
        "ngetl_ivfpq_hybrid",
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda idx: build_ivfpq_index(emb, idx, k_centroids=16, refine_iters=1, m=8, ks=16, train_iters=1),
    )

    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = ivfpq_query_index(
        spark, idx, q_emb, nprobe=None, shortlist=None, k=10
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([dense, _hybrid_lex_leg(docs)], k=5)


@workload(
    "ann_ivfpq_append",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ index maintenance, oracle-verified end-to-end:
    the index is BUILT on the history corpus (vec_id >= 25) and the new
    batch (vec_id < 25) is APPENDED via append_to_ivfpq_index — assigned
    to the frozen centroids, encoded with the frozen codebooks, appended
    into the cell partitions, no retraining, probe cost tracking the new
    batch only (the incremental_near_dup discipline for the vector index).
    Querying with nprobe = every cell and an unbounded shortlist then
    degenerates to exact brute force over history ∪ appended, so the plain
    brute-force SQL oracle value-checks the WHOLE maintenance path: a row
    lost, duplicated, or mis-assigned by the append breaks the hash. The
    frozen-artifact encode equivalence (appended codes == what the build
    would write) is pinned separately by
    tests/test_dedup_similarity.py::test_ivfpq_append_matches_frozen_encode.
    Build+append are staged as one artifact (append is NOT idempotent —
    pure partition append)."""
    import os

    from nextgenetl_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_query_index,
    )
    from nextgenetl_spark.staging import staged

    emb = load(spark, sf_dir, "embeddings")

    def build(idx: str) -> None:
        build_ivfpq_index(
            emb.filter(F.col("vec_id") >= 25), idx,
            k_centroids=16, refine_iters=1, m=8, ks=16, train_iters=1,
        )
        append_to_ivfpq_index(spark, idx, emb.filter(F.col("vec_id") < 25))

    idx = staged("ngetl_ivfpq_append", os.path.join(sf_dir, "embeddings.parquet"), build)

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_query_index(
        spark, idx, q, nprobe=16, shortlist=1_000_000_000, k=5
    ).select("query_id", "neighbor_id", "sim", "rank")


@workload(
    "stream_ivfpq_ingest",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      ROUND(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS sim
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id,
           ROUND(sim, 4) AS sim,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
    WHERE rank <= 5
    """,
)
def stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming ingest INTO the persisted IVF-PQ index,
    oracle-verified: new embedding batches arrive as a file-source stream
    and each micro-batch is appended via ``foreachBatch`` →
    ``append_to_ivfpq_index`` (assigned to the frozen centroids, encoded
    with the frozen codebooks, appended into the cell partitions — the
    maintenance path a vector-serving deployment runs between rebuilds;
    stream_ann_lookup is its read-side twin). The HISTORY index (vec_id ≥
    25) is staged content-fingerprinted and built once; each RUN copies it
    and streams the new batch (vec_id < 25) into the copy, so the pure
    append is exactly-once per run with no duplicate hazard and the stream
    is REAL on every run (the run dir persists for the returned DataFrame
    and goes with the process's scratch root, a few MB at test sf). Full-probe + unbounded-shortlist
    query over the maintained copy degenerates to exact brute force over
    history ∪ streamed batch — the plain SQL oracle value-checks the whole
    streamed maintenance path (a dropped/duplicated micro-batch row breaks
    the hash)."""
    import os
    import shutil

    from nextgenetl_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_query_index,
    )
    from nextgenetl_spark.staging import scratch_dir, staged
    from nextgenetl_spark.streaming.source import embeddings_stream, run_bounded

    emb = load(spark, sf_dir, "embeddings")
    base = staged(
        "ngetl_ivfpq_hist",
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda base: build_ivfpq_index(
            emb.filter(F.col("vec_id") >= 25), base,
            k_centroids=16, refine_iters=1, m=8, ks=16, train_iters=1,
        ),
    )

    run_idx = scratch_dir("ngetl_ivfpq_ingest_")
    shutil.copytree(
        base, run_idx, dirs_exist_ok=True, ignore=shutil.ignore_patterns("_COMPLETE*")
    )

    def ingest(batch_df, batch_id):
        b = batch_df.filter(F.col("vec_id") < 25)
        if b.take(1):
            # keyed on the micro-batch id: a foreachBatch replay of a
            # committed batch skips instead of double-appending, so the
            # append is idempotent against ONE index — not just
            # exactly-once-per-run via the index copy (round-10 verdict
            # ask #6; claim/_DONE contract in append_to_ivfpq_index)
            append_to_ivfpq_index(spark, run_idx, b, batch_id=batch_id)

    # the returned DataFrame lazily scans run_idx: evaluating it while
    # foreachBatch is still appending would race the writes, so a timeout
    # fails BY NAME instead of proceeding
    run_bounded(
        embeddings_stream(spark, sf_dir).writeStream.foreachBatch(ingest),
        "stream_ivfpq_ingest",
    )

    qdf = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_query_index(
        spark, run_idx, qdf, nprobe=16, shortlist=1_000_000_000, k=5
    ).select("query_id", "neighbor_id", "sim", "rank")
