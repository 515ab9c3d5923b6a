"""Similarity search over embedding columns (array<float>).

Exact search: ``cosine_topk`` scores every (broadcast query, corpus row)
pair JVM-side with zip_with/aggregate; ``cosine_topk_gemm`` scores them as
one numpy GEMM per Arrow batch. The measured scale path is IVF and IVF-PQ
with their automatic knobs (√N cells, nprobe = ceil(cells/4), shortlist =
3·max(k, ADC crowd)): recall@10 1.000 for IVF at 40k and 200k vectors
(IVF_DEFAULT_CONFIRM.json), 0.965 / 0.997 for IVF-PQ
(PQ_AUTO_SHORTLIST.json). ``pq_topk`` compresses without pruning.
Hyperplane LSH (``lsh_topk``) is a cheap bucket join, but its recall@10
measured only 0.15-0.41 single-probe and 0.33-0.75 with two multiprobe
flips (ANN_RECALL.json).

The searches share one copy of each step: ``_topn`` (the per-query top-n
under (score desc, id asc): final top-k, ADC shortlist, cell probe),
``_collect_queries`` / ``_query_batch`` / ``_no_hits`` (the bounded query
collect: an oversized side fails by name, an empty one returns typed
empty rows), ``_dense_topn`` (a batch's top-n of a dense score matrix),
``_probe`` (nprobe nearest cells), and ``_adc_lut`` / ``_adc_pairs`` /
``_rerank`` (ADC table, paired ADC kernel, shortlist-then-exact-cosine
re-rank). ``_ivf_search`` and ``_ivfpq_search`` run the same walk whether
the centroids, codebooks and codes were built in memory (``ivf_topk``,
``ivfpq_topk``) or read from an index (``*_query_index``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import read_parquet_cached


def dot(a, b) -> F.Column:
    """Double-precision dot product of two float arrays (cast before multiply
    so accumulation error stays at double scale)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a) -> F.Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> F.Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _sim(qv: str, cv: str, digits: int = 4) -> F.Column:
    """The rounded cosine every search ranks by; rounding before ranking
    pins cross-engine float comparability."""
    return F.round(cosine(F.col(qv), F.col(cv)), digits).alias("sim")


def _topn(df: DataFrame, by: str, score: str, tie: str, n: int, rank: str = "rank") -> DataFrame:
    """Each ``by`` group's top ``n`` rows by (``score`` desc, ``tie`` asc),
    numbered in ``rank``."""
    w = Window.partitionBy(by).orderBy(F.desc(score), F.asc(tie))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _collect_queries(queries: DataFrame, query_id: str, vec_col: str) -> list:
    """The bounded query collect: limit(cap+1) bounds what the driver
    materializes even when the query side is oversized."""
    return queries.select(F.col(query_id), F.col(vec_col)).limit(MAX_QUERY_ROWS + 1).collect()


def _query_batch(op: str, rows: list):
    """(ids, float64 matrix) of a collected query side, or None when it is
    empty. The matrix ships driver→executors in the UDF closure, so an
    oversized side fails BY NAME (mirrors dedup.bounded_block_guard), not
    as a driver OOM."""
    import numpy as np

    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"{op}: the query side is collected and broadcast in the UDF "
            f"closure, but it has > MAX_QUERY_ROWS={MAX_QUERY_ROWS} rows. A "
            f"batch this large is a corpus, not a query set: swap the sides, "
            f"batch the queries, or use ivf_topk so each query scores its "
            f"probed cells only."
        )
    if not rows:
        return None
    return np.array([r[0] for r in rows]), np.stack([np.asarray(r[1], dtype="float64") for r in rows])


def _no_hits(spark, query_id: str, out_id: str, q_type: str, n_type: str) -> DataFrame:
    """An empty query side's result, typed as a non-empty one."""
    return spark.createDataFrame([], f"{query_id} {q_type}, {out_id} {n_type}, sim double, rank int")


def _dense_topn(qids, ids, S, n: int, query_id: str, corpus_id: str, score: str):
    """One Arrow batch's top-``n`` rows per query of a dense (query × row)
    score matrix under the GLOBAL order (-score, id): lossless for the
    final window. Self-matches score -inf and drop."""
    import numpy as np
    import pandas as pd

    S[qids[:, None] == ids[None, :]] = -np.inf
    take = min(n, len(ids))
    out_q, out_n, out_s = [], [], []
    for j in range(len(qids)):
        order = np.lexsort((ids, -S[j]))[:take]
        keep = order[np.isfinite(S[j, order])]
        out_q.extend([qids[j]] * len(keep))
        out_n.extend(ids[keep])
        out_s.extend(S[j, keep])
    return pd.DataFrame({query_id: out_q, corpus_id: out_n, score: out_s})


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine. Queries are broadcast (they are the small
    side); ranking ties break deterministically on neighbor id. Rounding
    before ranking pins cross-engine float comparability."""
    q = queries.select(F.col(query_id), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(corpus_id), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, _sim("qv", "cv", round_digits))
    )
    return _topn(scored, query_id, "sim", corpus_id, k)


def cosine_topk_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact brute-force top-k, vectorized: the query batch (small by
    contract — it is the ad-hoc side of an ANN lookup) is collected once and
    closed over as a numpy matrix; the corpus is scanned with mapInPandas,
    each Arrow batch scoring ALL queries in one normalized GEMM and emitting
    only its batch-local top-(k+1) rows per query. A final window ranks the
    tiny surviving candidate set (queries × batches × (k+1) rows).

    Same results as ``cosine_topk`` (tie-break on neighbor id after
    round_digits rounding; the per-batch selection uses the identical total
    order, so partial top-k is lossless). Different cost: the expression
    form evaluates interpreted per-element lambdas per pair, this one does
    one BLAS matmul per batch and shuffles only candidates — at 100 TB the
    corpus never shuffles and the scan stays Arrow-batched."""
    import numpy as np

    q_type = queries.schema[query_id].dataType.simpleString()
    n_type = corpus.schema[corpus_id].dataType.simpleString()
    batch = _query_batch("cosine_topk_gemm", _collect_queries(queries, query_id, vec_col))
    if batch is None:
        return _no_hits(queries.sparkSession, query_id, corpus_id, q_type, n_type)
    qids, Q = batch
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[corpus_id].to_numpy()
            C = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = np.round(Cn @ Qn.T, round_digits)  # (batch, q)
            yield _dense_topn(qids, ids, S.T, k + 1, query_id, corpus_id, "sim")

    cands = corpus.select(F.col(corpus_id), F.col(vec_col)).mapInPandas(
        score, f"{query_id} {q_type}, {corpus_id} {n_type}, sim double"
    )
    return _topn(cands, query_id, "sim", corpus_id, k)


#: Bounded-block contract for the quadratic embedding pair generators. The
#: vectorized variant materializes an n×n block similarity matrix
#: (8 bytes · n²: 8k rows ≈ 512 MB), so this bound is also a memory bound.
MAX_BLOCK_ROWS = 8192

#: Bounded-collect contract for the GEMM top-k query side: the query matrix
#: is collected on the driver and shipped in every task's closure, so its
#: size is a per-task memory cost (4096 × 1024-dim float64 ≈ 32 MB — the
#: practical broadcast ceiling). Larger ad-hoc batches belong on the
#: corpus-side scan or in ivf_topk.
MAX_QUERY_ROWS = 4096


def blocked_near_dup_pairs(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Embedding near-duplicate pairs within blocks: all-pairs cosine is
    quadratic, so pairs are only formed inside a blocking key (cluster id,
    shard, or an LSH bucket from ``hyperplane_signature`` at scale). The join
    shuffles on the block key; each task scores one block.

    ``max_block_rows`` enforces the bounded-block contract lazily inside the
    job (operators/dedup.py bounded_block_guard): an unbounded block fails
    the stage by name instead of silently running O(block²); sub-bucket with
    ``hyperplane_signature`` or use ``lsh_topk``/``ivf_topk`` instead."""
    a = df.select(F.col(block_col).alias("blk"), F.col(id_col).alias("a_id"), F.col(vec_col).alias("av"))
    b = df.select(F.col(block_col).alias("blk"), F.col(id_col).alias("b_id"), F.col(vec_col).alias("bv"))
    out = (
        a.join(b, (a.blk == b.blk) & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id", _sim("av", "bv"))
        .filter(F.col("sim") >= threshold)
    )
    return _guarded(out, df, block_col, max_block_rows, "blocked_near_dup_pairs")


def _guarded(
    out: DataFrame, df: DataFrame, block_col: str, max_block_rows: int | None, op: str
) -> DataFrame:
    if max_block_rows is None:
        return out
    from nextgenetl_spark.operators.dedup import _with_guard, bounded_block_guard

    guard = bounded_block_guard(
        df, block_col, max_block_rows, op,
        "Sub-bucket with hyperplane_signature or use lsh_topk/ivf_topk for unbounded blocks.",
    )
    return _with_guard(out, guard)


def blocked_near_dup_pairs_vectorized(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Same semantics as ``blocked_near_dup_pairs`` but the per-block pair
    scoring is one numpy matrix product per block (``applyInPandas``): a
    block of n d-dim vectors costs one n×d @ d×n GEMM instead of n²/2
    interpreted array lambdas — ~5-10× faster on realistic blocks. Blocks
    must be bounded (cluster/LSH bucket), which the blocking contract already
    guarantees; one Arrow batch per block.

    Rounding/threshold boundary cases are decided by Spark expressions (the
    pandas stage pre-filters with a slack of 1e-4), so results are bit-equal
    to the expression form."""
    import numpy as np
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"a_id": pd.Series(dtype="int64"), "b_id": pd.Series(dtype="int64"), "sim": pd.Series(dtype="float64")})
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        norms = np.linalg.norm(V, axis=1)
        S = (V @ V.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(ids), k=1)
        sims = S[iu]
        mask = sims >= threshold - 1e-4
        a, b = ids[iu[0][mask]], ids[iu[1][mask]]
        return pd.DataFrame({"a_id": np.minimum(a, b), "b_id": np.maximum(a, b), "sim": sims[mask]})

    out = df.groupBy(block_col).applyInPandas(per_block, "a_id long, b_id long, sim double")
    out = out.select("a_id", "b_id", F.round("sim", 4).alias("sim")).filter(F.col("sim") >= threshold)
    return _guarded(out, df, block_col, max_block_rows, "blocked_near_dup_pairs_vectorized")


def blocked_near_dup_pairs_auto(
    df: DataFrame,
    dim: int,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int = MAX_BLOCK_ROWS,
    num_planes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Size-routed embedding near-dup pairs: blocks within the bound get the
    exact per-block GEMM; oversized blocks are SUB-BUCKETED by a
    deterministic hyperplane signature (2^num_planes buckets, recall < 1 on
    the routed part — the same exact-vs-LSH trade the token-side
    near_dup_pairs_auto makes). The split is a block-count aggregate inside
    the plan — no driver-side job, the operator stays lazy.

    ``dim`` is the embedding dimension (static in any real pipeline); the
    hyperplanes are generated driver-side from ``seed`` and inlined as
    literals."""
    import random

    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]

    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__n"))
    oversized = counts.filter(F.col("__n") > max_block_rows).select(block_col)
    small = df.join(F.broadcast(oversized), block_col, "left_anti")
    big = df.join(F.broadcast(oversized), block_col, "left_semi")
    exact = blocked_near_dup_pairs_vectorized(
        small, block_col, threshold, id_col, vec_col, max_block_rows=None
    )
    sub = big.withColumn(
        "__blk2",
        F.concat_ws(
            "#", F.col(block_col).cast("string"),
            hyperplane_signature(F.col(vec_col), planes).cast("string"),
        ),
    )
    # Sub-buckets shrink blocks ~2^num_planes-fold; the guard stays off here
    # because the route exists precisely for blocks the bound rejects —
    # raise num_planes if a single bucket could still exceed worker memory.
    routed = blocked_near_dup_pairs_vectorized(
        sub, "__blk2", threshold, id_col, vec_col, max_block_rows=None
    )
    return exact.unionByName(routed)


def _plane_dots(vec_col, planes: list[list[float]]) -> list[F.Column]:
    """``vec_col``'s dot product with each hyperplane. Each plane is one
    array literal, not dim separate F.lit py4j round trips (r11 —
    construction cost only; identical literal array)."""
    return [
        F.aggregate(
            F.zip_with(vec_col, F.lit([float(x) for x in plane]), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        for plane in planes
    ]


def _signature(dots: list[F.Column]) -> F.Column:
    bits = [F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)) for i, d in enumerate(dots)]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def hyperplane_signature(vec_col, planes: list[list[float]]) -> F.Column:
    """Sign-bit signature against fixed hyperplanes → integer bucket id.
    ``planes`` is generated driver-side (deterministic seed) and inlined as
    literals — it is tiny (num_planes × dim)."""
    return _signature(_plane_dots(vec_col, planes))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    nprobe_flips: int = 0,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by hyperplane LSH: bucket both sides by sign
    signature and only score within matching buckets. Recall < 1.0 by
    construction; used when the corpus is too large to brute-force per
    query. The bucket join shuffles on the signature, so each task scores
    one bucket.

    Multiprobe: besides its own bucket, each query probes the buckets
    reached by flipping its ``nprobe_flips`` LOWEST-MARGIN sign bits (the
    planes it was closest to, where a true neighbor most likely landed on
    the other side). It buys the recall of several hash tables for a small
    query-side fan-out (1 + flips buckets per query); the corpus is still
    bucketed once, so the join stays one bucket-keyed shuffle. MEASURED
    recall@10 (tools/ann_recall.py, 40k corpus): 0.41/0.27/0.15 at 8/12/16
    planes with no flips, 0.75/0.53/0.33 with 2 flips, for ~1.5× the wall;
    see BASELINE §4.2 and ANN_RECALL.json.

    A (query, corpus row) pair joins at most once: the probed buckets are
    distinct (the base bucket and its XORs with distinct powers of two) and
    each corpus row lands in one bucket."""
    dots = _plane_dots(F.col(vec_col), planes)
    margins = [F.struct(F.abs(d).alias("m"), F.lit(i).alias("i")) for i, d in enumerate(dots)]
    base = _signature(dots)
    # lowest-|margin| planes first; flip each of the first nprobe_flips
    flips = F.slice(F.array_sort(F.array(*margins)), 1, nprobe_flips)
    probes = F.array_union(
        F.array(base),
        # 2^i as pow (shiftleft needs a literal bit count); i <= len(planes) so
        # the double → int cast is exact
        F.transform(
            flips, lambda s: base.bitwiseXOR(F.pow(F.lit(2.0), s["i"].cast("double")).cast("int"))
        ),
    )
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("qv"), F.explode(probes).alias("bucket")
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("cv"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, _sim("qv", "cv"))
    )
    return _topn(scored, query_id, "sim", corpus_id, k)


def _seed_scan(corpus: DataFrame, n: int, id_col: str, vec_col: str) -> list:
    """ONE TakeOrderedAndProject collect of the ``n`` smallest
    (xxhash64(id), id) corpus rows, carrying (``__id``, ``__raw`` vector,
    ``__n`` fold-norm). Both seed consumers define their selection by this
    exact ordering — ``pick_centroids`` takes the first k raw vectors,
    ``train_pq_codebooks`` the first ks NONZERO-norm unit vectors — so a
    composed walk (ivfpq_topk, build_ivfpq_index) scans the corpus ONCE
    for seeds instead of once per half (guide §2.2: the scan is the cost,
    at sf0.1 and at 100 TB alike). The norm is the `_unit_vectors` fold
    expression evaluated in the same scan; the driver replays the
    per-element division with the identical IEEE op sequence, which the
    pure-Python oracle generators already prove equivalent."""
    v = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return (
        corpus.select(
            F.xxhash64(F.col(id_col).cast("string")).alias("__h"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__raw"),
            nrm.alias("__n"),
        )
        .orderBy("__h", "__id")
        .limit(n)
        .collect()
    )


def _attach_cent_rows(df: DataFrame, rows: list) -> DataFrame:
    """Memoize the driver-side (cell_id, cvec) list on the literal table so
    downstream consumers (assign_cells, refine_centroids) skip the
    upload→collect round trip (r11; same-walk only, not cross-run)."""
    df._nextgenetl_cent_rows = rows
    return df


def pick_centroids(
    corpus: DataFrame,
    k_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _rows: list | None = None,
) -> DataFrame:
    """Deterministic centroid selection: the k vectors with the smallest
    xxhash64(id) — a seedless uniform sample that is stable across runs and
    engines. (A production index would k-means-refine these; the cell/probe
    machinery below is identical either way.)

    The global top-k runs as ``orderBy().limit(k)`` → TakeOrderedAndProject
    (per-partition partial top-k merged on the driver), so the corpus never
    collapses into a single-partition sort. The k survivors are collected
    (bounded by k_centroids) and returned as a LITERAL table with the rows
    memoized on it (r11): every downstream consumer — refine's base,
    assign_cells' closure, the broadcast probe — previously re-ran the
    selection scan or a checkpoint job to get these same k rows.
    ``_rows`` accepts a pre-collected ``_seed_scan`` prefix so composed
    walks share one seed scan."""
    if _rows is None:
        _rows = _seed_scan(corpus, k_centroids, id_col, vec_col)
    spark = corpus.sparkSession
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    rows = [(i, list(r["__raw"])) for i, r in enumerate(_rows[:k_centroids])]
    schema = f"cell_id int, cvec {vec_type}"
    if not rows:
        return _attach_cent_rows(spark.createDataFrame([], schema), rows)
    # single-slice parallelize — see refine_centroids' _lit()
    lit = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    return _attach_cent_rows(lit, rows)


def refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd (k-means) refinement of IVF centroids: assign every vector to its
    nearest centroid (one numpy GEMM per Arrow batch via ``assign_cells``),
    recompute each cell's mean, repeat. Tighter centroids → tighter cells →
    higher recall at the same nprobe.

    Scale shape: the per-cell mean is ``posexplode`` + groupBy(cell_id, pos)
    SUM/COUNT, which hash-aggregates map-side — the shuffle carries only
    k × dim partial rows per task, never the corpus. At 100 TB you run this on
    a sample of the corpus (k-means training does not need every vector); the
    assignment GEMM is the same linear pass either way. Cells that lose all
    members keep their previous centroid, so the cell count is stable.

    ORDER-DETERMINISM (round-8): the per-component sum runs in
    decimal(27,18) — exact, associative, partition-order-independent — and
    the mean is one double division of the decimal sum (the sliding_window
    decimal discipline, measured to cost nothing at ×100). A double AVG
    here would accumulate in partition order, making the refined centroids
    (and so the nprobe<k cell routing) run-dependent; with the decimal sum
    the whole Lloyd walk is reproducible bit-for-bit by the pure-Python
    oracle generator (tools/gen_ivf_oracle.py), which is what admits
    ann_ivf_topk's independent literal-VALUES oracle. Map-side partial
    aggregation is preserved: decimal SUM combines partially.

    DRIVER-MATERIALIZED ITERATION STATE (r11 optimization, guide §1.2/§5):
    each iteration collects the k×dim per-(cell, pos) means — a table
    bounded by the centroid count, the same bound assign_cells already
    collects under — and rebuilds the next iteration's centroid table as a
    LITERAL DataFrame, instead of chaining lazy left-joins whose lineage
    re-executed every prior iteration's corpus pass at every downstream
    collect (the warm ivfpq walk spent ~half its 16s in exactly that
    recompute; see the r11 optimization report in commit 580b237).
    collect→createDataFrame is an
    exact float64 round trip and the coalesce-with-previous fallback for
    emptied cells is replayed on the driver, so the returned values are
    bit-identical; the oracle hashes prove it. The returned table is
    literal-backed: downstream consumers (assign_cells' collect, the
    broadcast probe) read it without touching the corpus again."""
    cent_rows = getattr(centroids, "_nextgenetl_cent_rows", None)
    if iters <= 0:
        return centroids.select(
            "cell_id", F.col("cvec").cast("array<double>").alias("cvec")
        )
    spark = corpus.sparkSession
    if cent_rows is not None:
        # pick_centroids already holds the k rows on the driver (r11) —
        # collecting the literal back is a pure round trip. float→double
        # cast is exact.
        base_rows = {cid: [float(x) for x in vec] for cid, vec in cent_rows}
    else:
        base = centroids.select(
            "cell_id", F.col("cvec").cast("array<double>").alias("cvec")
        )
        base_rows = {r["cell_id"]: list(r["cvec"]) for r in base.collect()}

    def _lit():
        # single-slice parallelize: a default createDataFrame spreads k rows
        # over defaultParallelism partitions, so every downstream collect/
        # broadcast-build runs a 32-task job (measured ~300ms vs ~100ms)
        rows = [(cid, base_rows[cid]) for cid in sorted(base_rows)]
        return _attach_cent_rows(
            spark.createDataFrame(
                spark.sparkContext.parallelize(rows, 1),
                "cell_id int, cvec array<double>",
            ),
            rows,
        )

    for _ in range(iters):
        assigned = assign_cells(
            corpus, [(cid, base_rows[cid]) for cid in sorted(base_rows)], id_col, vec_col
        )
        means = (
            assigned.select("cell_id", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell_id", "pos")
            .agg(
                F.sum(F.col("v").cast("double").cast("decimal(27,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cell_id", "pos", (F.col("s").cast("double") / F.col("n")).alias("m")
            )
        )
        new: dict[int, dict[int, float]] = {}
        for r in means.collect():
            new.setdefault(r["cell_id"], {})[r["pos"]] = r["m"]
        for cid, d in new.items():  # cells that lost all members keep prev
            base_rows[cid] = [d[p] for p in sorted(d)]
    return _lit()


def assign_cells(corpus: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine, as one numpy GEMM
    per Arrow batch (``mapInPandas``). The centroid matrix is k×dim — tiny —
    so it collects to the driver once and ships in the UDF closure; the
    corpus streams through in batches and never shuffles. The per-element
    expression form (corpus × k interpreted array lambdas) is the cost curve
    that blew up at 20× corpus in tools/scale_smoke.py; the GEMM is linear
    with a vectorized constant.

    ``centroids`` may be a DataFrame (collected here — the normal path) or
    a pre-collected list of ``(cell_id, cvec)`` pairs (r11: the Lloyd loop
    already holds the k-row table on the driver; re-uploading it as a
    literal DataFrame just to collect it back cost a ~200-600ms round trip
    per iteration)."""
    import numpy as np
    import pandas as pd

    if not isinstance(centroids, list):
        # a literal table built by pick_centroids/refine_centroids carries
        # its rows (r11) — collecting it back is a pure round trip
        centroids = getattr(centroids, "_nextgenetl_cent_rows", None) or centroids
    if isinstance(centroids, list):
        cent = sorted(
            (dict(cell_id=c, cvec=v) for c, v in centroids), key=lambda r: r["cell_id"]
        )
    else:
        cent = sorted(centroids.collect(), key=lambda r: r["cell_id"])
    cell_ids = np.array([r["cell_id"] for r in cent], dtype="int32")
    C = np.stack([np.asarray(r["cvec"], dtype="float64") for r in cent])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:  # np.stack([]) raises; empty Arrow batches are legal
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            best = cell_ids[np.argmax(Vn @ Cn.T, axis=1)]
            yield pd.DataFrame({id_col: pdf[id_col], "cell_id": best, vec_col: pdf[vec_col]})

    vec_type = corpus.schema[vec_col].dataType.simpleString()
    return corpus.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cell_id int, {vec_col} {vec_type}"
    )


def _auto_nprobe(k_centroids: int) -> int:
    """The measured probe-fraction default (IVF_DEFAULT_CONFIRM.json):
    nprobe = ceil(k_centroids/4) read recall@10 = 1.000 at BOTH the 40k
    corpus (√N = 200 cells, nprobe 50) and the 200k corpus (447 cells,
    nprobe 111) — a fixed probe FRACTION holds recall as the corpus grows
    where a fixed probe COUNT decays (the legacy fixed-16/4 config reads
    0.952/0.985 on the same corpora). Completes the ANN auto-tuning
    story: k_centroids=None → √N, shortlist=None → 3·max(k, adc crowd),
    nprobe=None → k_centroids/4; every default cites its measurement and
    every knob stays overridable."""
    import math

    return max(1, math.ceil(k_centroids / 4))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k_centroids: int = 16,
    nprobe: int | None = None,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: partition the corpus into centroid cells, then
    score each query only against its ``nprobe`` nearest cells. The scale
    path when the corpus is too large to brute-force: the cell join shuffles
    on cell_id, so each task scores one cell's slice, and recall is tuned by
    nprobe (nprobe == k_centroids degenerates to exact brute force).
    MEASURED recall@10 (tools/ann_recall.py, 40k-vector near-dup-crowded
    corpus, k_centroids=16): 0.64 / 0.83 / 0.95 / 0.99 / 1.00 at nprobe
    1/2/4/8/16 — nprobe=4 is the knee (0.95 recall, ~1/6 the full-probe
    wall); see BASELINE §4.2 and ANN_RECALL.json for the full grid.
    ``refine_iters`` > 0 runs that many Lloyd iterations on the seed
    centroids (``refine_centroids``) — better recall at the same nprobe for
    the cost of ``iters`` extra linear passes at index-build time.

    ``nprobe=None`` (the default) applies the measured probe-fraction rule
    ceil(k_centroids/4) — recall 1.000 at both confirmation scales with √N
    cells (_auto_nprobe / IVF_DEFAULT_CONFIRM.json); pass an int to trade
    recall for wall explicitly.

    At 100 TB the assignment pass is one narrow scan + broadcast, the index
    is written bucketed by cell_id (plans/bucketing.py), and repeated query
    batches join it shuffle-free."""
    if nprobe is None:
        nprobe = _auto_nprobe(k_centroids)
    cents, cells = _ivf_cells(corpus, k_centroids, refine_iters, corpus_id, vec_col)
    return _ivf_search(
        queries, cents, cells, nprobe, k, query_id, corpus_id, vec_col, corpus_id, broadcast_probe=False
    )


def _ivf_cells(corpus: DataFrame, k_centroids: int, refine_iters: int, id_col: str, vec_col: str):
    """The IVF build: seed centroids, ``refine_iters`` Lloyd passes, and the
    corpus assigned to its nearest cell → (centroids, cells). The centroid
    table is literal-backed (r11): the selection scan ran exactly once, so
    neither the assignment pass nor the query probe re-runs it and no
    checkpoint job is needed."""
    cents = pick_centroids(corpus, k_centroids, id_col, vec_col)
    if refine_iters > 0:
        cents = refine_centroids(corpus, cents, refine_iters, id_col, vec_col)
    return cents, assign_cells(corpus, cents, id_col, vec_col)


def _probe(queries: DataFrame, cents: DataFrame, query_id: str, vec_col: str, nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest cells by centroid cosine (ties to the
    lower cell id), against the broadcast k-row centroid table."""
    scored = (
        queries.select(F.col(query_id), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(cents))
        .select(query_id, "qv", "cell_id", cosine(F.col("qv"), F.col("cvec")).alias("csim"))
    )
    return _topn(scored, query_id, "csim", "cell_id", nprobe, "__pr").select(query_id, "qv", "cell_id")


def _ivf_search(
    queries: DataFrame,
    cents: DataFrame,
    cells: DataFrame,
    nprobe: int,
    k: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    out_id: str,
    broadcast_probe: bool,
) -> DataFrame:
    """The IVF search: probe each query's cells, join the probed cells to
    the cell-assigned corpus on cell_id, then score exactly and rank.
    Output: (query_id, ``out_id``, sim, rank). ``broadcast_probe`` is set
    for a persisted index, whose cells may be far past the broadcast
    threshold: the small probe is broadcast and the hive-partitioned cells
    scan streams, never shuffled to a sort-merge join, and the broadcast
    probe is the build side a dynamic pruning filter on that scan is
    planned against. In-memory cells have no partitions to prune, so that
    join carries no hint: the planner broadcasts the smaller side, and when
    that is the cells the probe's query_id partitioning feeds the final
    window with no further shuffle (broadcasting the probe there measured
    one more job at sf0.01)."""
    probe = _probe(queries, cents, query_id, vec_col, nprobe)
    scored = (
        (F.broadcast(probe) if broadcast_probe else probe)
        .join(cells, "cell_id")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, F.col(corpus_id).alias(out_id), _sim("qv", vec_col))
    )
    return _topn(scored, query_id, "sim", out_id, k)


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    k_centroids: int | None = None,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist an IVF index: centroids (k rows) + the corpus assigned to
    cells, written hive-partitioned BY cell_id. Building costs one centroid
    pass (+ refine_iters Lloyd passes) and one assignment scan; every later
    query batch reads the cells, never the corpus — the index-reuse
    workflow that makes IVF pay off at 100 TB, where re-deriving cells per
    query batch (ivf_topk's self-contained form) would re-scan the corpus
    every time.

    ``k_centroids=None`` (the round-8 default) sizes the index as
    round(√N) — the PRODUCT form of the measured k-sweep
    (ANN_RECALL_100X.json, BASELINE §4.2): grow cells with the corpus and
    hold the probe FRACTION, because at 200k vectors the √N-bracket index
    (k=64, nprobe=16 = the same 1/4 fraction) read recall 1.000 in 0.6×
    the wall of the fixed 16-cell index (which needed nprobe 4 for 0.985).
    More, smaller cells = finer pruning at equal probe fraction AND less
    wasted scan per probe; √N balances the centroid-ranking cost (k per
    query) against the per-cell scan (N/k per probe). Sizing costs one
    count() scan at build time; pass an explicit k to skip it."""
    if k_centroids is None:
        import math

        k_centroids = max(1, round(math.sqrt(corpus.count())))
    cents, cells = _ivf_cells(corpus, k_centroids, refine_iters, id_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    (
        cells.select(id_col, vec_col, "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{index_dir}/cells")
    )
    return {"k_centroids": k_centroids, "index_dir": index_dir}


def ivf_query_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    nprobe: int | None = None,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index: rank cells per query against the tiny
    centroid table (broadcast), keep nprobe, join the cell-partitioned
    corpus on cell_id with the probe as the broadcast build side, then
    score and re-rank (``_ivf_search``, the walk ``ivf_topk`` runs on
    in-memory cells). The cells scan carries a planned dynamic pruning
    filter on cell_id, but MEASURED on Spark 4.1 it resolves to ``true``
    at execution: a 2-query nprobe=1 batch on an 8-cell index opened all
    8 cell partitions (ROADMAP Direction 3). Same output
    contract as ``ivf_topk`` (query_id, neighbor_id, sim, rank); with
    nprobe == k_centroids it is exactly brute force. ``nprobe=None``
    applies the measured ceil(k/4) probe-fraction rule from the
    centroid-table row count (_auto_nprobe / IVF_DEFAULT_CONFIRM.json)."""
    cents = read_parquet_cached(spark, f"{index_dir}/centroids")
    if nprobe is None:
        nprobe = _auto_nprobe(cents.count())
    cells = read_parquet_cached(spark, f"{index_dir}/cells")
    return _ivf_search(
        queries, cents, cells, nprobe, k, query_id, corpus_id, vec_col, "neighbor_id", broadcast_probe=True
    )


def append_to_ivf_index(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental index maintenance: assign ONLY the new vectors to the
    persisted centroids and append them into the cell partitions — no
    corpus re-scan, no rebuild. Centroids stay fixed (the standard IVF
    trade-off: cells drift as data grows; rebuild with
    ``build_ivf_index`` when recall degrades). Dynamic partition overwrite
    is NOT used — this is a pure append, so re-running the same batch
    duplicates it; dedupe upstream or route through the exactly-once sink
    for streams."""
    cents = read_parquet_cached(spark, f"{index_dir}/centroids")
    cells = assign_cells(new_vectors, cents, id_col, vec_col)
    (
        cells.select(id_col, vec_col, "cell_id")
        .write.mode("append")
        .partitionBy("cell_id")
        .parquet(f"{index_dir}/cells")
    )
    return {"index_dir": index_dir}


def nearest_centroid(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K-means assignment step with the similarity score kept: every corpus
    vector gets its nearest centroid by cosine plus the cosine itself —
    (id, centroid_id, sim). Same scale shape as ``assign_cells``: the k×dim
    centroid matrix collects once and ships in the UDF closure; the corpus
    streams through ``mapInPandas`` and each Arrow batch is scored in one
    normalized float64 GEMM. Ties break toward the lowest centroid_id
    (np.argmax returns the first maximum; the matrix rows are sorted by
    centroid_id), matching the SQL ``ORDER BY sim DESC, centroid_id``
    tie rule. The corpus never shuffles."""
    import numpy as np
    import pandas as pd

    cent = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    c_ids = np.array([r["centroid_id"] for r in cent], dtype="int64")
    C = np.stack([np.asarray(r["cvec"], dtype="float64") for r in cent])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:  # np.stack([]) raises; empty Arrow batches are legal
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Cn.T
            best = np.argmax(S, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "centroid_id": c_ids[best],
                    "sim": np.round(S[np.arange(len(best)), best], 4),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, centroid_id long, sim double"
    )


def relative_contrast_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 200,
    flag_below: float = 2.0,
) -> DataFrame:
    """Sampled CLUSTERABILITY diagnostic — the product form of the round-7
    RAW-corpus finding (BASELINE §4.2 / ANN_RECALL_RAW.json): on a
    near-isotropic embedding table, no IVF/LSH parameter choice can prune
    well (measured: IVF recall 0.52 at the usual knee, LSH ≈0.03), so
    "check your embeddings before your index parameters" becomes this
    queryable signal, run BEFORE build_ivf_index.

    Relative contrast (He et al.'s Dmean/Dnn in cosine form): mean
    true-nearest-neighbor distance vs mean decorrelated-pair distance over
    a deterministic sample (``id < sample_n``; at 100 TB use an xxhash64
    threshold — same shape, still one scan). The pair partner is the
    sample member half the ring away in md5(id) ORDER — pseudo-random,
    engine-portable, and decorrelated from id adjacency/stride so replica
    blocks can't masquerade as 'random' pairs. Means are e4 fixed-point
    (exact integer sums — partition-order-free), so a SQL oracle replays
    the whole diagnostic value-for-value. MEASURED separation: a
    20×-replicated near-dup corpus reads ~13.6, an isotropic gauss corpus
    ~1.50 — the ``near_isotropic`` flag trips below ``flag_below``=2.0.

    Cost: one sample scan + a sample_n² broadcast cross join (bounded by
    construction, 40k pairs at the default) — nothing corpus-sized moves."""
    s = (
        df.filter(F.col(id_col) < sample_n)
        .select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("av"))
    )
    w = Window.orderBy(F.md5(F.col("a_id").cast("string")), F.col("a_id"))
    s = s.withColumn("arn", F.row_number().over(w) - 1).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    b = s.select(
        F.col("a_id").alias("b_id"), F.col("av").alias("bv"), F.col("arn").alias("brn")
    )
    sims = (
        F.broadcast(s)
        .crossJoin(F.broadcast(b))
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "arn", "brn", "m", _sim("av", "bv"))
    )
    nn = _topn(sims, "a_id", "sim", "b_id", 1, "r")
    rnd = sims.filter(
        F.col("brn") == (F.col("arn") + F.floor(F.col("m") / 2).cast("long")) % F.col("m")
    )

    def _e4_mean(frame, out):
        return frame.agg(
            F.round(
                F.sum(F.round(F.col("sim") * 10000).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 10000,
                4,
            ).alias(out),
            F.count(F.lit(1)).alias(f"_n_{out}"),
        )

    nn_row = _e4_mean(nn, "mean_nn_sim")
    rnd_row = _e4_mean(rnd, "mean_rand_sim")
    joined = nn_row.crossJoin(rnd_row)  # two 1-row frames — constant-size
    contrast = F.when(
        F.col("mean_nn_sim") < 1.0,
        F.round((F.lit(1.0) - F.col("mean_rand_sim")) / (F.lit(1.0) - F.col("mean_nn_sim")), 4),
    )
    return joined.select(
        F.col("_n_mean_nn_sim").alias("n_sample"),
        "mean_nn_sim",
        "mean_rand_sim",
        contrast.alias("relative_contrast"),
        (contrast.isNotNull() & (contrast < F.lit(flag_below))).alias("near_isotropic"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN for corpora whose raw vectors
# don't fit executor memory. Jégou/Douze/Schmid, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 33(1), 2011. The corpus is stored as
# m small codebook indices per vector (m·log2(ks) bits, e.g. 64-dim float32
# = 256 B -> m=8, ks=16 codes = 4 B: a 64x in-memory compression), queries
# scan CODES with a per-query lookup table, and only a short candidate list
# ever touches the raw vectors (asymmetric distance computation / ADC).
#
# Determinism (what admits the pure-Python VALUES oracle, the
# gen_ivf_oracle.py discipline): vectors are unit-normalized by a LEFT-FOLD
# aggregate expression (per-row, partition-order-free); codebook seeds are
# the ks smallest (xxhash64(id), id); Lloyd means use decimal(27,18)-exact
# sums; every argmin/shortlist decision is margin-asserted > 1e-9 by the
# oracle generator (tools/gen_pq_oracle.py), so GEMM-vs-fold arithmetic
# provably orders identically.
# ---------------------------------------------------------------------------


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __nv): L2-unit-normalized array<double>. The norm is ONE left-fold
    ``aggregate`` expression — deterministic per row and exactly replayable
    in pure Python (same IEEE add/mul sequence), unlike numpy's pairwise
    summation. Zero-norm vectors carry no direction (cosine undefined) and
    are dropped by contract."""
    v = F.col(vec_col).cast("array<double>")
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return (
        df.select(F.col(id_col), v.alias("__v"), n.alias("__n"))
        .filter(F.col("__n") > 0)
        .select(id_col, F.transform("__v", lambda x: x / F.col("__n")).alias("__nv"))
    )


def _collect_codebooks(cb: DataFrame, m: int | None = None, ks: int | None = None):
    """Collect the (subspace, code, cvec) codebook table (m·ks rows — tiny,
    bounded by construction) into an (m, ks, dsub) float64 ndarray. With
    m/ks omitted they are inferred from the table (the persisted-index
    read path, where the codebook parquet is self-describing).

    When the codebook table was built by ``train_pq_codebooks`` in this
    same walk, the already-collected ndarray is memoized on the DataFrame
    object (r11) — the collect of the literal it was built from is a pure
    round trip. Persisted/parquet codebooks take the normal collect path."""
    import numpy as np

    memo = getattr(cb, "_nextgenetl_cb_ndarray", None)
    if memo is not None and (m is None or memo.shape[0] == m) and (
        ks is None or memo.shape[1] == ks
    ):
        return memo
    rows = {(r["subspace"], r["code"]): r["cvec"] for r in cb.collect()}
    if m is None:
        m = 1 + max(s for s, _ in rows)
    if ks is None:
        ks = 1 + max(c for _, c in rows)
    missing = [(j, t) for j in range(m) for t in range(ks) if (j, t) not in rows]
    if missing:
        raise ValueError(
            f"_collect_codebooks: codebook table is missing {len(missing)} of "
            f"{m * ks} (subspace, code) entries, first {missing[:5]} — the "
            f"corpus had fewer than ks non-zero-norm vectors at training time "
            f"or the persisted codebook parquet is truncated"
        )
    return np.stack(
        [np.stack([np.asarray(rows[(j, t)], dtype="float64") for t in range(ks)]) for j in range(m)]
    )


def _pq_assign_long(unit: DataFrame, CB, id_col: str) -> DataFrame:
    """Per (vector, subspace): nearest codeword by L2 (argmin over
    -2·v·c + |c|² — the |v|² term is constant per argmin; first minimum
    wins ties = lowest code, matching the oracle's strict-< walk) plus the
    subvector values for the Lloyd mean. One GEMM per subspace per Arrow
    batch; the subvectors are SLICES of the already-normalized input —
    no arithmetic — so the decimal mean's inputs are bit-identical to the
    oracle's."""
    import numpy as np
    import pandas as pd

    m, ks, dsub = CB.shape
    c2 = (CB**2).sum(axis=2)  # (m, ks)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf["__nv"]])
            ids = pdf[id_col]
            frames = []
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                codes = np.argmin(-2.0 * (S @ CB[j].T) + c2[j][None, :], axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            "subspace": j,
                            "code": codes.astype("int32"),
                            "subvec": list(S),
                        }
                    )
                )
            yield pd.concat(frames)

    return unit.mapInPandas(
        gen, f"{id_col} long, subspace int, code int, subvec array<double>"
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _seed_rows: list | None = None,
    _seed_horizon: int | None = None,
) -> DataFrame:
    """Train per-subspace PQ codebooks -> DataFrame(subspace, code, cvec).

    Seeds are the ks unit vectors with the smallest (xxhash64(id), id) —
    the pick_centroids discipline, sliced into m subvectors; ``iters``
    Lloyd rounds then refine each subspace independently (assign = one
    GEMM pass emitting ALL m subspaces per scan, mean = decimal(27,18)-
    exact per-component sums / one double division — refine_centroids'
    order-determinism discipline, so the whole walk replays in pure
    Python). Codes that lose all members keep their previous codeword.

    Scale: the shuffle carries m·ks·dsub partial rows per task, never the
    corpus; at 100 TB train on a corpus sample (k-means training does not
    need every vector) and encode the full corpus with the frozen books.

    SEED FAST PATH (r11): the ks seed unit vectors are collected in ONE
    TakeOrdered pass (``_seed_scan`` — the dim probe, the seed selection,
    and the first iteration's codebook grid previously cost a ``first()``
    job plus a lazy seed-plan collect each, re-scanning the corpus) and
    unit-normalized + sliced on the driver with the identical IEEE op
    sequence the in-plan expressions perform. ``_seed_rows`` accepts a
    pre-collected ``_seed_scan`` prefix (with ``_seed_horizon`` = the n it
    was scanned to) so composed walks share the scan with
    ``pick_centroids``. If zero-norm vectors push the ks-th nonzero seed
    beyond the scanned horizon, the original lazy in-plan seed path runs
    instead — behavior on degenerate corpora is unchanged."""
    spark = corpus.sparkSession
    if _seed_rows is None:
        _seed_rows = _seed_scan(corpus, ks, id_col, vec_col)
        _seed_horizon = ks
    elif _seed_horizon is None:
        _seed_horizon = len(_seed_rows)
    if not _seed_rows:
        raise ValueError("train_pq_codebooks: empty corpus")
    dim = len(_seed_rows[0]["__raw"])
    if dim % m != 0:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m

    unit = _unit_vectors(corpus, id_col, vec_col)
    nonzero = [r for r in _seed_rows if r["__n"] > 0]
    if len(nonzero) >= ks or len(_seed_rows) < _seed_horizon:
        # the ks seeds (or the whole corpus) are on the driver: replay the
        # unit normalization exactly (left fold already computed in-scan as
        # __n; per-element x/__n is the same IEEE division F.transform
        # performs) and slice the codebook grid with zero arithmetic
        seed_units = [
            [float(x) / r["__n"] for x in r["__raw"]] for r in nonzero[:ks]
        ]
        if len(seed_units) < ks:
            # corpus exhausted with an incomplete grid — the descriptive
            # error _collect_codebooks raises on the lazy path
            missing = ks - len(seed_units)
            raise ValueError(
                f"_collect_codebooks: codebook table is missing {missing * m} of "
                f"{m * ks} (subspace, code) entries, first "
                f"{[(0, t) for t in range(len(seed_units), min(ks, len(seed_units) + 5))]} — the "
                f"corpus had fewer than ks non-zero-norm vectors at training time "
                f"or the persisted codebook parquet is truncated"
            )
        cb = _codebook_literal(spark, [
            (j, t, seed_units[t][j * dsub : (j + 1) * dsub])
            for j in range(m)
            for t in range(ks)
        ], m, ks)
    else:
        # zero-norm rows crowd the scanned horizon: fall back to the lazy
        # in-plan seed selection (ordering over the FILTERED unit set)
        seeds = (
            unit.select(F.xxhash64(F.col(id_col).cast("string")).alias("__h"), id_col, "__nv")
            .orderBy("__h", id_col)
            .limit(ks)
        )
        # a corpus with fewer than ks non-zero-norm vectors seeds an
        # incomplete code grid; _collect_codebooks raises the descriptive
        # ValueError on first use (an eager seeds.count() here would add a
        # full corpus-scan job to EVERY training call just to duplicate
        # that guard — round-9 self-review)
        w = Window.orderBy("__h", id_col)  # ks rows only
        cb = (
            seeds.withColumn("__r", F.row_number().over(w))
            .select(
                (F.col("__r") - 1).alias("code"),
                F.posexplode(
                    F.array(*[F.slice("__nv", j * dsub + 1, dsub) for j in range(m)])
                ).alias("subspace", "cvec"),
            )
            .select("subspace", "code", "cvec")
        )
    # DRIVER-MATERIALIZED ITERATION STATE (r11 optimization — see
    # refine_centroids): each iteration collects the m·ks·dsub means
    # (bounded by the codebook grid, the bound _collect_codebooks already
    # collects under) and rebuilds the codebook table as a LITERAL
    # DataFrame, replaying the coalesce-with-previous fallback on the
    # driver from the CB ndarray just collected. The lazy left-join chain
    # this replaces re-executed every prior iteration's corpus pass at the
    # caller's final _collect_codebooks (measured 4.5s warm on a 2000-row
    # corpus); values are bit-identical (exact float64 round trip).
    for _ in range(iters):
        CB = _collect_codebooks(cb, m, ks)
        assigned = _pq_assign_long(unit, CB, id_col)
        means = (
            assigned.select("subspace", "code", F.posexplode("subvec").alias("spos", "v"))
            .groupBy("subspace", "code", "spos")
            .agg(
                F.sum(F.col("v").cast("decimal(27,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "subspace",
                "code",
                "spos",
                (F.col("s").cast("double") / F.col("n")).alias("mv"),
            )
        )
        new: dict[tuple, dict[int, float]] = {}
        for r in means.collect():
            new.setdefault((r["subspace"], r["code"]), {})[r["spos"]] = r["mv"]
        rows = []
        for j in range(m):
            for t in range(ks):
                if (j, t) in new:
                    d = new[(j, t)]
                    vec = [d[p] for p in sorted(d)]
                else:  # codes that lost all members keep their previous codeword
                    vec = [float(x) for x in CB[j][t]]
                rows.append((j, t, vec))
        cb = _codebook_literal(spark, rows, m, ks)
    return cb


def _codebook_literal(spark, rows: list, m: int, ks: int) -> DataFrame:
    """The (subspace, code, cvec) codebook table as a single-slice literal
    from its subspace-major ``rows``, with the driver-side (m, ks, dsub)
    ndarray memoized on it so the caller's _collect_codebooks doesn't pay
    the literal's upload→collect round trip (values are the rows
    verbatim)."""
    import numpy as np

    cb = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), "subspace int, code int, cvec array<double>"
    )
    cb._nextgenetl_cb_ndarray = np.stack(
        [np.stack([np.asarray(rows[j * ks + t][2], dtype="float64") for t in range(ks)]) for j in range(m)]
    )
    return cb


def pq_encode(corpus: DataFrame, CB, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Encode the corpus against frozen codebooks -> (id, codes array<int>).
    This is the persisted artifact of a PQ index: m small ints per vector
    (the 100-TB shape — the code table is what scans at query time; raw
    vectors are only read for the shortlist re-rank)."""
    import numpy as np
    import pandas as pd

    m, ks, dsub = CB.shape
    c2 = (CB**2).sum(axis=2)
    unit = _unit_vectors(corpus, id_col, vec_col)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack([np.asarray(v, dtype="float64") for v in pdf["__nv"]])
            codes = np.empty((len(V), m), dtype="int32")
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = np.argmin(-2.0 * (S @ CB[j].T) + c2[j][None, :], axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return unit.mapInPandas(gen, f"{id_col} long, codes array<int>")


def expected_code_crowd(codes: DataFrame, group_cols=("codes",)) -> int:
    """Membership-weighted expected EXACT-code crowd: for a random corpus
    vector, the expected size of its full-code collision group —
    ceil(Σ c_i² / Σ c_i) over group sizes c_i (the weighted mean measures
    the crowd a typical query target sits in: 2000 crowds of 100 → 100,
    not the unweighted 100-vs-tiny-groups average). NOTE: this is a LOWER
    BOUND diagnostic, not the statistic the shortlist rule needs —
    jittered near-duplicates fragment across code tuples while remaining
    ADC-indistinguishable, so the effective tie-crowd is
    ``measured_adc_crowd`` (PQ_AUTO_SHORTLIST.json measured 2–5 here vs
    the real 20/100 there, with recall collapsing exactly as the
    under-measurement predicts). Cost: one groupBy over the m-byte code
    table; at extreme scale run it on a hash-sampled fraction."""
    import math

    row = (
        codes.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg((F.sum(F.col("c") * F.col("c")) / F.sum("c")).alias("crowd"))
        .first()
    )
    if row is None or row["crowd"] is None:
        return 1
    return max(1, int(math.ceil(row["crowd"])))


def measured_adc_crowd(
    unit: DataFrame,
    codes: DataFrame,
    CB,
    id_col: str,
    n_sample: int = 256,
    count_fraction: float | None = None,
) -> int:
    """The EFFECTIVE tie-crowd the shortlist rule needs: the mean number
    of corpus vectors whose exact cosine to a sampled vector lies within
    the measured ADC quantization noise of an exact duplicate — i.e. how
    many candidates per neighborhood the code scores CANNOT order. This,
    not the exact full-code collision count, is what blinds a small
    shortlist: PQ_AUTO_SHORTLIST.json's first run measured exact-code
    crowds of only 2–5 on the 40k/200k replica corpora (jitter fragments
    replicas across code tuples) while recall@10 still collapsed to 0.42
    at shortlist 30 — the replicas score within quantization noise of
    each other even when their codes differ. exact-code collisions
    (``expected_code_crowd``) are a LOWER bound; this statistic recovers
    the real 20/100 crowd sizes.

    Walk (deterministic, all md5/value-ordered): (1) sample n_sample unit
    vectors by (md5(id), id); (2) measure the noise band δ = 95th-pct
    |ADC(v,u) − cos(v,u)| over the sample×sample pair grid (driver-side
    numpy on a bounded 256² grid); (3) one bounded count pass over the
    corpus — per batch, a batch×sample GEMM of exact cosines, counting
    per sampled vector the corpus rows with cos ≥ 1 − 2δ; (4) crowd =
    ceil(mean count), the membership-weighted view since samples are
    drawn uniformly. Cost: one extra corpus scan of the vector column
    (the train/encode passes already scan it several times); at 100 TB
    set ``count_fraction`` to run the count pass on a deterministic
    md5-hash-sampled corpus fraction, scaling the counts back up by 1/f —
    an unbiased estimate of the mean crowd at f× the scan (implemented
    r10; previously an asserted claim). Note the sampled estimate feeds
    a 3× shortlist rule, so ±30% crowd error moves recall negligibly
    (PQ_RECALL's measured recall plateaus are wide)."""
    import math

    import numpy as np
    import pandas as pd

    if count_fraction is not None and not (0.0 < count_fraction <= 1.0):
        raise ValueError(
            f"measured_adc_crowd: count_fraction={count_fraction} must be in (0, 1]"
        )
    samp = (
        unit.select(F.md5(F.col(id_col).cast("string")).alias("__h"), id_col, "__nv")
        .orderBy("__h", id_col)
        .limit(n_sample)
        .select(id_col, "__nv")
    )
    srows = samp.join(codes.withColumnRenamed(id_col, "__sid"),
                      F.col(id_col) == F.col("__sid")).select(id_col, "__nv", "codes").collect()
    if not srows:
        return 1
    V = np.stack([np.asarray(r["__nv"], dtype="float64") for r in srows])  # (s, d)
    Cd = np.stack([np.asarray(r["codes"], dtype="int64") for r in srows])  # (s, m)
    # ADC(v, u) via v's LUT and u's codes, over the sample pair grid
    lut = _adc_lut(V, CB)
    adc = np.zeros((len(V), len(V)))
    for j in range(CB.shape[0]):
        adc += lut[:, j, :][:, Cd[:, j]]
    exact = V @ V.T
    off = ~np.eye(len(V), dtype=bool)
    delta = float(np.quantile(np.abs(adc - exact)[off], 0.95)) if len(V) > 1 else 0.0
    thresh = 1.0 - 2.0 * delta

    def count(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            B = np.stack([np.asarray(v, dtype="float64") for v in pdf["__nv"]])
            yield pd.DataFrame({"n": [int((B @ V.T >= thresh).sum())]})

    counted = unit
    scale = 1.0
    if count_fraction is not None and count_fraction < 1.0:
        # deterministic md5 sample of the COUNT side only. The hash is
        # SALTED (':cnt') so the draw is independent of the md5(id)
        # ordering that picks the QUERY sample — an unsalted draw keeps
        # exactly the smallest-md5 rows, i.e. deterministically includes
        # every query vector, counting each self-match with probability 1
        # and scaling it by 1/f: an upward bias of ~(1/f - 1) per query
        # (round-10 self-review). Salted, membership is independent of
        # query selection and the 1/f-scaled count is unbiased.
        threshold = int(count_fraction * float(0xFFFFFFFF))
        draw = F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":cnt"))), 1, 8),
            16, 10,
        ).cast("long")
        counted = unit.filter(draw <= F.lit(threshold))
        scale = 1.0 / count_fraction
    total = (
        counted.select("__nv").mapInPandas(count, "n long").agg(F.sum("n").alias("t")).first()
    )
    if total is None or total["t"] is None:
        return 1
    return max(1, int(math.ceil(total["t"] * scale / len(V))))


def _auto_shortlist(k: int, crowd: int) -> int:
    """The frozen two-crowd rule (PQ_RECALL.json at 40k/20-replica crowds,
    PQ_RECALL_100X.json at 200k/100-replica crowds): the shortlist must
    exceed ~3× max(k, the effective same-score tie-crowd) — 32 reads
    recall@10 0.999 at crowd≈20 but caps at 0.41 at crowd≈100, where 320
    restores 1.000 at equal wall. The crowd fed in is measured_adc_crowd
    (quantization-noise near-dup multiplicity), NOT the exact-code
    collision count, which under-measures it 20–50× on jittered replica
    corpora (PQ_AUTO_SHORTLIST.json, both statistics recorded)."""
    return 3 * max(k, crowd)


def _crowd_shortlist(k, corpus, codes, CB, id_col, vec_col, count_fraction):
    """``shortlist=None`` on a self-contained search → (codes, 3·max(k,
    measured_adc_crowd)). The crowd measurement AND the final scoring scan
    both consume the code table, so it is materialized once
    (localCheckpoint) instead of re-running the corpus-scan→normalize→
    GEMM-encode lineage under each action (guide §5). Values are untouched:
    it is exactly the table the persisted index writes. eager=False merges
    the materialization into the crowd pass's first action instead of
    paying a separate checkpoint job (r11)."""
    codes = codes.localCheckpoint(eager=False)
    crowd = measured_adc_crowd(
        _unit_vectors(corpus, id_col, vec_col), codes, CB, id_col, count_fraction=count_fraction
    )
    return codes, _auto_shortlist(k, crowd)


def _adc_lut(Q, CB):
    """LUT[q, j, t] = q's subvector j · codeword CB[j][t], shape (nq, m, ks);
    raw queries, since a per-query scale never changes its ranking."""
    import numpy as np

    dsub = CB.shape[2]
    return np.stack([Q[:, j * dsub : (j + 1) * dsub] @ CB[j].T for j in range(CB.shape[0])], axis=1)


def _adc_pairs(Q, qids, CB, n: int, query_id: str, corpus_id: str):
    """The paired ADC kernel for mapInPandas over (query_id, cell_id, id,
    codes) rows: each row's approximate score is an explicit left-to-right
    fold of m lookups in its query's table (deterministic, replayed exactly
    by the oracle generators), and each batch keeps its top-``n`` rows per
    query under the global (-approx, id) order — lossless for the
    shortlist window. Self-matches score -inf and drop."""
    import numpy as np
    import pandas as pd

    LUT = _adc_lut(Q, CB)
    m = CB.shape[0]
    qindex = {q: i for i, q in enumerate(qids.tolist())}

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qidx = np.array([qindex[q] for q in pdf[query_id]])
            ids = pdf[corpus_id].to_numpy()
            Cd = np.stack([np.asarray(c, dtype="int64") for c in pdf["codes"]])
            s = LUT[qidx, 0, Cd[:, 0]]
            for j in range(1, m):
                s = s + LUT[qidx, j, Cd[:, j]]
            s[pdf[query_id].to_numpy() == ids] = -np.inf
            out = pd.DataFrame(
                {query_id: pdf[query_id], "cell_id": pdf["cell_id"], corpus_id: ids, "approx": s}
            )
            out = out[np.isfinite(out["approx"])]
            yield out.sort_values(
                [query_id, "approx", corpus_id], ascending=[True, False, True]
            ).groupby(query_id, sort=False).head(n)

    return score


def _rerank(
    cands: DataFrame,
    shortlist: int,
    k: int,
    queries: DataFrame,
    vectors: DataFrame,
    keys: list[str],
    query_id: str,
    corpus_id: str,
    vec_col: str,
    out_id: str,
) -> DataFrame:
    """Keep each query's ``shortlist`` best ADC candidates, join them and
    their query vectors (broadcast) to the raw ``vectors`` on ``keys``, and
    rank by the exact rounded cosine: only queries × shortlist rows touch
    raw vectors."""
    short = _topn(cands, query_id, "approx", corpus_id, shortlist, "__sr").select(query_id, *keys)
    qdf = queries.select(F.col(query_id), F.col(vec_col).alias("__qv"))
    rerank = vectors.join(F.broadcast(short.join(F.broadcast(qdf), query_id)), keys).select(
        query_id, F.col(corpus_id).alias(out_id), _sim("__qv", vec_col)
    )
    return _topn(rerank, query_id, "sim", out_id, k)


def _adc_no_hits(queries: DataFrame, vectors: DataFrame, query_id: str, corpus_id: str, out_id: str):
    # the ADC candidates carry a long query id; the neighbor id is the
    # re-rank vectors' own
    n_type = vectors.schema[corpus_id].dataType.simpleString()
    return _no_hits(queries.sparkSession, query_id, out_id, "long", n_type)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    shortlist: int | None = None,
    train_iters: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    crowd_count_fraction: float | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank: shortlist candidates by
    asymmetric-distance scores over the CODES (per query, a per-subspace
    lookup table of query-subvector x codeword inner products; a corpus
    vector's approximate cosine = the sum of m table lookups), then re-rank
    only the shortlist with the exact fold-cosine and emit
    (query_id, neighbor_id, sim, rank) — the ann_*_topk family schema, sim
    HALF_UP-rounded at 4dp.

    vs ivf_topk: IVF prunes WHICH vectors are scored (cells), PQ compresses
    HOW they are scored (codes). At 100 TB they compose (IVF-PQ): this
    standalone form scans every code but the scan is m bytes/vector, and
    only queries x shortlist candidate rows ever touch raw vectors.

    TUNING (measured, PQ_RECALL*.json / BASELINE 4.2): the shortlist is
    the recall knob and must exceed ~3x max(k, the expected same-code
    tie-crowd) — codes cannot split near-identical vectors, so a cutoff
    inside a quantization tie-crowd hides true neighbors from the exact
    re-rank. On the 40k corpus (20-replica crowds) shortlist=32 reads
    recall@10 0.999; on the 200k corpus (100-replica crowds) 32 caps at
    0.41 and 320 restores 1.000 at the same wall. ``shortlist=None``
    (the default, round-8 verdict ask #5) applies that rule
    automatically: 3·max(k, measured_adc_crowd(...)) — the sampled
    quantization-noise tie-crowd, NOT the exact-code collision count,
    which under-measures the effective crowd 20–50× on jittered replica
    corpora (both statistics and the recall confirmation at the two
    crowd regimes are in PQ_AUTO_SHORTLIST.json); pass an int to
    override.

    COST OF THE AUTO DEFAULT (self-contained path): measuring the crowd is
    one extra full scan of the corpus vector column plus a driver-side
    256×corpus-batch GEMM count pass, on EVERY call with shortlist=None.
    Callers who know their regime opt out for free by passing an int
    (e.g. the legacy 32 for ≤20-replica crowds); the persisted-index path
    (build_ivfpq_index → *_query_index) never re-measures — the crowd
    statistics are frozen in the index meta/. At very large N, hash-sample
    the corpus before calling and scale the measured count back up.

    The ADC sum is an explicit left-to-right fold over subspaces, so scores
    are partition-order-free and the whole walk replays in the pure-Python
    VALUES-oracle generator (tools/gen_pq_oracle.py).

    The kernel scores ALL queries against each batch of codes: there are
    no cells, so pairing queries with rows would send queries × corpus
    rows into the UDF."""
    import numpy as np

    # The query-side collect is independent of the whole training/crowd
    # walk — overlap it (guide §2.6; see ivfpq_topk). Values unchanged. An
    # oversized query side raises as soon as it is collected, which
    # cancels the walk.
    from nextgenetl_spark.overlap import overlap_pool

    def _walk(shortlist=shortlist):
        CB = _collect_codebooks(train_pq_codebooks(corpus, m, ks, train_iters, corpus_id, vec_col), m, ks)
        codes = pq_encode(corpus, CB, corpus_id, vec_col)
        if shortlist is None:
            codes, shortlist = _crowd_shortlist(
                k, corpus, codes, CB, corpus_id, vec_col, crowd_count_fraction
            )
        return CB, codes, shortlist

    with overlap_pool(queries.sparkSession) as submit:
        f_walk = submit(_walk)
        batch = _query_batch("pq_topk", _collect_queries(queries, query_id, vec_col))
        CB, codes, shortlist = f_walk.result()
    vectors = corpus.select(F.col(corpus_id), F.col(vec_col))
    if batch is None:
        return _adc_no_hits(queries, vectors, query_id, corpus_id, corpus_id)
    qids, Q = batch
    LUT = _adc_lut(Q, CB)  # (nq, m, ks)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[corpus_id].to_numpy()
            Cd = np.stack([np.asarray(c, dtype="int64") for c in pdf["codes"]])  # (n, m)
            # explicit left-to-right fold over subspaces: deterministic,
            # replayed exactly by the oracle generator
            S = LUT[:, 0, :][:, Cd[:, 0]]  # (nq, n)
            for j in range(1, m):
                S = S + LUT[:, j, :][:, Cd[:, j]]
            yield _dense_topn(qids, ids, S, shortlist + 1, query_id, corpus_id, "approx")

    cands = codes.mapInPandas(score, f"{query_id} long, {corpus_id} long, approx double")
    return _rerank(
        cands, shortlist, k, queries, vectors, [corpus_id], query_id, corpus_id, vec_col, corpus_id
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k_centroids: int = 16,
    nprobe: int | None = None,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    shortlist: int | None = None,
    refine_iters: int = 0,
    train_iters: int = 1,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    crowd_count_fraction: float | None = None,
) -> DataFrame:
    """IVF-PQ: the composed 100-TB ANN shape — IVF cells prune WHICH
    vectors each query scores (only ``nprobe`` of ``k_centroids`` cells'
    codes are read), PQ codes compress HOW they are scored (m·log2(ks)
    bits per vector through the ADC lookup-table fold), and only the
    ``shortlist`` survivors per query ever touch raw vectors for the exact
    cosine re-rank. This is the architecture of a production vector index
    (FAISS IVFPQ; Jégou et al., TPAMI 2011) composed from the two
    independently-verified halves: ivf_topk's centroid/probe machinery and
    pq_topk's codebook/ADC machinery, each already pinned by its own
    full-probe/full-shortlist brute-force-degenerate oracle.

    Simplification vs classic IVFPQ, chosen for verifiability: PQ encodes
    the unit vectors themselves, not per-cell residuals — residual
    encoding couples the two training walks and adds one subtraction of
    run-dependent centroids into every decimal path; plain encoding keeps
    both walks independently deterministic (and the measured 40k recall —
    PQ_RECALL.json — shows the non-residual codes already saturate recall
    at shortlist ≈ 3k for this regime).

    The persisted artifact of this operator is the (cell_id, id, codes)
    table: hive-partition it by cell_id (build_ivf_index's layout) and a
    query batch reads nprobe partitions of 4-byte codes — at 100 TB of
    raw vectors that is the difference between scanning terabytes and
    scanning gigabytes.

    Determinism: every stage is the proven order-deterministic walk
    (xxhash64 seed picks, decimal-exact Lloyd on both the cell centroids
    and the codebooks, fold-normalization, left-to-right ADC fold, id
    tie-breaks), so the composition admits the same independent
    pure-Python VALUES oracle (tools/gen_ivfpq_oracle.py).

    ``nprobe=None`` applies the measured ceil(k_centroids/4)
    probe-fraction rule (_auto_nprobe / IVF_DEFAULT_CONFIRM.json);
    ``shortlist=None`` the 3·max(k, adc crowd) rule — every ANN knob has
    a measurement-cited default and stays overridable. NOTE the auto
    shortlist is not free on this self-contained path: the crowd
    measurement costs one extra corpus scan + a driver GEMM count pass
    per call (see pq_topk's COST note); pass an int to skip it, or use
    the persisted index whose meta/ freezes the statistic at build time."""
    if nprobe is None:
        nprobe = _auto_nprobe(k_centroids)
    # ONE seed scan feeds both halves' seed selections (r11): the IVF
    # centroids are the first k_centroids rows, the PQ codebook seeds the
    # first ks nonzero-norm rows of the SAME (xxhash64(id), id) ordering
    seed_horizon = max(k_centroids, ks)

    # The driver-blocking walks that follow are pairwise INDEPENDENT: the
    # query-side collect (it also overlaps the seed scan), the Lloyd
    # refinement of the cell centroids and the PQ codebook training each
    # depend only on inputs that already exist. Running them sequentially
    # left the cluster idle between each walk's small jobs;
    # ``overlap_pool`` runs them together (guide §2.6 — actions are only
    # sequential because the driver calls them sequentially). The query
    # side is checked as soon as it is collected, so an oversized one
    # raises before the encode and crowd pass, and the raise cancels the
    # two training walks. Each walk's own collected values are unchanged,
    # so results are bit-identical regardless of scheduling order.
    from nextgenetl_spark.overlap import overlap_pool

    def _refine():
        if refine_iters > 0:
            return refine_centroids(corpus, cents0, refine_iters, corpus_id, vec_col)
        return cents0

    def _train():
        cb = train_pq_codebooks(
            corpus, m, ks, train_iters, corpus_id, vec_col,
            _seed_rows=seed_rows, _seed_horizon=seed_horizon,
        )
        return _collect_codebooks(cb, m, ks)

    with overlap_pool(queries.sparkSession) as submit:
        f_qrows = submit(lambda: _collect_queries(queries, query_id, vec_col))
        seed_rows = _seed_scan(corpus, seed_horizon, corpus_id, vec_col)
        cents0 = pick_centroids(corpus, k_centroids, corpus_id, vec_col, _rows=seed_rows)
        f_cents, f_train = submit(_refine), submit(_train)
        batch = _query_batch("ivfpq_topk", f_qrows.result())
        cents, CB = f_cents.result(), f_train.result()
        # literal-backed either way (r11) — no checkpoint job needed
        cells = assign_cells(corpus, cents, corpus_id, vec_col).select(corpus_id, "cell_id")
        # the IVF-PQ index table: (id, codes, cell_id) — hive-partition by
        # cell_id when persisting
        codes = pq_encode(corpus, CB, corpus_id, vec_col).join(cells, corpus_id)
        if shortlist is None:
            # near-identical vectors tie in ADC score REGARDLESS of cell, so
            # the crowd statistic ignores cell boundaries (the frozen
            # two-crowd rule — see pq_topk's TUNING / _auto_shortlist)
            codes, shortlist = _crowd_shortlist(
                k, corpus, codes, CB, corpus_id, vec_col, crowd_count_fraction
            )
    return _ivfpq_search(
        queries, batch, cents, CB, codes,
        vectors=corpus.select(F.col(corpus_id), F.col(vec_col)), keys=[corpus_id],
        nprobe=nprobe, shortlist=shortlist, k=k,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col, out_id=corpus_id,
    )


def _ivfpq_search(
    queries: DataFrame,
    batch,
    cents: DataFrame,
    CB,
    codes: DataFrame,
    vectors: DataFrame,
    keys: list[str],
    nprobe: int,
    shortlist: int,
    k: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    out_id: str,
) -> DataFrame:
    """The IVF-PQ search: probe each query's cells, ADC-score ONLY the
    probed cells' code rows (the probed cells are broadcast, so the code
    table never shuffles), shortlist, then re-rank
    exactly against ``vectors`` joined on ``keys``. The same walk whether
    ``cents``/``CB``/``codes``/``vectors`` were built in memory
    (``ivfpq_topk``) or read from an index (``ivfpq_query_index``).
    ``batch`` is the checked query side (``_query_batch``)."""
    if batch is None:
        return _adc_no_hits(queries, vectors, query_id, corpus_id, out_id)
    qids, Q = batch
    joined = (
        F.broadcast(_probe(queries, cents, query_id, vec_col, nprobe))
        .join(codes, "cell_id")
        .select(query_id, "cell_id", F.col(corpus_id), "codes")
    )
    cands = joined.mapInPandas(
        _adc_pairs(Q, qids, CB, shortlist + 1, query_id, corpus_id),
        f"{query_id} long, cell_id int, {corpus_id} long, approx double",
    )
    return _rerank(cands, shortlist, k, queries, vectors, keys, query_id, corpus_id, vec_col, out_id)


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    k_centroids: int | None = None,
    refine_iters: int = 1,
    m: int = 8,
    ks: int = 16,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    crowd_count_fraction: float | None = None,
) -> dict:
    """Persist an IVF-PQ index — the build-once/query-many form of
    ``ivfpq_topk`` and the artifact its docstring promises:

    - ``centroids/``  — k rows (cell router)
    - ``codebooks/``  — m·ks rows (ADC tables' source)
    - ``codes/``      — (id, codes) hive-partitioned BY cell_id: the scan
      surface, m·log2(ks) bits per vector
    - ``vectors/``    — (id, vec) hive-partitioned BY cell_id: the re-rank
      surface; shortlisted rows join back on (cell_id, id)

    ``k_centroids=None`` sizes cells as round(√N) (build_ivf_index's
    measured default — hold the probe fraction as the corpus grows). The
    build also measures ``measured_adc_crowd`` (the effective
    quantization-noise tie-crowd; ``expected_code_crowd`` recorded
    alongside as its exact-collision lower bound) and persists both in
    ``meta/`` so ``ivfpq_query_index(shortlist=None)`` can apply the
    frozen 3·max(k, crowd) rule without re-measuring at query time
    (round-8 verdict ask #5). At 100 TB: one centroid pass +
    train_iters/refine_iters sampled Lloyd passes + one encode scan at
    build; every query batch after that reads nprobe partitions of codes
    and a shortlist of raw rows."""
    if k_centroids is None:
        import math

        k_centroids = max(1, round(math.sqrt(corpus.count())))
    # ONE seed scan feeds both halves' seed selections (r11; see ivfpq_topk)
    seed_horizon = max(k_centroids, ks)
    seed_rows = _seed_scan(corpus, seed_horizon, id_col, vec_col)
    cents = pick_centroids(corpus, k_centroids, id_col, vec_col, _rows=seed_rows)
    if refine_iters > 0:
        cents = refine_centroids(corpus, cents, refine_iters, id_col, vec_col)
    # literal-backed either way (r11) — no checkpoint job needed
    cells = assign_cells(corpus, cents, id_col, vec_col)
    cb = train_pq_codebooks(
        corpus, m, ks, train_iters, id_col, vec_col,
        _seed_rows=seed_rows, _seed_horizon=seed_horizon,
    )
    CB = _collect_codebooks(cb, m, ks)
    codes = pq_encode(corpus, CB, id_col, vec_col)
    # adc_crowd drives shortlist=None at query time (the effective
    # quantization-noise tie-crowd); code_crowd (exact-code collisions)
    # is recorded as its lower bound for diagnostics
    adc_crowd = measured_adc_crowd(
        _unit_vectors(corpus, id_col, vec_col), codes, CB, id_col,
        count_fraction=crowd_count_fraction,
    )
    code_crowd = expected_code_crowd(codes)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cb.write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    spark = corpus.sparkSession
    # vec_type records the persisted vectors/ element type (e.g.
    # "array<float>") so append_to_ivfpq_index can normalize incoming
    # batches WITHOUT re-inferring the vectors directory schema on every
    # append (r12; meta/ is append-invariant so its schema-memo entry
    # stays warm, while vectors/ moves its content fingerprint each batch)
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    spark.createDataFrame(
        [(int(k_centroids), int(m), int(ks), int(code_crowd), int(adc_crowd), vec_type)],
        "k_centroids int, m int, ks int, code_crowd int, adc_crowd int, vec_type string",
    ).write.mode("overwrite").parquet(f"{index_dir}/meta")
    (
        cells.select(id_col, vec_col, "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{index_dir}/vectors")
    )
    (
        codes.join(cells.select(id_col, "cell_id"), id_col)
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{index_dir}/codes")
    )
    return {
        "k_centroids": k_centroids,
        "m": m,
        "ks": ks,
        "code_crowd": code_crowd,
        "adc_crowd": adc_crowd,
        "index_dir": index_dir,
    }


def append_to_ivfpq_index(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: str | int | None = None,
) -> dict:
    """Incremental IVF-PQ index maintenance — the missing sibling of
    ``append_to_ivf_index`` / ``append_to_minhash_index``: assign ONLY the
    new vectors to the persisted centroids, encode them with the persisted
    codebooks, and append into the cell-partitioned ``codes/`` and
    ``vectors/`` surfaces — no corpus re-scan, no retraining. Centroids,
    codebooks, and the meta/ crowd statistic stay FROZEN (the standard
    trade-off: cells and the quantization-noise crowd drift as data grows;
    rebuild with ``build_ivfpq_index`` when recall degrades). The rebuild
    trigger is MEASURED (ANN_APPEND_DRIFT.json, tools/ann_append_drift.py):
    rebuild when the index cohesion statistic — mean member→own-centroid
    cosine over the vectors/ surface — has moved more than ~0.01 in
    EITHER direction from its build-time value. On the measured new-topic
    drift curve, every point at or under that drift kept maintained
    recall@10 within 0.05 of a fresh rebuild, while at 10% off-
    distribution appends (drift 0.021) a rebuild already recovered 13
    points on drift-chasing queries and at 25% (drift 0.045) it recovered
    0.87 (maintained 0.13 vs rebuilt 1.00); tight SAME-distribution
    appends moved cohesion UP without hurting recall, which is why the
    trigger is the absolute drift, not a drop.
    Appended rows are exactly what the build would have written for them
    under the frozen artifacts (pinned by pytest), so
    ``ivfpq_query_index`` needs no append-awareness.

    Idempotence (round-10 verdict ask #6): pass ``batch_id`` to key the
    append. The batch is CLAIMED first (exclusive create of
    ``_appends/batch_<id>/`` — a conditional put on an object store),
    appended, then marked ``_DONE``. A replay of a completed batch (the
    foreachBatch retry shape: sink succeeded, checkpoint commit didn't)
    skips cleanly; a replay of a CLAIMED-but-unfinished batch means a
    prior attempt died mid-append and the index may hold a partial write
    — that fails BY NAME rather than silently double-appending, because
    parquet mode("append") cannot atomically undo a half-landed batch
    (repair: rebuild, or remove the claim after auditing the cell files).
    Without ``batch_id`` the call is a pure append: re-running the same
    batch duplicates it — dedupe upstream or key the batches."""
    import os

    marker = None
    if batch_id is not None:
        marker = os.path.join(index_dir, "_appends", f"batch_{batch_id}")
        if os.path.exists(os.path.join(marker, "_DONE")):
            return {"index_dir": index_dir, "appended": False,
                    "skipped_existing_batch": True}
        try:
            os.makedirs(marker, exist_ok=False)
        except FileExistsError:
            raise RuntimeError(
                f"append_to_ivfpq_index: batch {batch_id!r} is claimed but "
                f"not _DONE — a prior append died mid-write and the index "
                f"at {index_dir} may hold a partial batch; rebuild the "
                f"index (or audit the cell files and remove {marker}) "
                f"before re-appending this batch"
            ) from None
    cents = read_parquet_cached(spark, f"{index_dir}/centroids")
    CB = _collect_codebooks(read_parquet_cached(spark, f"{index_dir}/codebooks"))
    # normalize the batch's vector element type to the index's persisted
    # vectors schema: parquet part files with mixed float/double elements
    # under one directory fail the vectorized reader at QUERY time
    # (SchemaColumnConvertNotSupportedException — found by the r11 drift
    # harness appending double batches into a float-built index).
    # The type comes from meta/ (append-invariant, schema-memo stays warm
    # across batches) when the build recorded it; indexes built before
    # vec_type existed fall back to inferring the vectors/ schema, whose
    # fingerprint moves on every append (r11 verdict ask #5: pass the
    # known index schema through the append instead of re-inferring).
    want = None
    try:
        mrow = read_parquet_cached(spark, f"{index_dir}/meta").first()
        if mrow is not None and "vec_type" in mrow.asDict() and mrow["vec_type"]:
            want = mrow["vec_type"]
    except Exception:
        want = None
    if want is None:
        want = read_parquet_cached(spark, f"{index_dir}/vectors").schema[vec_col].dataType
    new_vectors = new_vectors.withColumn(vec_col, F.col(vec_col).cast(want))
    # materialize the batch-sized assignment once: it feeds BOTH the
    # vectors/ write and the codes/ join below, and without the checkpoint
    # each write re-runs the assign GEMM scan over the batch source
    # (round-10 self-review — the path's selling point is append cost
    # tracking the new batch only)
    cells = assign_cells(new_vectors, cents, id_col, vec_col).localCheckpoint()
    codes = pq_encode(new_vectors, CB, id_col, vec_col)
    # The two surface writes land in DIFFERENT directories and both read
    # only the checkpointed assignment (codes additionally runs its encode
    # GEMM), so they are independent driver actions — overlap them
    # (guide §2.6; the ivfpq_topk thread-pool pattern applied to the
    # append, r11 verdict ask #5). The codes write's encode GEMM runs
    # while the vectors write streams rows; the _DONE marker below still
    # lands only after BOTH writes returned, so idempotence semantics are
    # unchanged — either write failing propagates before the marker.
    from nextgenetl_spark.overlap import overlap

    def _write_vectors():
        (
            cells.select(id_col, vec_col, "cell_id")
            .write.mode("append")
            .partitionBy("cell_id")
            .parquet(f"{index_dir}/vectors")
        )

    def _write_codes():
        (
            codes.join(cells.select(id_col, "cell_id"), id_col)
            .write.mode("append")
            .partitionBy("cell_id")
            .parquet(f"{index_dir}/codes")
        )

    overlap(spark, [_write_vectors, _write_codes])
    if marker is not None:
        with open(os.path.join(marker, "_DONE"), "w", encoding="utf-8") as fh:
            fh.write("")
    return {"index_dir": index_dir, "appended": True,
            "skipped_existing_batch": False}


def ivfpq_query_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    nprobe: int | None = None,
    shortlist: int | None = None,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF-PQ index: rank cells against the broadcast
    centroid table, keep nprobe, ADC-score ONLY those cells' code rows,
    shortlist, then re-rank exactly against the vectors table joined on
    (cell_id, id). The codes and vectors scans carry planned dynamic
    pruning filters on cell_id that, as in ``ivf_query_index``, resolve
    to ``true`` at execution, so every cell partition is read. Identical
    walk to the self-contained ``ivfpq_topk`` built with the same parameters, so
    results are bit-identical (pinned by pytest); with
    nprobe == k_centroids and an unbounded shortlist it is exactly brute
    force. ``shortlist=None`` applies the frozen 3·max(k, crowd) rule from
    the crowd statistic the BUILD persisted in ``meta/`` (no code
    re-aggregation at query time; indexes built before meta existed fall
    back to one groupBy over codes); ``nprobe=None`` the measured
    ceil(k/4) probe-fraction rule from the persisted meta (or centroid
    count). Output: (query_id, neighbor_id, sim, rank)."""
    cents = read_parquet_cached(spark, f"{index_dir}/centroids")
    meta_row = None
    if nprobe is None or shortlist is None:
        try:  # read the 1-row meta ONCE for both auto knobs
            meta_row = read_parquet_cached(spark, f"{index_dir}/meta").first()
        except Exception:
            meta_row = None
    if nprobe is None:
        nprobe = _auto_nprobe(
            int(meta_row["k_centroids"]) if meta_row is not None else cents.count()
        )
    CB = _collect_codebooks(read_parquet_cached(spark, f"{index_dir}/codebooks"))
    codes = read_parquet_cached(spark, f"{index_dir}/codes")
    vectors = read_parquet_cached(spark, f"{index_dir}/vectors")
    if shortlist is None:
        if meta_row is not None and "adc_crowd" in meta_row:
            crowd = int(meta_row["adc_crowd"])
        else:
            # index built before meta existed: measure from the persisted
            # vectors + codes (one bounded pass, same walk as the build)
            crowd = measured_adc_crowd(
                _unit_vectors(vectors, corpus_id, vec_col), codes, CB, corpus_id
            )
        shortlist = _auto_shortlist(k, crowd)
    batch = _query_batch("ivfpq_query_index", _collect_queries(queries, query_id, vec_col))
    return _ivfpq_search(
        queries, batch, cents, CB, codes, vectors=vectors, keys=["cell_id", corpus_id],
        nprobe=nprobe, shortlist=shortlist, k=k,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col, out_id="neighbor_id",
    )
