"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: exact dedup is a hash aggregate on a fingerprint (one
shuffle of (hash, id), never text). Near-dup at 100 TB must not be the
quadratic all-pairs join — MinHash+LSH banding reduces it to a self-join on
(band_index, band_hash) buckets, then exact Jaccard verifies only the
candidates. The quadratic ``ngram_jaccard_pairs`` is kept as the correctness
baseline for tests and small partitions (e.g. within-source blocks).

Every MinHash operator — the batch pairs, the persisted index and the
stream probe (streaming/neardup.py) — is one banded pipeline over a
``HashFamily``: ``XXHASH64`` (the fast path) or ``MD5`` (the portable path
whose DuckDB oracles are generated here). Its stages are flat-min
signatures (batch) or a per-row signature (streams), band rows, a
candidate join (self-join with a < b, or new-vs-history on the first
shared band) and the Jaccard verify.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import read_parquet_cached, spread

from nextgenetl_spark.operators.textstats import tokens


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5; emit fingerprint, group size, canonical
    (min) id. The shuffle carries 16-byte hashes, not documents."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / union


#: Default bounded-block contract for the quadratic pair generators. A
#: 10k-row block is ~5e7 candidate pairs in ONE task — near the ceiling of
#: what a single executor core should absorb; anything bigger must go
#: through the LSH route.
MAX_BLOCK_ROWS = 10_000


def bounded_block_guard(
    df: DataFrame, block_col: str, max_block_rows: int, op_name: str, alt_hint: str
) -> DataFrame:
    """One-row guard DataFrame enforcing the bounded-block contract of a
    quadratic pair generator, evaluated lazily INSIDE the pair job (no
    driver-side count): aggregate the max block size, `assert_true` it
    against the bound. The caller broadcast-cross-joins this single row and
    filters on it, so the guard cannot be pruned out of the plan and the
    stage fails with a named block before an unbounded O(block²) join can
    silently run."""
    top = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__n")).agg(
        F.max_by(F.col(block_col).cast("string"), F.col("__n")).alias("__blk"),
        F.max("__n").alias("__n"),
    )
    msg = F.concat_ws(
        "",
        F.lit(f"{op_name}: quadratic pair generation requires bounded blocks, but block '"),
        F.col("__blk"),
        F.lit("' has "),
        F.col("__n").cast("string"),
        F.lit(f" rows > max_block_rows={max_block_rows}. {alt_hint}"),
    )
    # empty input → max("__n") is NULL; coalesce to pass (zero rows cannot
    # violate a block bound — without this, assert_true(NULL) raises and an
    # empty upstream filter crashes every guarded operator)
    cond = F.coalesce(F.col("__n") <= max_block_rows, F.lit(True))
    return top.select(F.assert_true(cond, msg).alias("__guard"))


def _with_guard(result: DataFrame, guard: DataFrame) -> DataFrame:
    # assert_true yields NULL on success; referencing it in the filter keeps
    # column pruning from eliminating the assertion expression.
    return result.crossJoin(F.broadcast(guard)).where(F.col("__guard").isNull()).drop("__guard")


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """All-pairs token-set Jaccard *within blocks* (quadratic per block —
    only safe when blocks are bounded; the LSH path below is the scale
    route). Returns (a_id, b_id, jac).

    ``max_block_rows`` enforces the bounded-block contract at execution
    time (set None ONLY when the caller already proved the bound, e.g. the
    auto-router): the job fails naming the offending block instead of
    silently running an unbounded O(block²) join."""
    # Token sets are hashed to long[] before the pair stage: the quadratic
    # intersect then compares 8-byte primitives instead of strings (same
    # Jaccard modulo 64-bit collisions, i.e. exactly, in practice).
    #
    # spread BEFORE tokenizing (guide §2.5): on a single-row-group input the
    # scan is one task, which pins BOTH the tokenize projection AND the
    # whole broadcast-hash pair probe (probe parallelism = upstream
    # partitioning) to one core — measured r11: the pair job was 1 task /
    # 5.5s of ngram_jaccard_pairs' 7.3s warm wall at sf0.1. spread is a
    # no-op on multi-row-group lakes and uses an explicit partition count,
    # which AQE never coalesces (a bare repartition(block_col) is
    # REPARTITION_BY_COL and AQE merged it right back to one partition).
    hashed = F.array_distinct(F.transform(tokens(text_col), lambda t: F.xxhash64(t)))
    ts = spread(df).select(block_col, F.col(id_col), hashed.alias("tok_set")).withColumn(
        "n_tok", F.size("tok_set")
    )
    a = ts.alias("a")
    b = ts.alias("b")
    jac = jaccard(F.col("a.tok_set"), F.col("b.tok_set"))
    # J(A,B) >= t implies t*|B| <= |A| and t*|A| <= |B|: a cheap integer bound
    # evaluated before the O(|A|+|B|) intersect, pruning most pairs for free.
    # Implied by the jac filter below, so results (and oracles) are unchanged.
    size_ok = (F.col("a.n_tok") >= threshold * F.col("b.n_tok")) & (
        F.col("b.n_tok") >= threshold * F.col("a.n_tok")
    )
    out = (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.round(jac, 4).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
    if max_block_rows is not None:
        guard = bounded_block_guard(
            df, block_col, max_block_rows, "ngram_jaccard_pairs",
            "Use minhash_near_dup_pairs (LSH) or near_dup_pairs_auto for unbounded blocks.",
        )
        out = _with_guard(out, guard)
    return out


def near_dup_pairs_auto(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_rows: int = MAX_BLOCK_ROWS,
    num_perm: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Size-routed near-duplicate pairs: blocks within the bound get the
    exact quadratic token-set Jaccard; oversized blocks get MinHash-LSH with
    candidates restricted to same-block pairs. The routing itself is part of
    the plan — a block-count aggregate broadcast against both branches — so
    no driver-side job decides the split and the operator stays lazy.

    Routed (oversized-block) pairs are verified by SHINGLE-set Jaccard, the
    LSH route's native measure; exact-branch pairs use token-set Jaccard.
    Both land in the same (a_id, b_id, jac) contract."""
    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__n"))
    oversized = counts.filter(F.col("__n") > max_block_rows).select(block_col)
    # The exact branch's parallelism is owned by ngram_jaccard_pairs itself
    # (catalog.spread before the tokenize projection — guide §2.5). The
    # previous `.repartition(block_col)` here was REPARTITION_BY_COL, which
    # AQE legally coalesces by size — measured r11: it merged right back to
    # ONE partition at sf0.1, so the whole O(block²) pair job ran one task
    # (4.0s of the 5.3s warm wall). An explicit-count round-robin spread is
    # never coalesced, and broadcast-probe parallelism does not need block
    # co-location anyway.
    small = df.join(F.broadcast(oversized), block_col, "left_anti")
    big = df.join(F.broadcast(oversized), block_col, "left_semi")
    exact = ngram_jaccard_pairs(
        small, block_col, threshold, text_col, id_col, max_block_rows=None
    )
    routed = minhash_near_dup_pairs(
        big, threshold, text_col, id_col, num_perm, num_bands, shingle_n
    )
    blocks = df.select(F.col(id_col), F.col(block_col))
    routed = (
        routed.join(blocks.withColumnsRenamed({id_col: "a_id", block_col: "__ablk"}), "a_id")
        .join(blocks.withColumnsRenamed({id_col: "b_id", block_col: "__bblk"}), "b_id")
        .where(F.col("__ablk") == F.col("__bblk"))
        .select("a_id", "b_id", "jac")
    )
    return exact.unionByName(routed)


def shingles(text_col, n: int = 3) -> F.Column:
    """Token n-gram shingles as strings.

    Built by zipping the token array with its 1..n-1 shifted copies and
    concatenating element-wise — O(1) work per element, unlike the naive
    ``transform(idx, i -> concat_ws(slice(toks, i, n)))`` whose per-element
    slice copy makes shingling O(tokens × n) with allocations (measured ~4×
    slower). Tail partial windows are cut off afterwards; short docs
    (< n tokens) yield their single longest shingle, matching the naive
    form exactly."""
    toks = tokens(text_col)
    out = toks
    for shift in range(1, n):
        shifted = F.slice(toks, shift + 1, F.greatest(F.size(toks) - shift, F.lit(1)))
        # zip_with pads the shorter side with nulls; concat_ws skips them,
        # so tail entries are partial windows — trimmed by the slice below.
        out = F.zip_with(out, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(out, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(full)


#: Universal-hash permutation family for the portable MinHash: fixed odd
#: multipliers/offsets (deterministic, engine-neutral) and the largest prime
#: below 2^32. perm_i(h) = (A[i]*h + B[i]) mod P over the 32-bit md5 prefix;
#: products stay < 2^63, so the arithmetic is exact in any BIGINT engine.
MINHASH_P = 4294967291
#: multipliers < 2^31 so A*h < 2^63 for any 32-bit h (no BIGINT overflow
#: in either engine — Spark ANSI mode raises on long overflow)
_MINHASH_A = [2146435069, 1610612741, 805306457, 402653189, 201326611,
              100663319, 50331653, 25165843, 12582917, 6291469,
              3145739, 1572869, 786433, 393241, 196613, 98317]
_MINHASH_B = [1013904223, 1664525, 22695477, 69069, 1103515245,
              214013, 134775813, 2097593, 2531011, 40692,
              3877, 29573, 12345, 1012019, 573, 997]


def _md5_perm(h: F.Column, i) -> F.Column:
    """Permutation ``i`` of the md5 family, ``(A[i]*h + B[i]) mod P``. ``i``
    is a literal int (the batch aggregates) or an int Column (the per-row
    transform over permutation indices, which reads A and B from literal
    arrays). Both promote to exact 64-bit arithmetic before the mod."""
    if isinstance(i, int):
        a, b = F.lit(_MINHASH_A[i]), F.lit(_MINHASH_B[i])
    else:
        a = F.element_at(F.array(*map(F.lit, _MINHASH_A)), i + 1)
        b = F.element_at(F.array(*map(F.lit, _MINHASH_B)), i + 1)
    return (a * h + b) % F.lit(MINHASH_P)


@dataclass(frozen=True)
class HashFamily:
    """What one MinHash hash family supplies to the shared stages.

    ``shingle_hash`` maps a shingle string to an element of the doc's
    hashed shingle set (the verify set, named ``set_col``); ``perm_key``
    maps a set element to the long the permutations read; ``perm(h, i)`` is
    permutation ``i`` (a literal int or an int Column); ``band_hash(rows,
    b)`` hashes the signature values of band ``b``. ``num_perm`` and
    ``num_bands`` are the family's defaults."""

    set_col: str
    shingle_hash: Callable[[F.Column], F.Column]
    perm_key: Callable[[F.Column], F.Column]
    perm: Callable[[F.Column, int | F.Column], F.Column]
    band_hash: Callable[[list[F.Column], int], F.Column]
    num_perm: int
    num_bands: int


#: The fast path: each shingle hashed once, permutations re-hash the 8-byte
#: value with a per-permutation seed, bands hash the long[] slice directly
#: (no string materialization). Pinned by the pure-Python VALUES oracles.
XXHASH64 = HashFamily(
    set_col="sh",
    shingle_hash=lambda s: F.xxhash64(s),
    perm_key=lambda x: x,
    perm=lambda h, i: F.xxhash64(h, F.lit(i) if isinstance(i, int) else i),
    band_hash=lambda rows, b: F.xxhash64(F.array(*rows), F.lit(b)),
    num_perm=32,
    num_bands=8,
)

#: The portable path: one md5 per shingle, its 32-bit hex prefix feeds the
#: universal-hash permutations, bands are md5 over the '|'-joined slice —
#: every step exists verbatim in ANSI-ish SQL, so DuckDB replays it.
MD5 = HashFamily(
    set_col="shm",
    shingle_hash=lambda s: F.md5(s),
    perm_key=lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("long"),
    perm=_md5_perm,
    band_hash=lambda rows, b: F.md5(F.concat_ws("|", *[r.cast("string") for r in rows])),
    num_perm=16,
    num_bands=4,
)


def _hashed_shingles(family: HashFamily, text_col, shingle_n: int = 3) -> F.Column:
    """The doc's shingle set under the family's shingle hash: the verify
    set and the signature's input."""
    return F.transform(shingles(text_col, shingle_n), family.shingle_hash)


def _flat_min(docs: DataFrame, id_col: str, family: HashFamily, sets, num_perm: int) -> DataFrame:
    """Batch signatures, (id, m0 .. m{num_perm-1}), over the set Column
    ``sets`` of ``docs``.

    Shape matters here: explode the set and take num_perm plain
    ``min(perm(h, i))`` aggregates rather than nesting transform/array_min
    higher-order functions — flat aggregates stay inside whole-stage
    codegen with map-side partial aggregation (the shuffle carries num_perm
    longs per doc), where per-element HOF lambdas do not. Minima over the
    distinct set equal minima over raw occurrences.

    From text, pass the set EXPRESSION over the spread docs, not a set
    column projected above the spread: exploding a column makes the
    optimizer infer a ``size(set) > 0`` filter and push it below the
    spread, so the signature side stops sharing the spread exchange with
    the verify side (measured: one more job per query)."""
    base = docs.select(F.col(id_col), F.explode(sets).alias("s"))
    base = base.select(id_col, family.perm_key(F.col("s")).alias("h"))
    aggs = [F.min(family.perm(F.col("h"), i)).alias(f"m{i}") for i in range(num_perm)]
    return base.groupBy(id_col).agg(*aggs)


def _row_signature(sets_col, family: HashFamily, num_perm: int) -> F.Column:
    """Per-ROW signature (array<long>), the same values as ``_flat_min``:
    ``array_min`` over the permuted set per permutation. It needs no
    aggregation, which makes it legal in append-mode Structured Streaming,
    where a groupBy would demand watermark/window state. One transform over
    the permutation indices keeps the expression tree small; bind the set
    to a column first, or the HOF re-evaluates it per permutation."""
    sets = F.col(sets_col) if isinstance(sets_col, str) else sets_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(F.transform(sets, lambda x: family.perm(family.perm_key(x), i))),
    )


def _band_hashes(family: HashFamily, sig: list[F.Column], num_bands: int) -> list[F.Column]:
    """One band-hash Column per band over the signature values ``sig``."""
    rows = len(sig) // num_bands
    return [family.band_hash(sig[b * rows : (b + 1) * rows], b) for b in range(num_bands)]


def _band_rows(df: DataFrame, cols: list[str], bhs: list[F.Column]) -> DataFrame:
    """``cols`` plus one (band, bh) row per band: the LSH bucket keys."""
    bands = F.array(*[F.struct(F.lit(b).alias("band"), bh.alias("bh")) for b, bh in enumerate(bhs)])
    return df.select(*cols, F.explode(bands).alias("bb")).select(
        *cols, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def _carried(bhs_col: str, num_bands: int) -> list[F.Column]:
    """The band hashes of a carried band-hash array column."""
    return [F.element_at(bhs_col, b + 1) for b in range(num_bands)]


def _row_banded(
    df: DataFrame, text_col: str, id_col: str, family: HashFamily,
    num_perm: int, num_bands: int, shingle_n: int,
) -> DataFrame:
    """(id, set, bhs) per doc from the per-row signature: no aggregate,
    so it runs on append streams. Three projections keep the set and the
    signature bound to columns (each is referenced more than once)."""
    s = family.set_col
    sets = df.select(F.col(id_col), _hashed_shingles(family, text_col, shingle_n).alias(s))
    sigs = sets.select(id_col, s, _row_signature(s, family, num_perm).alias("sig"))
    sig = [F.element_at("sig", i + 1) for i in range(num_perm)]
    return sigs.select(id_col, s, F.array(*_band_hashes(family, sig, num_bands)).alias("bhs"))


def _batch_banded(
    df: DataFrame, text_col: str, id_col: str, family: HashFamily,
    num_perm: int, num_bands: int, shingle_n: int,
) -> DataFrame:
    """(id, set, bhs) per doc from the flat-min signatures (batch); the
    per-row form is ~50x slower on a batch corpus (measured on the sf0.1
    index probe: 10.8s -> ~1s). Spread before the shingle projection
    (guide §2.5): single-row-group inputs otherwise pin the per-doc
    shingle+hash work to one task; no-op on multi-row-group lakes."""
    docs = spread(df)
    sets = _hashed_shingles(family, text_col, shingle_n)
    m = [F.col(f"m{i}") for i in range(num_perm)]
    bhs = _flat_min(docs, id_col, family, sets, num_perm).select(
        id_col, F.array(*_band_hashes(family, m, num_bands)).alias("bhs")
    )
    return docs.select(F.col(id_col), sets.alias(family.set_col)).join(bhs, id_col)


def _side(df: DataFrame, id_col: str, family: HashFamily, side: str) -> DataFrame:
    """Prefix the id, set and (when present) bhs columns with ``side``."""
    s = family.set_col
    return df.withColumnsRenamed(
        {id_col: f"{side}_id", s: f"{side}_{s}", "bhs": f"{side}_bhs"}
    )


def _self_candidates(banded: DataFrame, id_col: str) -> DataFrame:
    """(a_id, b_id), a < b, for every pair sharing a (band, bh) bucket. Each
    band hash is one value per doc, so the join input is num_bands rows per
    doc; the shuffle is by bucket, and only same-bucket docs ever meet."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def _history_candidates(probes: DataFrame, hist_bands: DataFrame, hist_verify: DataFrame) -> DataFrame:
    """New-vs-history candidates: ``probes`` (new_id, new_bhs, ..., band,
    bh) bucket-joined to ``hist_bands`` (hist_id, band, bh), then to
    ``hist_verify`` (hist_id, hist_<set>, hist_bhs). A pair sharing several
    bands is kept on its FIRST shared band only — decided in-row from both
    band-hash arrays, the exact join criterion — so it emits once without
    ``distinct`` or ``dropDuplicates`` (stateful on streams, keeping every
    key forever)."""
    same = F.zip_with("new_bhs", "hist_bhs", lambda x, y: x == y)
    earlier = F.exists(F.slice(same, 1, F.col("band")), lambda s: s)
    return probes.join(hist_bands, ["band", "bh"]).join(hist_verify, "hist_id").filter(~earlier)


def _verify(cands: DataFrame, a: str, b: str, family: HashFamily, threshold: float) -> DataFrame:
    """(a_id, b_id, jac) for candidate rows whose exact Jaccard of the two
    hashed shingle sets (``{a}_<set>``, ``{b}_<set>``) reaches the
    threshold. The sets are hashes, so the intersect compares hashes, not
    shingle strings."""
    s = family.set_col
    jac = F.round(jaccard(F.col(f"{a}_{s}"), F.col(f"{b}_{s}")), 4)
    return cands.select(f"{a}_id", f"{b}_id", jac.alias("jac")).filter(F.col("jac") >= threshold)


def _self_join_pairs(
    docs: DataFrame, sets, id_col: str, family: HashFamily,
    threshold: float, num_perm: int, num_bands: int,
) -> DataFrame:
    """Batch near-dup pairs over the set Column ``sets`` of ``docs``:
    flat-min signatures → band rows → bucket self-join → verify,
    re-joining the sets only for candidate pairs."""
    m = [F.col(f"m{i}") for i in range(num_perm)]
    sigs = _flat_min(docs, id_col, family, sets, num_perm)
    set_df = docs.select(F.col(id_col), sets.alias(family.set_col))
    cands = _self_candidates(_band_rows(sigs, [id_col], _band_hashes(family, m, num_bands)), id_col)
    cands = cands.join(_side(set_df, id_col, family, "a"), "a_id").join(_side(set_df, id_col, family, "b"), "b_id")
    return _verify(cands, "a", "b", family, threshold)


def _probe_history(
    new: DataFrame, hist_bands: DataFrame, hist_verify: DataFrame,
    family: HashFamily, num_bands: int, threshold: float,
) -> DataFrame:
    """(new_id, hist_id, jac) for a banded new side (new_id, new_<set>,
    new_bhs) against a history index: band rows → first-shared-band
    candidate join → verify. Every step is a projection or a join, so the
    stream probe and the persisted-index probe both run it."""
    probes = _band_rows(new, new.columns, _carried("new_bhs", num_bands))
    return _verify(_history_candidates(probes, hist_bands, hist_verify), "new", "hist", family, threshold)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = XXHASH64.num_perm,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) xxhash64 MinHash signature per document: num_perm seeded
    min-hash values over the shingle set, from the flat aggregates."""
    sets = _hashed_shingles(XXHASH64, text_col, shingle_n)
    sigs = _flat_min(spread(df), id_col, XXHASH64, sets, num_perm)
    return sigs.select(id_col, F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def minhash_signature_expr(text_col, num_perm: int = XXHASH64.num_perm, shingle_n: int = 3) -> F.Column:
    """Per-ROW xxhash64 MinHash signature as one Column expression, the
    same values as ``minhash_signatures`` (see ``_row_signature``). This
    self-contained form re-evaluates the shingle subtree per permutation
    and exists for call sites that cannot add a projection."""
    return _row_signature(_hashed_shingles(XXHASH64, text_col, shingle_n), XXHASH64, num_perm)


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = XXHASH64.num_perm,
    num_bands: int = XXHASH64.num_bands,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact shingle-set Jaccard ≥ threshold, on
    the xxhash64 family (the perf path)."""
    sets = _hashed_shingles(XXHASH64, text_col, shingle_n)
    return _self_join_pairs(spread(df), sets, id_col, XXHASH64, threshold, num_perm, num_bands)


def md5_minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup pairs on the engine-portable md5 family — the
    textbook construction (one md5 per shingle, universal-hash minima,
    band hashes over the joined slice, exact Jaccard verify) that a DuckDB
    oracle replays exactly (``md5_minhash_oracle_sql``). One md5 per
    shingle instead of num_perm keeps the pin within ~20% of the xxhash64
    form's cost."""
    sets = _hashed_shingles(MD5, text_col, shingle_n)
    return _self_join_pairs(spread(df), sets, id_col, MD5, threshold, num_perm, num_bands)


def md5_minhash_pairs_from_shingles(
    shm_df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
) -> DataFrame:
    """``md5_minhash_near_dup_pairs`` over a precomputed ``(id, shm)`` table
    of DISTINCT md5'd shingles per doc. One shingle+md5 scan feeds both the
    signature minima and the verify; a staged scan (one md5 pass per corpus
    release) removes it from the per-run cost entirely."""
    return _self_join_pairs(shm_df, F.col("shm"), id_col, MD5, threshold, num_perm, num_bands)


def _md5_minhash_sql(
    cand: str, a: str, b: str, threshold: float, table: str, text_col: str, id_col: str,
    num_perm: int, num_bands: int,
) -> str:
    """DuckDB SQL replaying the md5-family pipeline: shingle construction,
    universal-hash minima over the md5 32-bit prefix, banding, the
    candidate CTE ``cand`` (columns ``a``, ``b``) and the Jaccard verify —
    generated from the same parameter tables (_MINHASH_A/_MINHASH_B/
    MINHASH_P) so both engines share one definition. shingle_n is fixed at
    3 (the workload default)."""
    hexpr = _hex_prefix_int_sql("md5(s)")
    sig = ",\n           ".join(
        f"min(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {MINHASH_P}) AS m{i}"
        for i in range(num_perm)
    )
    rows = num_perm // num_bands
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT {id_col}, {band} AS band, md5("
        + " || '|' || ".join(f"CAST(m{i} AS VARCHAR)" for i in range(band * rows, (band + 1) * rows))
        + f") AS bh FROM sig"
        for band in range(num_bands)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS tk FROM {table}
    ), sh AS (
        SELECT {id_col},
               list_distinct(CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))
                    ELSE [array_to_string(tk, ' ')] END) AS sh
        FROM toks
    ), ex AS (
        SELECT {id_col}, unnest(sh) AS s FROM sh
    ), hx AS (
        SELECT {id_col}, {hexpr} AS h FROM ex
    ), sig AS (
        SELECT {id_col},
           {sig}
        FROM hx GROUP BY {id_col}
    ), bands AS (
        {band_rows}
    ), cand AS ({cand}
    ), shm AS (
        SELECT {id_col}, list_distinct(list_transform(sh, s -> md5(s))) AS shm FROM sh
    ), v AS (
        SELECT {a}, {b},
               ROUND(CAST(len(list_intersect(x.shm, y.shm)) AS DOUBLE)
                     / len(list_distinct(list_concat(x.shm, y.shm))), 4) AS jac
        FROM cand
        JOIN shm x ON x.{id_col} = {a}
        JOIN shm y ON y.{id_col} = {b}
    )
    SELECT {a}, {b}, jac FROM v WHERE jac >= {threshold}
    """


def md5_minhash_oracle_sql(
    threshold: float = 0.5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
) -> str:
    """DuckDB SQL replaying ``md5_minhash_near_dup_pairs`` exactly."""
    cand = f"""
        SELECT DISTINCT a.{id_col} AS a_id, b.{id_col} AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}"""
    return _md5_minhash_sql(cand, "a_id", "b_id", threshold, table, text_col, id_col, num_perm, num_bands)


def md5_stream_near_dup_oracle_sql(
    split: int,
    threshold: float = 0.5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
) -> str:
    """DuckDB oracle for the md5 new-vs-history probes (stream and
    persisted index): every (new ≥ split, hist < split) pair that shares at
    least one band hash and verifies at the Jaccard threshold — the
    DISTINCT collapse equals the first-shared-band emission exactly once
    per pair."""
    cand = f"""
        SELECT DISTINCT n.{id_col} AS new_id, o.{id_col} AS hist_id
        FROM bands n JOIN bands o
          ON n.band = o.band AND n.bh = o.bh
         AND n.{id_col} >= {split} AND o.{id_col} < {split}"""
    return _md5_minhash_sql(cand, "new_id", "hist_id", threshold, table, text_col, id_col, num_perm, num_bands)


def build_minhash_index(
    index_dir: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
    shingle_n: int = 3,
) -> dict:
    """Persist an md5-family MinHash-LSH index for incremental near-dup:
    band rows hive-partitioned BY band (a probe for one band opens only
    that partition) plus, per doc, the md5 shingle set and band-hash array
    for the verify and the first-shared-band test. The batch analogue of
    streaming/neardup.py's in-memory history index and the textual sibling
    of build_ivf_index — build once per corpus release, then every new
    batch probes it without re-scanning history."""
    _write_minhash_index(index_dir, df, "overwrite", text_col, id_col, num_perm, num_bands, shingle_n)
    return {"index_dir": index_dir, "num_perm": num_perm, "num_bands": num_bands}


def append_to_minhash_index(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
    shingle_n: int = 3,
) -> dict:
    """Fold a new batch into the persisted index (pure append — dedupe the
    batch upstream; re-running the same batch duplicates rows, same
    contract as append_to_ivf_index)."""
    _write_minhash_index(index_dir, new_docs, "append", text_col, id_col, num_perm, num_bands, shingle_n)
    return {"index_dir": index_dir}


def _write_minhash_index(
    index_dir: str, df: DataFrame, mode: str, text_col: str, id_col: str,
    num_perm: int, num_bands: int, shingle_n: int,
) -> None:
    banded = _batch_banded(df, text_col, id_col, MD5, num_perm, num_bands, shingle_n)
    bands = _band_rows(banded, [id_col], _carried("bhs", num_bands))
    bands.write.mode(mode).partitionBy("band").parquet(f"{index_dir}/bands")
    banded.write.mode(mode).parquet(f"{index_dir}/shingles")


def query_minhash_index(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MD5.num_perm,
    num_bands: int = MD5.num_bands,
    shingle_n: int = 3,
) -> DataFrame:
    """Probe the persisted index with a new batch: band the batch with the
    SAME hash family, equi-join (band, bh) against the stored band table
    (the shuffle carries band hashes, never text), then verify candidates
    by exact Jaccard against the stored shingle sets. Returns (new_id,
    hist_id, jac) — history never re-tokenizes, and the batch side is
    typically orders of magnitude smaller than the corpus."""
    hist_bands = read_parquet_cached(spark, f"{index_dir}/bands").withColumnRenamed(id_col, "hist_id")
    hist_verify = _side(read_parquet_cached(spark, f"{index_dir}/shingles"), id_col, MD5, "hist")
    new = _side(_batch_banded(new_docs, text_col, id_col, MD5, num_perm, num_bands, shingle_n), id_col, MD5, "new")
    return _probe_history(new, hist_bands, hist_verify, MD5, num_bands, threshold)


def _swar_bit_vote_fold(base: DataFrame, id_col: str, word, reverse: bool = False) -> DataFrame:
    """Majority-vote the 64 bit positions of ``word`` per group and fold the
    winning bits into one BIGINT fingerprint — SWAR-packed, two set-bit
    counters per aggregate.

    ``word`` is a LONG Column (one element's 64-bit hash; nulls — e.g. the
    explode_outer row of an empty document — coalesce to 0, which loses
    every majority exactly like the per-bit ``when`` form did). The textbook
    shape (64 separate ``sum(±1)`` aggregates over per-bit ``when`` trees)
    is execution-cheap but PLANNING-heavy: Catalyst analysis of the wide
    plan costs ~1.5-2.5s per run regardless of data size, which dominated
    the simhash queries at bench scale (round-4 verdict: the two slowest
    verification pins). The SWAR form needs only TWO expression nodes per
    aggregate: ``(word >> j) & 0x0000000100000001`` accumulates the set-bit
    counts of bits j and j+32 in two 32-bit lanes of one 64-bit sum
    (arithmetic shift is safe: sign-fill only reaches positions > 63-j,
    and the mask keeps positions {0, 32} with j ≤ 31). A lane overflows
    only past 2^31 elements per group — far beyond any per-doc token
    count. 33 aggregates, one shuffle of one packed row per group,
    fingerprint values identical to the ±1-vote form (vote_b = 2*set_b - n
    is the same majority). Measured at sf0.1: 3.0s → 1.3s fresh-plan.

    ``reverse=False``: fingerprint bit b = word bit b (the xxhash64 layout);
    ``reverse=True``: fingerprint bit b = word bit 63-b (the md5 big-endian
    hex layout)."""
    lane_mask = F.lit((1 << 32) | 1).cast("long")
    b2 = base.select(F.col(id_col), F.coalesce(word, F.lit(0).cast("long")).alias("_w"))
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        F.sum(F.shiftright(F.col("_w"), j).bitwiseAND(lane_mask)).alias(f"p{j}")
        for j in range(32)
    ]
    votes = b2.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(32):
        for lane in range(2):
            wbit = j + 32 * lane
            b = (63 - wbit) if reverse else wbit
            set_b = F.shiftright(F.col(f"p{j}"), 32 * lane).bitwiseAND(F.lit((1 << 32) - 1))
            # shiftleft of the boolean keeps the fold tree minimal; bit 63
            # wraps to the long sign bit, which is exactly mask -2^63
            fp = fp + F.shiftleft((set_b * 2 > F.col("_cnt")).cast("long"), b)
    return votes.select(id_col, fp.alias("fp"))


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as a DataFrame transform: explode the
    distinct tokens, hash each once, take SWAR-packed set-bit vote
    aggregates (_swar_bit_vote_fold), fold the winning bits into one BIGINT.

    Same fingerprint values as ``simhash64`` (the Column-expression form),
    but the flat aggregates stay inside whole-stage codegen with map-side
    partial aggregation — the per-element HOF accumulator in ``simhash64``
    does not, and is ~50× slower on realistic corpora. The shuffle carries
    33 packed longs per doc."""
    # spread before tokenizing (guide §2.5; no-op on multi-row-group lakes)
    base = spread(df).select(
        F.col(id_col), F.explode_outer(F.array_distinct(tokens(text_col))).alias("t")
    )
    return _swar_bit_vote_fold(base, id_col, F.xxhash64("t"))


def simhash64(text_col) -> F.Column:
    """64-bit SimHash over tokens: per-bit majority vote of token hashes,
    folded into one BIGINT. One linear pass with higher-order functions —
    the vote accumulator is an array<long>[64] carried through a single
    ``aggregate`` over the token hashes (no per-bit re-scans, no UDF)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.array_distinct(tokens(c))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # literal bit masks (bit 63 is the long sign bit, hence the negative mask);
    # masks are disjoint powers of two, so summing selected masks == bitwise OR
    masks = F.array(*[F.lit((1 << b) if b < 63 else -(2**63)).cast("long") for b in range(64)])
    zero64 = F.transform(F.sequence(F.lit(0), F.lit(63)), lambda i: F.lit(0).cast("long"))
    votes = F.aggregate(
        hashes,
        zero64,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda b: F.when(h.bitwiseAND(F.element_at(masks, b + 1)) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(F.element_at(votes, i + 1) > 0, F.element_at(masks, i + 1)).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def md5_simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash whose per-token hash is the first 16 hex chars of
    ``md5(token)`` — bit b is bit (3 - b%4) of hex char b//4. Same execution
    shape as ``simhash_fingerprints`` (explode distinct tokens → 64 flat
    vote aggregates inside whole-stage codegen → fold winning masks into one
    BIGINT), but every hash step is engine-portable: md5 + hex-char
    arithmetic exist verbatim in ANSI-ish SQL, so a DuckDB oracle reproduces
    the fingerprint bit-for-bit. The xxhash64 form stays the production/perf
    path; this one is the cross-engine-verifiable pin of the algorithm."""
    # spread before tokenizing (guide §2.5; no-op on multi-row-group lakes)
    base = spread(df).select(
        F.col(id_col), F.explode_outer(F.array_distinct(tokens(text_col))).alias("t")
    )
    base = base.select(id_col, F.md5("t").alias("h"))
    # Two 32-bit halves instead of 16 per-nibble substring+conv calls: hex
    # chars 1-8 big-endian → n1, 9-16 → n2. Bit b of the layout (bit 3-b%4
    # of hex char b//4) is bit (31-b) of n1 for b<32, bit (63-b) of n2
    # otherwise — identical fingerprint values, an eighth of the per-row
    # string work (this path was the slowest verification pin in the r2
    # bench record, kept in commit 580b237).
    base = base.select(
        id_col,
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("n1"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("n2"),
    )
    return md5_simhash_fingerprints_from_hashes(base, id_col)


def md5_simhash_fingerprints_from_hashes(base: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Vote-aggregate + mask-fold tail of ``md5_simhash_fingerprints`` over
    precomputed ``(id, n1, n2)`` token-hash rows (n1/n2 = big-endian ints of
    md5 hex chars 1-8 / 9-16 per DISTINCT token). Split out so a staged
    token-hash scan (computed once per corpus release, the ingest-time cost
    shape) can feed the fingerprint aggregation without re-tokenizing and
    re-hashing the corpus on every run. Votes use the SWAR-packed form
    (_swar_bit_vote_fold) — identical fingerprint values, a fraction of the
    Catalyst planning cost. Layout: fingerprint bit b is bit (31-b) of n1
    for b<32 else bit (63-b) of n2, i.e. bit (63-b) of w = n1<<32 | n2 —
    the ``reverse`` word order."""
    w = F.shiftleft(F.col("n1"), 32).bitwiseOR(F.col("n2"))
    return _swar_bit_vote_fold(base, id_col, w, reverse=True)


def _md5_simhash_fps_cte(table: str, text_col: str, id_col: str) -> str:
    """Shared WITH-chain computing ``md5_simhash_fingerprints`` as a
    ``fps({id_col}, fp)`` CTE — one generator feeding both the dedup-groups
    oracle and the hamming-pairs oracle so the bit layout cannot drift."""
    hv = ",\n           ".join(
        f"instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS hv{i}" for i in range(16)
    )
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (hv{b // 4} & {2 ** (3 - b % 4)}) <> 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    masks = [(1 << b) if b < 63 else -(2**63) for b in range(64)]
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({m} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b, m in enumerate(masks)
    )
    return f"""
    WITH base AS (
        SELECT {id_col}, unnest(list_distinct(string_split_regex(trim({text_col}), '\\s+'))) AS t
        FROM {table}
    ), h AS (
        SELECT {id_col}, md5(t) AS h FROM base
    ), hv AS (
        SELECT {id_col},
           {hv}
        FROM h
    ), votes AS (
        SELECT {id_col},
           {votes}
        FROM hv GROUP BY {id_col}
    ), fps AS (
        SELECT {id_col}, {fp} AS fp FROM votes
    )"""


def md5_simhash_oracle_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB SQL computing exactly ``md5_simhash_fingerprints`` grouped into
    dedup groups — generated from the same bit layout so the two can never
    drift apart."""
    return f"""{_md5_simhash_fps_cte(table, text_col, id_col)}
    SELECT fp, COUNT(*) AS n_docs, MIN({id_col}) AS canonical_id
    FROM fps GROUP BY fp
    """


def md5_simhash_hamming_oracle_sql(
    max_hamming: int = 3, table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB oracle for ``md5_simhash_near_dup_pairs``: brute-force hamming
    join over the same fingerprints. The Spark side bands; banding with
    num_bands > max_hamming is LOSSLESS by pigeonhole, so the banded result
    equals this all-pairs form exactly."""
    return f"""{_md5_simhash_fps_cte(table, text_col, id_col)}
    SELECT a.{id_col} AS a_id, b.{id_col} AS b_id,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


def md5_simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 4,
) -> DataFrame:
    """SimHash hamming-ball near-duplicate pairs via BANDING — the scale
    path past exact-fingerprint grouping: split the 64-bit fingerprint into
    ``num_bands`` chunks, self-join on (band, chunk) — pigeonhole: a pair
    within ``max_hamming`` < num_bands differing bits must agree on at
    least one whole band, so candidate recall is 100% and the
    bit_count-verify makes the result EXACT, equal to the all-pairs oracle.
    The join shuffles (band, 16-bit chunk, id) rows, never text; at 100 TB
    candidates ≈ true near-dups, not the pair space."""
    bits_per_band = 64 // num_bands
    mask = (1 << bits_per_band) - 1
    # lazy checkpoint: both sides of the band self-join consume fps, and AQE
    # does not reliably reuse the 64-aggregate exchange — materializing the
    # (id, fp) table (16 bytes/doc) halves the fingerprint work and is the
    # right shape at scale anyway (compute fingerprints once, band many ways)
    fps = md5_simhash_fingerprints(df, text_col, id_col).localCheckpoint(eager=False)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("fp"), b * bits_per_band).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for b in range(num_bands)
    ]
    banded = fps.select(id_col, "fp", F.explode(F.array(*bands)).alias("bb")).select(
        id_col, "fp", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _hex_prefix_int_sql(expr: str, n_chars: int = 8) -> str:
    """Engine-neutral SQL turning the first ``n_chars`` hex chars of
    ``expr`` into an integer (polynomial build from instr lookups — DuckDB
    has no conv(); Spark evaluates the same string identically)."""
    terms = [
        f"(instr('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (n_chars - 1 - i)}"
        for i in range(n_chars)
    ]
    return "(" + " + ".join(terms) + ")"


#: Rolling-fingerprint constants: base prime and modulus chosen so every
#: intermediate (acc*B + h with acc < P < 2^31, B < 2^20, h < 2^28) stays
#: far below 2^63 — exact in any BIGINT engine.
ROLL_B = 1000003
ROLL_P = 2147483647


def md5_rolling_fingerprint(text_col) -> F.Column:
    """Order-SENSITIVE rolling content fingerprint, engine-portable: each
    token's 28-bit md5 prefix feeds a left-fold polynomial hash
    ``acc = (acc*B + h) mod P``. Unlike the set-shaped simhash/minhash
    pins, token ORDER changes this value — it is the portable analogue of
    ``textstats.fingerprint`` (the xxhash64 perf path) and shares its
    dedup-key use. One interpreted HOF pass per row (pin query, not the
    hot path)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    hs = F.transform(
        tokens(c), lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long")
    )
    return F.aggregate(
        hs, F.lit(0).cast("long"), lambda acc, h: (acc * F.lit(ROLL_B) + h) % F.lit(ROLL_P)
    )


def md5_rolling_fingerprint_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB SQL replaying ``md5_rolling_fingerprint`` exactly: the same
    28-bit md5 prefixes folded by list_reduce with the same (B, P)."""
    hexpr = _hex_prefix_int_sql("md5(t)", 7)
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS tk FROM {table}
    ), hs AS (
        SELECT {id_col}, list_transform(tk, t -> {hexpr}) AS hs FROM toks
    )
    SELECT {id_col},
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, h) -> (acc * {ROLL_B} + h) % {ROLL_P}) AS fp
    FROM hs
    """


def connected_components(
    edges: DataFrame, a_col: str = "a_id", b_col: str = "b_id", max_iters: int = 30
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by iterative
    min-label propagation: every node repeatedly takes the smallest label
    among itself and its neighbors until nothing changes, so each component
    converges to its minimum node id. This turns pair output (MinHash-LSH,
    SimHash banding, blocked cosine) into canonical dedup groups — the step
    between "found similar pairs" and "kept one document per group".

    Returns (node, label) for every node that appears in an edge; label is
    the component's canonical (minimum) id.

    Scale shape (r12 — DELTA propagation): the first round is computed
    directly as label(dst) = min(dst, min neighbor) — one groupBy over the
    symmetric edge list, which removes the labels-init ``distinct`` (a
    full |E| exchange) and round 1's identity join (labels_0 is the
    identity map, so joining it into the edge list moved |E| rows for
    nothing). Every later round shuffles contributions ONLY from nodes
    whose label changed last round: labels are monotone decreasing, so an
    unchanged src's contribution was already folded into dst's min in the
    round where src last changed (induction invariant: after round k,
    label_k(dst) <= label_{k-1}(src) for every edge — contributions from
    unchanged nodes are re-derivable from that inequality plus
    monotonicity). On dedup-shaped graphs the changed frontier collapses
    after round 1, so rounds x |E| shuffle bytes become |E| + frontier —
    the label-propagation analog of star contraction's geometric shrink.
    Contributions with label >= dst are pruned before the shuffle
    (label(dst) <= dst always holds after round 1). Pointer doubling
    (label := label(label), a label-table self-join, never the edge list)
    is unchanged — O(log diameter) rounds on chain-shaped graphs; doubling
    changes count as "changed" for the next frontier, so acceleration and
    delta tracking compose. Convergence = zero changed rows, one action
    per round exactly like the old change-sum check. ``localCheckpoint``
    cuts lineage each round so the plan does not grow with iterations.
    Measured (the r12 A/B script in commit 580b237, interleaved min-of-5
    on the real sf0.1 pair graph, 444,872 edges): 2.92s vs 2.99s for the pre-r12 form — local
    parity (this graph is clique-shaped, the frontier IS ~the edge list
    for its single delta round), adopted for the rounds x |E| -> |E| +
    frontier shuffle-byte cut on any graph whose diameter exceeds 2."""
    # DISK_ONLY checkpoints: the symmetric edge list and per-round label
    # tables are each read back once per round — sequential disk reads —
    # while MEMORY_AND_DISK materialization of a 50M+-row edge set under a
    # modest heap is exactly what OOMed the x100 scale run (checkpoint
    # block storage competes with the distinct's execution memory). Heap
    # stays bounded at ANY edge volume; sf0.1 cost is unmeasurable.
    from pyspark.storagelevel import StorageLevel

    # MEASURED AND REJECTED (r12 A/B, commit 580b237): pre-partitioning sym by
    # src before the checkpoint read 3.45s -> 3.15s min-of-5 on the sf0.1
    # pair graph, but the formatted round plan disproves the intended
    # mechanism — a PySpark localCheckpoint comes back as a Scan
    # ExistingRDD with UNKNOWN partitioning (the before/after round plans
    # kept in commit 580b237 are identical: the join
    # still exchanges the sym side), so the delta was pre-clustered
    # shuffle-write locality/noise, not a removed exchange. At cluster
    # scale the repartition would ADD one full edge-list exchange at setup
    # with no per-round reuse — rejected. (A two-propagation-steps-per-
    # materialized-round variant also measured worse: 4.7s vs 3.45s —
    # deeper per-action plans cost more than the saved actions.) At
    # runtime AQE broadcast-converts the changed-frontier side while it
    # fits, so the per-round edge movement is the round-1 groupBy plus
    # each delta round's surviving contributions; the geometric
    # EDGE-SET-shrink alternative is connected_components_star.
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    # Fused round 1: min over the closed neighborhood, one |E| shuffle.
    # (F.least with the group key is legal inside agg — the key is constant
    # per group.)
    labels = (
        sym.groupBy("dst")
        .agg(F.least(F.min("src"), F.col("dst")).alias("label"))
        .select(F.col("dst").alias("node"), "label")
    )
    # Pointer doubling: label := label(label). Labels are node ids, so one
    # extra label-table self-join (small — never the edge list) jumps two
    # hops per round: O(log diameter) edge shuffles instead of
    # O(diameter) — the difference on adversarial chain-shaped graphs;
    # neutral on clique-shaped dedup graphs. Monotone (label(label) <=
    # label), so delta tracking below counts doubling moves as "changed".
    l2 = labels.select(F.col("node").alias("n2"), F.col("label").alias("l2"))
    # lazy checkpoint: still cuts lineage, but the materializing job is
    # the convergence/frontier count below — one job per round, not two
    labels = (
        labels.join(l2, labels.label == l2.n2, "left")
        .select("node", F.coalesce("l2", "label").alias("label"))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    changed = labels.where(F.col("label") != F.col("node"))
    if changed.count() == 0:
        return labels
    for _ in range(max_iters):
        # Delta round: only last round's changed nodes contribute, and only
        # contributions that can still lower the receiver (label < dst,
        # since label(dst) <= dst) reach the shuffle.
        contrib = (
            sym.join(changed.withColumnRenamed("node", "src"), "src")
            .where(F.col("label") < F.col("dst"))
            .select("dst", "label")
        )
        cand = contrib.groupBy("dst").agg(F.min("label").alias("cand"))
        merged = labels.join(cand, labels.node == cand.dst, "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("cand", "label")).alias("label"),
        )
        l2 = merged.select(F.col("node").alias("n2"), F.col("label").alias("l2"))
        merged = (
            merged.join(l2, merged.label == l2.n2, "left")
            .select("node", "old", F.coalesce("l2", "label").alias("label"))
            .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        )
        changed = merged.where(F.col("label") != F.col("old")).select("node", "label")
        n_changed = changed.count()
        labels = merged.select("node", "label")
        if n_changed == 0:
            break
    return labels


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round: every node links its strictly-larger neighbors
    to the minimum of its closed neighborhood. ``sym`` must hold both edge
    directions. Emits a deduplicated (src, dst) edge list."""
    mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges are oriented large→small, then every node
    links itself and its not-larger neighbors to the minimum neighbor.
    Emits a deduplicated (src, dst) edge list with src > dst."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = oriented.join(mins, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    own = mins.select("src", F.col("m").alias("dst"))
    return relink.union(own).where(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    edges: DataFrame, a_col: str = "a_id", b_col: str = "b_id", max_iters: int = 50
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the skew-robust alternative to min-label propagation
    (``connected_components``). Same contract: (node, label) for every node
    in an edge, label = component minimum id.

    Why keep both: label propagation shuffles the FULL edge list every
    round, so its cost is rounds × |E| even when most of the graph settled
    early. Star contraction rewrites the edge list itself — each round's
    shuffle is the CURRENT edge set, which collapses geometrically (provably
    O(log^2 n) rounds, ~5 in practice), so late rounds are near-free. On
    adversarial shapes (long chains, high-degree hubs from boilerplate
    near-dup text) this is the variant that holds up; ``near_dup_groups``
    vs ``near_dup_groups_star`` run both against one oracle.

    Convergence: the edge multiset is a fixed point exactly when the graph
    is a forest of stars pointing at component minima. Detected by an
    order-insensitive xxhash64 checksum + count — one 1-row aggregate per
    round, no anti-join."""
    from pyspark.storagelevel import StorageLevel

    # DISK_ONLY for the same reason as connected_components: per-round
    # edge sets are read once each; heap stays bounded at any edge volume.
    e = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    prev = None
    for _ in range(max_iters):
        big = _large_star(sym)
        # lazy: the convergence aggregate right below materializes the round
        e = _small_star(big).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        cur = (row["n"], row["h"])
        if cur == prev:
            break
        prev = cur
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Fixed point = stars: src→dst is node→component-min; roots label themselves.
    out = (
        e.select(F.col("src").alias("node"), F.col("dst").alias("label"))
        .union(e.select(F.col("dst").alias("node"), F.col("dst").alias("label")))
        .distinct()
    )
    # Self-loop-only nodes: the src != dst prefilter drops them from the
    # contraction, but the contract ("every node that appears in an edge")
    # and the label-prop twin both keep them (found by the graph fuzz —
    # LSH pair output never emits self-pairs, so this is contract parity,
    # not a production path). Shuffle cost is the self-loop row count.
    loops = (
        edges.where(F.col(a_col) == F.col(b_col))
        .select(F.col(a_col).alias("node"))
        .distinct()
    )
    return out.union(
        loops.join(out, "node", "left_anti").select("node", F.col("node").alias("label"))
    )


def bbit_minhash_similarity(
    df: DataFrame,
    block_col: str,
    b: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """b-bit MinHash similarity estimates (Li & König, CACM 2011): keep only
    the lowest ``b`` bits of each of ``num_perm`` minhash values —
    num_perm·b bits per doc instead of num_perm·64 — and unbias the
    matched-bit fraction with E[match] = J + (1-J)/2^b, i.e.
    J_hat = (m - 2^-b) / (1 - 2^-b). The storage win is what lets a
    100 TB corpus keep its signature matrix in memory; precision at the
    same storage budget beats fewer full-width permutations. Pair
    comparison is within blocks (same bounded-block contract as the other
    quadratic forms). Returns (a_id, b_id, jac_est)."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    mask = (1 << b) - 1
    compact = sigs.select(
        id_col, F.transform("sig", lambda h: h.bitwiseAND(F.lit(mask))).alias("bsig")
    )
    blocks = df.select(F.col(id_col), F.col(block_col))
    compact = compact.join(blocks, id_col)
    a = compact.alias("a")
    c = compact.alias("b")
    matched = F.size(F.filter(F.zip_with(F.col("a.bsig"), F.col("b.bsig"), lambda x, y: x == y), lambda t: t))
    frac = matched / F.lit(num_perm)
    correction = 1.0 / (1 << b)
    jac_est = F.greatest((frac - F.lit(correction)) / F.lit(1.0 - correction), F.lit(0.0))
    out = (
        a.join(
            c,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.round(jac_est, 4).alias("jac_est"),
        )
    )
    if max_block_rows is not None:
        guard = bounded_block_guard(
            df, block_col, max_block_rows, "bbit_minhash_similarity",
            "Use minhash_near_dup_pairs (banded LSH) for unbounded blocks.",
        )
        out = _with_guard(out, guard)
    return out


def banded_hamming_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """Generic banded hamming-ball self-join over ANY 64-bit fingerprint
    table — the fingerprint-agnostic core of ``md5_simhash_near_dup_pairs``,
    reused by the perceptual-hash (multimodal) dedup path. Pigeonhole:
    max_hamming < num_bands makes the banding lossless, so the result
    equals the all-pairs hamming join exactly. Shuffles (band, chunk, id)
    rows, never payloads."""
    if 64 % num_bands != 0:
        raise ValueError(
            f"banded_hamming_pairs: num_bands={num_bands} must divide 64 "
            f"(bands are fixed-width bit slices of the 64-bit fingerprint)"
        )
    if max_hamming >= num_bands:
        raise ValueError(
            f"banded_hamming_pairs: pigeonhole losslessness requires "
            f"max_hamming < num_bands, got max_hamming={max_hamming}, "
            f"num_bands={num_bands} — a pair differing in every band would be "
            f"silently missed; raise num_bands (must divide 64) or lower max_hamming"
        )
    bits_per_band = 64 // num_bands
    mask = (1 << bits_per_band) - 1
    f = fps.select(F.col(id_col), F.col(fp_col).alias("fp")).localCheckpoint(eager=False)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("fp"), b * bits_per_band).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for b in range(num_bands)
    ]
    banded = f.select(id_col, "fp", F.explode(F.array(*bands)).alias("bb")).select(
        id_col, "fp", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )
