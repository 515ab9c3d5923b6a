"""Text-analysis operators for training-data pipelines (extension surface):
token counting, quality scoring, language-ID heuristics, fingerprinting.

All pure Column expressions (whole-stage codegen); no Python UDFs — at 100 TB
the per-document work runs entirely JVM-side in the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Minimal per-language stopword profiles for the n-gram/stopword LID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "es": ["el", "la", "y", "los", "de", "un"],
}


def tokens(col) -> Column:
    """Whitespace tokenization (regex split on ``\\s+`` of trimmed text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def stopword_hits(toks: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio(col, lang: str = "en") -> Column:
    toks = tokens(col)
    return F.round(stopword_hits(toks, lang) / F.size(toks), 4)


def quality_class(col) -> Column:
    """Coarse quality bucket from length + stopword ratio — the shape of a
    pretraining quality filter (short docs and stopword-free docs score low)."""
    toks = tokens(col)
    n = F.size(toks)
    ratio = stopword_hits(toks, "en") / n
    return (
        F.when(n < 10, "too_short")
        .when(ratio >= F.lit(0.05), "good")
        .otherwise("low_signal")
    )


def lang_id(col) -> Column:
    """Stopword-profile language ID with a deterministic tie rule
    (en ≥ de ≥ fr ≥ es precedence; CJK codepoints force zh)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    hits = {lang: stopword_hits(toks, lang) for lang in STOPWORDS}
    return (
        F.when(c.rlike("[\\u4e00-\\u9fff]"), "zh")
        .when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]), "en")
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )


def fingerprint(col) -> Column:
    """Deterministic 64-bit document fingerprint (content hash of the
    token-normalized text) — cheap exact-dup key."""
    return F.xxhash64(F.array_join(tokens(col), " "))


def profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document text profile."""
    toks = tokens(text_col)
    return df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.length(text_col).alias("n_chars"),
        stopword_ratio(text_col).alias("stop_ratio"),
        lang_id(text_col).alias("pred_lang"),
        quality_class(text_col).alias("quality"),
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(col) -> Column:
    """BPE-ish pre-tokenization: letter runs, digit runs, and single
    punctuation marks (the coarse split BPE vocabularies start from). The
    alternation is leftmost-first in both Java regex and RE2, so counts are
    engine-portable. Scan-stage expression — no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def compression_ratio_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document zlib compression ratio — the classic repetition /
    low-entropy quality signal (highly repetitive or templated text
    compresses far below natural prose; near-random noise barely
    compresses at all). zlib lives in Python, so this is an Arrow-batched
    ``mapInPandas`` stage: text streams through executor-side record
    batches, compressed sizes come back as typed columns, nothing touches
    the driver. Level is pinned (6) so the ratio is deterministic across
    runs and platforms (zlib output is specified per level).

    Returns (id, n_bytes, n_compressed, ratio rounded to 4dp)."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("n_compressed", T.IntegerType()),
            T.StructField("ratio", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf[text_col].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            n = raw.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n.astype("int32"),
                    "n_compressed": comp.astype("int32"),
                    "ratio": (comp / n.where(n > 0, 1)).round(4),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema)


def nfc_normalize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unicode NFC normalization of a text column (Arrow-batched
    mapInPandas over python's unicodedata — Spark has no built-in unicode
    normalizer). Returns (id, text_nfc, changed). Run BEFORE any
    hash-based dedup: the same visible string in NFC vs NFD forms hashes
    differently, so un-normalized corpora under-deduplicate. At 100 TB the
    normalization rides the scan stage batch-by-batch; nothing shuffles."""
    import unicodedata

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def norm(batches):
        for pdf in batches:
            out = pdf[text_col].map(lambda t: unicodedata.normalize("NFC", t) if t is not None else None)
            yield pd.DataFrame({id_col: pdf[id_col], "text_nfc": out, "changed": out != pdf[text_col]})

    return df.select(id_col, text_col).mapInPandas(
        norm, f"{id_col} {id_type}, text_nfc string, changed boolean"
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document for a fixed term query (Lucene idf
    form: ln((N - df + 0.5)/(df + 0.5) + 1)). Returns (id, score), one row
    per doc containing ≥1 query term.

    ONE tokenize scan feeds both doc lengths and term frequencies; the
    per-term document frequencies and the 1-row (avgdl, N) corpus stats
    join in as broadcasts; the per-(doc, term) score is a scan-stage
    expression summed per doc. At scale nothing here is wider than
    (doc × query term): the corpus shuffles once on the id for lengths,
    query terms are filtered at the scan, and stats broadcast."""
    toks = df.select(id_col, F.explode(tokens(text_col)).alias("term"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n"))
    tf = (
        toks.filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    part = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(part).alias("score"))
    )


def bm25_multi_scores(
    df: DataFrame,
    query_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id: str = "query_id",
    term_col: str = "term",
    k1: float = 1.2,
    b: float = 0.75,
    part_dp: int | None = 6,
) -> "DataFrame":
    """Multi-query BM25 over an inverted-posting composition — the
    production lexical leg of hybrid retrieval (bm25_scores generalized
    from one fixed term list to a (query_id, term) TABLE of queries).
    Returns (query_id, id, score): one row per (query, doc containing ≥1
    of that query's terms).

    Same scan shape as bm25_scores: ONE tokenize pass feeds doc lengths
    and term frequencies; the tf table is restricted at the scan to the
    UNION of all queries' terms (a broadcast semi join — query vocabularies
    are tiny next to the corpus); per-term document frequencies and the
    1-row (avgdl, N) stats broadcast. The only corpus-sized shuffle is the
    doc-length groupBy. Candidate width is Σ_q (docs containing q's terms)
    — the classical posting-list cost, never |queries| × |corpus|.

    Cross-engine determinism (``part_dp``): each per-(query, doc, term)
    contribution is rounded HALF_UP to part_dp decimals and accumulated as
    a scaled BIGINT, so the per-doc sum is order-independent — float
    summation order across postings would otherwise differ between engines
    at the last ulp and flip rounded ranking frontiers. 1e-6 quantization
    of each BM25 term is far below any ranking-meaningful signal.
    ``part_dp=None`` keeps raw double accumulation (fastest, engine-local
    use)."""
    toks = df.select(id_col, F.explode(tokens(text_col)).alias(term_col))
    # dl and tf are each consumed TWICE below (dl by stats and the posting
    # join, tf by dfreq and the posting join); without a lineage cut every
    # consumer re-runs the tokenize+explode corpus pass, so one action paid
    # ~4 corpus scans (r11 verdict: the "7-scan" hybrid plan). Both tables
    # are SMALL (dl: one row per doc; tf: postings restricted to the query
    # vocabulary), so a lazy localCheckpoint dedupes the subtree at the
    # cost of materializing a few MB — no new shuffle, values untouched
    # (measured by the r12 A/B script in commit 580b237, interleaved min-of-5 at sf0.1,
    # lex leg 1.62s -> 1.44s, outputs asserted identical; at scale the
    # win is tokenize CPU x fewer corpus passes).
    dl = (
        toks.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n"))
    vocab = query_terms.select(term_col).distinct()
    tf = (
        toks.join(F.broadcast(vocab), term_col, "semi")
        .groupBy(id_col, term_col)
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy(term_col).agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    part = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    # Distinct (query_id, term) before the posting join: a duplicate term
    # row in a query would otherwise fan out and double-count that term's
    # contribution (round-10 ADVICE #4). The query table is tiny — the
    # distinct costs nothing next to the corpus scan.
    scored = (
        tf.join(
            F.broadcast(query_terms.select(query_id, term_col).distinct()), term_col
        )
        .join(F.broadcast(dfreq), term_col)
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    if part_dp is None:
        return scored.groupBy(query_id, id_col).agg(F.sum(part).alias("score"))
    scale = float(10 ** part_dp)
    q = F.round(part * scale, 0).cast("long")
    return scored.groupBy(query_id, id_col).agg(
        (F.sum(q) / scale).alias("score")
    )


def rrf_fuse(
    lists: list,
    k: int = 5,
    k_rrf: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> "DataFrame":
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    ranked retrieval lists: fused(d) = Σ over lists containing d of
    1/(k_rrf + rank_d) — the standard hybrid-retrieval combiner (dense ANN
    + lexical BM25) because it needs NO score calibration between rankers,
    only ranks. Returns the top-k fused (query, id, rrf, rank).

    Cross-engine determinism: each term 1/(k_rrf + rank) is one correctly-
    rounded divide of exact integers, and with two lists the sum is a
    single IEEE add — commutative, so aggregation order cannot matter;
    with >2 lists, last-ulp order effects are possible and the fused score
    should be rounded before comparison (the workload form uses two).

    Duplicate tolerance: a malformed input list carrying the same (query,
    doc) twice would double-count its 1/(k_rrf+rank) term AND inflate
    n_lists, silently corrupting the fusion — so each list is first
    reduced to its BEST (minimum) rank per (query, doc). Well-formed
    ranker output (one row per doc, as the dense/lexical legs produce) is
    unchanged; the dedup is one extra groupBy over an already-tiny
    queries × k candidate set.

    Scale shape: inputs are already tiny (queries × k rows each — the
    expensive part was the rankers); the fusion is one groupBy + window
    over that candidate set. At 100 TB the rankers bound the cost (IVF-PQ
    for the dense leg, BM25 over an inverted posting agg for the lexical
    leg); fusion stays queries × Σk rows regardless of corpus size."""
    from functools import reduce

    sel = [
        df.groupBy(F.col(query_col), F.col(id_col))
        .agg(F.min(F.col(rank_col)).alias("__r"))
        .select(
            F.col(query_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k_rrf) + F.col("__r")).cast("double")).alias("__t"),
        )
        for df in lists
    ]
    allc = reduce(lambda a, b: a.unionAll(b), sel)
    fused = allc.groupBy(query_col, id_col).agg(
        F.round(F.sum("__t"), 6).alias("rrf"), F.count(F.lit(1)).alias("n_lists")
    )
    w = Window.partitionBy(query_col).orderBy(F.desc("rrf"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_col, id_col, "rrf", F.col("n_lists").cast("int").alias("n_lists"), "rank")
    )
