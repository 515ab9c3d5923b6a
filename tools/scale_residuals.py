"""xN scale datapoints for the four adjudicated >2x bench residuals that
lacked one (round-9 verdict ask #4): phash_near_dup, simhash_md5_dedup,
ngram_counts, hybrid_rrf_retrieval. Same in-plan replication discipline as
tools/scale_smoke.py (replica id appended to ids, text salted with it so
replicas are near- but not exact dups); walls printed per factor so a
superlinear curve is visible, plus join-strategy node counts at each
factor (the scale_relational.py plan-flip check).

The md5-pin entries run their scan stage LIVE here (the bench stages it as
an ingest-time artifact): the curve then bounds the FULL path — if the
full path is linear, the staged path is too.

    python tools/scale_residuals.py [factors ...]     # default: 1 5 20
"""

from __future__ import annotations

import json
import re
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nextgenetl_spark.catalog import load
from nextgenetl_spark.operators import dedup as D
from nextgenetl_spark.operators import textstats as TS
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark

JOIN_NODES = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
)


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


def _ngram_counts(d):
    """ngram_counts workload body (workloads/text.py) verbatim."""
    toks = TS.tokens("text")
    shifted1 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)))
    shifted2 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(1)))
    z = F.zip_with(toks, shifted1, lambda a, b: F.concat_ws(" ", a, b))
    z = F.zip_with(z, shifted2, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(z, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
    return (
        d.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


def _simhash_md5(d):
    """simhash_md5_dedup body with the md5 token scan run LIVE (the bench
    stages it; the live form upper-bounds the staged one)."""
    tok_md5 = F.transform(F.array_distinct(TS.tokens("text")), lambda t: F.md5(t))
    toks = F.transform(
        tok_md5,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("n1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("n2"),
        ),
    )
    base = d.select("doc_id", F.explode_outer(toks).alias("t")).select(
        "doc_id", F.col("t.n1").alias("n1"), F.col("t.n2").alias("n2")
    )
    return (
        D.md5_simhash_fingerprints_from_hashes(base)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


def _phash(spark, d):
    """phash_near_dup body with the fingerprint stage run LIVE: blob attach
    -> Arrow-batched perceptual hash -> banded hamming join. The planted
    re-encode set stays 25 rows (constant) — the corpus side scales."""
    from nextgenetl_spark.operators.dedup import banded_hamming_pairs
    from nextgenetl_spark.operators.multimodal import attach_blob, perceptual_hash

    variants = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("za")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(variants)
    fps = perceptual_hash(attach_blob(corpus))
    return banded_hamming_pairs(fps, max_hamming=3, num_bands=4)


def _hybrid(d, e):
    """hybrid_rrf_retrieval body (workloads/similarity.py) verbatim: brute
    dense leg + token-overlap lexical leg + rrf fusion."""
    from nextgenetl_spark.operators.similarity import cosine_topk
    from nextgenetl_spark.operators.textstats import rrf_fuse

    q_emb = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c_emb = e.select(F.col("vec_id").alias("doc_id"), "embedding")
    dense = cosine_topk(q_emb, c_emb, k=10, corpus_id="doc_id")

    toks = d.select("doc_id", F.array_distinct(TS.tokens("text")).alias("t"))
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


def _join_profile(df) -> dict:
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    counts: dict = {}
    for m in JOIN_NODES.finditer(plan):
        counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 5, 20]
    spark = get_spark("scale-residuals")
    sf = DEFAULT_SF_DIR
    d0 = load(spark, sf, "documents")
    e0 = load(spark, sf, "embeddings")
    record: dict = {"sf": 0.1, "factors": factors, "results": {}}
    for n in factors:
        d = replicate_docs(d0, n)
        e = replicate_emb(e0, n)
        n_docs = d.count()
        row: dict = {"n_docs": n_docs}
        for name, build in (
            ("ngram_counts", lambda: _ngram_counts(d)),
            ("simhash_md5_dedup", lambda: _simhash_md5(d)),
            ("phash_near_dup", lambda: _phash(spark, d)),
            ("hybrid_rrf_retrieval", lambda: _hybrid(d, e)),
        ):
            df = build()
            plan = _join_profile(df)
            t0 = time.time()
            rows = df.count()
            row[name] = {"wall_s": round(time.time() - t0, 2), "rows": rows, "joins": plan}
        record["results"][f"x{n}"] = row
        print(f"x{n} ({n_docs} docs): " + json.dumps(row), flush=True)
    with open(os.path.join(REPO, "SCALE_RESIDUALS.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print("wrote", os.path.join(REPO, "SCALE_RESIDUALS.json"))


if __name__ == "__main__":
    main()
