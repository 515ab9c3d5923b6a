"""Streaming NEAR-duplicate detection against a historical corpus.

``stream_history_antijoin`` (streaming/joins.py) is exact dedup-on-ingest;
this is its fuzzy sibling: each arriving document is MinHash-banded and
probed against a static banded signature index of the already-ingested
corpus, candidates verified by exact shingle-set Jaccard — all STATELESS
stream-static work (projections, explode, two joins), so append mode needs
no watermark and NO state store grows with the stream.

Both functions are compositions of operators/dedup.py's banded-MinHash
stages for one hash family (``XXHASH64``, the fast path, or ``MD5``, the
portable path a DuckDB oracle replays):
- the per-row signature is a Column HOF with identical hash math to the
  batch flat-min aggregates — aggregation is illegal in append-mode
  streams, per-row expressions are not;
- multi-band matches of the same (new, hist) pair are collapsed WITHOUT
  ``dropDuplicates`` (which is stateful on streams, keeping every key
  forever): both sides carry their band-hash arrays, and a pair is emitted
  only from its FIRST shared band — the same candidate-join and verify
  stage the persisted index probe (``query_minhash_index``) runs.

At 100 TB: the history index (id, band, bh) is written bucketed by
(band, bh) so the per-micro-batch probe is a bucket-local join; refreshing
the index needs no query restart (stream-static joins re-read the static
side each micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nextgenetl_spark.operators.dedup import (
    XXHASH64,
    HashFamily,
    _band_rows,
    _carried,
    _probe_history,
    _row_banded,
    _side,
)


def history_index(
    hist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int | None = None,
    num_bands: int | None = None,
    shingle_n: int = 3,
    family: HashFamily = XXHASH64,
) -> tuple[DataFrame, DataFrame]:
    """Static-side index: (hist_id, band, bh) band rows, plus the
    verification table (hist_id, hist_<set> hashed shingles, hist_bhs
    band-hash array — carried so the stream side can re-test earlier
    bands). ``num_perm``/``num_bands`` default to the family's. Built once
    (batch), re-read per micro-batch."""
    num_bands = num_bands or family.num_bands
    banded = _row_banded(
        hist, text_col, id_col, family, num_perm or family.num_perm, num_bands, shingle_n
    )
    verify = _side(banded, id_col, family, "hist")
    return _band_rows(verify, ["hist_id"], _carried("hist_bhs", num_bands)), verify


def near_dup_against_history(
    stream_docs: DataFrame,
    hist_bands: DataFrame,
    hist_verify: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int | None = None,
    num_bands: int | None = None,
    shingle_n: int = 3,
    family: HashFamily = XXHASH64,
) -> DataFrame:
    """(new_id, hist_id, jac) for every arriving document whose shingle-set
    Jaccard with an already-ingested document reaches the threshold.
    ``family`` and the signature shape must match ``history_index``'s."""
    num_bands = num_bands or family.num_bands
    banded = _row_banded(
        stream_docs, text_col, id_col, family, num_perm or family.num_perm, num_bands, shingle_n
    )
    new = _side(banded, id_col, family, "new")
    return _probe_history(new, hist_bands, hist_verify, family, num_bands, threshold)
