"""Fixed-width file ingestion — the mainframe/registry export format that
predates delimiters (clinical registries still ship it), loaded with the
same normalize→infer→cast discipline as the TSV path (reference
data_helpers.py:220-277 inference, :447-557 normalization — the reference's
pipeline is format-agnostic once rows become string fields; this module is
the slicing front-end).

Scale design: the body load is ``spark.read.text`` (line-splittable exactly
like CSV), and every field is a scan-stage ``substring`` projection — no
UDF, no driver pass over the data. The header filter and the whole
slice→normalize→cast projection are one parsed SQL select. Only inference
samples the file head driver-side (bounded read, same contract as
sources/tsv.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nextgenetl_spark.functions.text import normalize_value_sql, select_sql, sql_ident, sql_string
from nextgenetl_spark.inference import dedupe_headers, infer_tsv_types, make_name_bq_friendly
from nextgenetl_spark.sources.tsv import _first_file_local, cast_sql


def _slice_line(line: str, fields: list[tuple[str, int, int]]) -> list[str]:
    return [line[start - 1 : start - 1 + length].strip() for _, start, length in fields]


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, int]],
    skip_leading_rows: int = 0,
    sample_lines: int = 5000,
    normalize: bool = True,
) -> DataFrame:
    """Load a fixed-width file. ``fields`` is [(name, start, length)] with
    1-based starts (the COBOL/copybook convention). Field values are sliced
    with scan-stage ``substring`` + ``trim``, then run through the same
    normalize→infer→cast pipeline as ``read_tsv``: types are inferred from
    a bounded head sample, values normalized (null vocabulary, trivial
    floats), and columns cast — so a fixed-width export and a TSV export of
    the same table load to identical DataFrames."""
    names = dedupe_headers([make_name_bq_friendly(n) for n, _, _ in fields])

    # bounded head sample for inference (driver-side, first file only)
    sample_rows: list[list[str]] = []
    with open(_first_file_local(path), encoding="utf-8") as fh:
        for i, line in enumerate(fh):
            if i >= skip_leading_rows + sample_lines:
                break
            if i < skip_leading_rows:
                continue
            sample_rows.append(_slice_line(line.rstrip("\n"), fields))
    types = infer_tsv_types(sample_rows, names)

    lines = spark.read.text(path)
    where = None
    if skip_leading_rows:
        # drop header lines by VALUE (distributed reads have no row order):
        # a header line is one whose sliced fields equal the field names'
        # raw spelling — callers with data rows that collide should pass
        # headerless files, same contract as read_tsv
        from itertools import islice

        with open(_first_file_local(path), encoding="utf-8") as fh:
            header_lines = [ln.rstrip("\n") for ln in islice(fh, skip_leading_rows)]
        if len(header_lines) < skip_leading_rows:
            raise ValueError(
                f"{path}: cannot read {skip_leading_rows} header line(s) — "
                f"first file has only {len(header_lines)} line(s)"
            )
        where = f"NOT `value` IN ({', '.join(sql_string(ln) for ln in header_lines)})"

    cols = []
    for name, (_, start, length) in zip(names, fields):
        c = f"trim(substring(`value`, {int(start)}, {int(length)}))"
        c = f"CASE WHEN {c} = '' THEN NULL ELSE {c} END"
        if normalize:
            c = normalize_value_sql(c)
        cols.append(f"{cast_sql(c, types[name])} AS {sql_ident(name)}")
    return select_sql(lines, cols, where)
