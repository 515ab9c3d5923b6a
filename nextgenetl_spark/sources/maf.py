"""MAF (Mutation Annotation Format) multi-file concatenation (S4/Y6).

Reference: BQ_Table_Building/build_open_somatic_mut_bq_table.py:235-304 —
many per-sample MAF TSVs are concatenated into one table, with
(a) a ``file_gdc_id`` column synthesized from each source file's name, and
(b) the `;`-packed ``callers`` string expanded into one Yes/No/Yes* column
per known caller (:213-233).

Spark design: one globbed ``spark.read.csv`` (parallel scan, no driver-side
concat), ``input_file_name()`` for provenance, per-caller flag expressions,
all in one parsed SQL select.
The reference's threaded BucketPuller + sequential file append collapses
into the scan itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nextgenetl_spark.functions.text import caller_flag_sql, select_sql, sql_ident, sql_string

DEFAULT_CALLERS = ("muse", "mutect2", "pindel", "varscan2")


def read_maf_concat(
    spark: SparkSession,
    paths: str | list,
    callers: tuple = DEFAULT_CALLERS,
    callers_col: str = "callers",
    file_id_col: str = "file_gdc_id",
    sep: str = "\t",
    comment: str = "#",
) -> DataFrame:
    """Read MAF file(s) → one DataFrame with file-provenance and caller
    flags. MAF headers start with '#version' comment lines; the first
    non-comment row is the header."""
    df = spark.read.options(sep=sep, header=True, comment=comment).csv(paths)
    names = df.columns
    stem = sql_string(r"([^/]+?)(\.maf)?(\.tsv)?(\.gz)?$")
    new = {file_id_col: f"regexp_extract(input_file_name(), {stem}, 1)"}
    if callers_col in names:
        new.update((c, caller_flag_sql(sql_ident(callers_col), c)) for c in callers)
    # withColumn semantics: a new column replaces a same-named one (the
    # default case-insensitive resolver) in place; the rest append
    cols = []
    for c in names:
        hit = next((n for n in new if n.lower() == c.lower()), None)
        cols.append(sql_ident(c) if hit is None else f"{new.pop(hit)} AS {sql_ident(hit)}")
    cols += [f"{e} AS {sql_ident(n)}" for n, e in new.items()]
    return select_sql(df, cols)
