"""String / multi-value / array expression builders.

The reference models multi-valued attributes as `;`-packed strings and
decodes them in SQL (`SPLIT`, `STRING_AGG`, delimiter-count idiom,
`REGEXP_EXTRACT` ladders). Each helper below is the Spark-native equivalent,
kept as pure Column or SQL expressions so they compile into whole-stage
codegen. The ingest-side helpers (``normalize_value_sql``,
``caller_flag_sql``) are SQL text templates: a reader splices them into one
``select_sql`` projection, the DataFrame API's plan at a constant number of
JVM round trips however wide the file is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nextgenetl_spark.inference import NULL_VOCAB


def sql_string(value: str) -> str:
    """Spark SQL string literal for ``value`` under the default parser, which
    unescapes backslash sequences inside quotes."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier: a name with dots, spaces or
    backticks refers to one top-level column, never a nested field."""
    return "`" + name.replace("`", "``") + "`"


def string_agg(col, sep: str = ";", *, sort: bool = True) -> Column:
    """BigQuery ``STRING_AGG(col, sep [ORDER BY col])``.

    Reference sites: plain STRING_AGG
    (CDA/GDC/create_tables_file_metadata_gdc.py:190-194) and the
    ORDER-BY-inside-aggregate variant (:146,154,166). Unordered STRING_AGG is
    nondeterministic, so the default here sorts — matching how the reference's
    own diff suite compares these columns order-insensitively
    (CDA/tests/shared_test_functions.py:196-260).
    """
    collected = F.collect_list(col)
    if sort:
        collected = F.array_sort(collected)
    return F.array_join(collected, sep)


def string_agg_distinct(col, sep: str = ";", *, sort: bool = True) -> Column:
    """``STRING_AGG(DISTINCT col, sep)``
    (reference: BQ_Table_Building/build_open_somatic_mut_bq_table.py:486-487).
    collect_set gives map-side partial aggregation, so the shuffle carries the
    deduplicated set, not every row."""
    collected = F.collect_set(col)
    if sort:
        collected = F.array_sort(collected)
    return F.array_join(collected, sep)


def delim_count(col, delim: str = ";") -> Column:
    """Number of delimiters in a packed multi-value string — the reference's
    ``LENGTH(TRIM(x)) - LENGTH(TRIM(REPLACE(x, ';', '')))`` idiom
    (GDC-Metadata-Processing/build_release_metadata_bq_tables_v2.py:84-90)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(F.trim(c)) - F.length(F.trim(F.regexp_replace(c, delim, "")))).cast("int")


def concat_to_multi(col, sep: str = ";", max_count: int = 8, *, distinct: bool = True) -> Column:
    """Join ≤N values with ``sep``; collapse to literal ``'multi'`` beyond the
    cap (reference: CDA/GDC/create_tables_file_metadata_gdc.py:44-75,
    MAX_CONCAT_COUNT=8; also mergeStrings,
    GDC-Metadata-Processing/scripts/queryByCase.py:1042-1060).

    Aggregate version: apply over collect_set/collect_list of a group.
    """
    arr = F.array_sort(F.collect_set(col) if distinct else F.collect_list(col))
    return F.when(F.size(arr) > max_count, F.lit("multi")).otherwise(F.array_join(arr, sep))


def caller_flag_sql(packed: str, caller: str, sep: str = ";") -> str:
    """SQL text of the per-caller Yes/No(/Yes*) flag over the SQL expression
    ``packed`` (reference: build_open_somatic_mut_bq_table.py:213-233 — e.g.
    ``callers='muse;mutect2*'`` → muse='Yes', mutect2='Yes*', pindel='No')."""
    parts = f"split({packed}, {sql_string(sep)})"
    return (
        f"CASE WHEN array_contains({parts}, {sql_string(caller + '*')}) THEN 'Yes*' "
        f"WHEN array_contains({parts}, {sql_string(caller)}) THEN 'Yes' ELSE 'No' END"
    )


def caller_flag(packed: str, caller: str, sep: str = ";") -> Column:
    """``caller_flag_sql`` over the column named ``packed``."""
    return F.expr(caller_flag_sql(sql_ident(packed), caller, sep))


def split_offset(col, delim: str, idx: int) -> Column:
    """``SPLIT(x, d)[OFFSET(n)]``
    (reference: CDA/PDC/create_tables_quant_data_matrix_pdc.py:652-653)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, delim).getItem(idx)


def leaf_name(col, delim: str = "\\.") -> Column:
    """``ARRAY_REVERSE(SPLIT(path,'.'))[OFFSET(0)]`` — leaf of a dotted path
    (reference: compare_clinical_gdc_api_releases.py:124)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, delim), -1)


def zip_split(a, b, delim: str = ":") -> Column:
    """Zip two parallel delimiter-packed strings into array<struct> — the
    ``UNNEST(a) WITH OFFSET LEFT JOIN UNNEST(b) WITH OFFSET USING(OFFSET)``
    idiom (reference: build_regulome_explorer_sql_import_v2.py:498-533)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.arrays_zip(F.split(ca, delim), F.split(cb, delim))


_NULL_VOCAB_SQL = ", ".join(sql_string(v) for v in NULL_VOCAB)


def normalize_value_sql(expr: str) -> str:
    """SQL text of the reference's string-level value normalizer
    (cda_bq_etl/data_helpers.py:447-486) over the SQL expression ``expr``:
    trimmed, null-marker vocabulary → NULL, yes/true and no/false → the
    strings 'True'/'False'. Type coercion (trivial floats → int) lives in
    inference.py and the readers' casts. Readers splice this into one
    ``select_sql`` projection, so a wide file costs one parse instead of a
    JVM round trip per Column call."""
    t = f"trim({expr})"
    low = f"lower({t})"
    return (
        f"CASE WHEN {low} IN ({_NULL_VOCAB_SQL}) THEN NULL "
        f"WHEN {low} IN ('yes', 'true') THEN 'True' "
        f"WHEN {low} IN ('no', 'false') THEN 'False' ELSE {t} END"
    )


def normalize_value(col: str) -> Column:
    """``normalize_value_sql`` over the column named ``col``."""
    return F.expr(normalize_value_sql(sql_ident(col)))


def select_sql(df: DataFrame, exprs: list[str], where: str | None = None) -> DataFrame:
    """``SELECT exprs FROM df [WHERE where]`` as one parsed statement.
    ``selectExpr`` ships its argument list one py4j call per element, so its
    build cost grows with the column count; one SQL text costs the same few
    calls at any width and optimizes to the same plan. ``df`` is bound
    through a temporary view that ``spark.sql`` drops before returning."""
    def escape(sql: str) -> str:
        # spark.sql(..., src=df) formats the text with str.format
        return sql.replace("{", "{{").replace("}", "}}")

    text = "SELECT " + escape(", ".join(exprs)) + " FROM {src}"
    if where is not None:
        text += " WHERE " + escape(where)
    return df.sparkSession.sql(text, src=df)
