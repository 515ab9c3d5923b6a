"""Table comparison / diff suite — the reference's tier-2 test machinery
reimplemented as engine features (SURVEY.md §5: these are product
capabilities, not just tests).

Reference sources:
- primary-key anti-join both directions  CDA/tests/shared_test_functions.py:33-77
- row counts                             :79-116
- per-column symmetric EXCEPT DISTINCT   :118-194
- order-insensitive `;`-concat compare   :196-260
- full-table symmetric diff              common_etl/support.py:2090-2123
- NaN-tolerant new-data check            cda_bq_etl/bq_helpers/lookup.py:650-698
- release-over-release schema/key report build_gdc_api_clinical_program_tables.py:1217-1363

Scale notes: every compare is expressed as distinct/subtract/anti-join or
one tagged group-by — hash shuffles on the compared columns only; nothing
collects except final (small) diff samples and scalar verdicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextgenetl_spark.operators.setops import symmetric_diff


def row_count_compare(old: DataFrame, new: DataFrame) -> dict:
    a, b = old.count(), new.count()
    return {"old": a, "new": b, "equal": a == b}


def key_diff(old: DataFrame, new: DataFrame, key: str) -> dict:
    """Primary keys only in old / only in new (both anti-join directions)."""
    removed = old.select(key).distinct().join(new.select(key).distinct(), key, "left_anti")
    added = new.select(key).distinct().join(old.select(key).distinct(), key, "left_anti")
    return {"removed_keys": removed, "added_keys": added}


def column_diff(old: DataFrame, new: DataFrame, key: str, column: str) -> DataFrame:
    """Per-column symmetric EXCEPT DISTINCT on (key, column) — which keys
    changed in this column, tagged by side."""
    return symmetric_diff(old.select(key, column), new.select(key, column))


def concat_column_equal(old: DataFrame, new: DataFrame, key: str, column: str, sep: str = ";") -> DataFrame:
    """Order-insensitive compare of `;`-packed multi-value columns: rows
    whose VALUE SETS differ (re-ordered but set-equal counts as equal —
    reference: shared_test_functions.py:196-260). Returns the offending keys."""
    def setified(df: DataFrame) -> DataFrame:
        return df.select(
            key, F.array_sort(F.array_distinct(F.split(F.coalesce(F.col(column), F.lit("")), sep))).alias("__set")
        )

    joined = setified(old).alias("o").join(setified(new).alias("n"), key, "full_outer")
    return joined.filter(
        ~(F.col("o.__set").eqNullSafe(F.col("n.__set")))
    ).select(key, F.col("o.__set").alias("old_set"), F.col("n.__set").alias("new_set"))


def _nan_safe(df: DataFrame) -> DataFrame:
    """NaN == NaN for compare purposes (reference: lookup.py:650-698
    table_has_new_data_supports_nans). NOTE: Spark's set operations already
    normalize NaN (NaN equals NaN in EXCEPT/INTERSECT/join keys), unlike
    BigQuery — so compares here are NaN-tolerant even without this rewrite.
    Mapping NaN → NULL additionally makes NaN and NULL interchangeable,
    which the reference's tolerant variant also accepts."""
    cols = []
    for f in df.schema.fields:
        if f.dataType.simpleString() == "double":
            cols.append(F.when(F.isnan(F.col(f.name)), None).otherwise(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def tables_equal(old: DataFrame, new: DataFrame, nan_tolerant: bool = True) -> bool:
    """The publish gate: True when the symmetric EXCEPT DISTINCT diff is
    empty both ways (reference: support.py:2072-2123 compare_two_tables →
    skip republish when identical).

    Computed as one UNION ALL of both sides tagged 1 (old) and 2 (new),
    grouped by every column: a distinct row seen on one side only has
    ``bit_or(tag) != 3``. Grouping compares as the set operations do (NULL
    equals NULL, NaN equals NaN, -0.0 equals 0.0, nested values too), so
    the verdict is the symmetric diff's with one shuffle instead of four."""
    if sorted(old.columns) != sorted(new.columns):
        return False
    o = _nan_safe(old) if nan_tolerant else old
    n = _nan_safe(new.select(*old.columns)) if nan_tolerant else new.select(*old.columns)
    tag = "__side"
    while tag in old.columns:
        tag = "_" + tag
    tagged = o.withColumn(tag, F.lit(1)).union(n.withColumn(tag, F.lit(2)))
    one_sided = tagged.groupBy(*old.columns).agg(F.bit_or(tag).alias(tag)).filter(F.col(tag) != 3)
    return one_sided.limit(1).count() == 0


def full_table_diff(old: DataFrame, new: DataFrame, nan_tolerant: bool = True) -> DataFrame:
    o = _nan_safe(old) if nan_tolerant else old
    n = _nan_safe(new.select(*old.columns)) if nan_tolerant else new.select(*old.columns)
    return symmetric_diff(o, n)


def release_report(old: DataFrame, new: DataFrame, key: str) -> dict:
    """Release-over-release report: added/removed fields, datatype changes,
    added/removed keys (reference: build_gdc_api_clinical_program_tables.py:
    1217-1363; compare_clinical_gdc_api_releases.py:79-136 does the schema
    part via INFORMATION_SCHEMA — here the DataFrame schema IS the catalog)."""
    old_fields = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_fields = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    # One action: both sides' keys in one UNION ALL tagged 1 (old) and 2
    # (new), grouped by key; ``bit_or(tag)`` says which sides hold the key
    # and the per-side counts sum to the row counts (the tagged group-by of
    # tables_equal). A NULL key matches nothing, as in a key join: the extra
    # grouping column keeps each side's NULL keys in a group of their own.
    tag = F.col("__t")
    keys = old.select(F.col(key).alias("__k"), F.lit(1).alias("__t")).unionAll(
        new.select(F.col(key).alias("__k"), F.lit(2).alias("__t"))
    )
    per_key = keys.groupBy("__k", F.when(F.col("__k").isNull(), tag).alias("__null_side")).agg(
        F.bit_or(tag).alias("__sides"),
        F.count_if(tag == 1).alias("__old"),
        F.count_if(tag == 2).alias("__new"),
    )
    row = per_key.agg(
        F.count_if(F.col("__sides") == 2).alias("added"),
        F.count_if(F.col("__sides") == 1).alias("removed"),
        F.coalesce(F.sum("__old"), F.lit(0)).alias("old"),
        F.coalesce(F.sum("__new"), F.lit(0)).alias("new"),
    ).first()
    return {
        "added_fields": sorted(set(new_fields) - set(old_fields)),
        "removed_fields": sorted(set(old_fields) - set(new_fields)),
        "dtype_changes": {
            c: (old_fields[c], new_fields[c])
            for c in set(old_fields) & set(new_fields)
            if old_fields[c] != new_fields[c]
        },
        "added_key_count": row["added"],
        "removed_key_count": row["removed"],
        "row_counts": {"old": row["old"], "new": row["new"], "equal": row["old"] == row["new"]},
    }


def duplicate_keys(df: DataFrame, keys: list) -> DataFrame:
    """``GROUP BY keys HAVING COUNT(*) > 1`` duplicate detection
    (reference: CDA/compare_and_publish_tables.py:245-255)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt")).filter(F.col("cnt") > 1)
