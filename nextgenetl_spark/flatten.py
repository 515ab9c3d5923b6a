"""Recursive nested-record flattening engine (Y1-Y3, SURVEY.md §2.10).

Reproduces the semantics of the reference's clinical-case flattener
(BQ_Table_Building/build_gdc_api_clinical_program_tables.py):

- Y1 ``flatten_case_entry`` (:749-843): each configured field group (a
  dotted path into the case tree, e.g. ``cases.diagnoses.treatments``)
  becomes a table of flat rows; every child row carries the base id
  (case_id) and its immediate parent field group's id; column names are
  mangled ``prefix__field``; excluded fields are pruned.
- Y2 ``merge_single_entry_fgs`` (:867-894) + ``find_program_structure``
  (:296-365): a field group whose max per-parent cardinality across the
  whole program is 1 is inlined into its parent table instead of emitting
  a child table.
- Y3 ``get_record_counts`` (:896-939): each one-to-many field group adds a
  zero-filled ``prefix__count`` column on its parent table.

Spark design — this is where the rewrite pays off:
- The case tree is ONE DataFrame with ArrayType(StructType) columns (from
  ``read_jsonl``/``records_to_df``); no per-record python recursion.
- Structure analysis (max cardinality per group) is one aggregate over
  ``F.size`` of each array path — a single distributed job, not a driver
  loop over every case.
- Child tables are explode-chains that carry the id columns along; counts
  come straight from ``F.size`` on the parent's array column — no
  count-then-join shuffle at all.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class FlattenConfig:
    """Field-group configuration (the reference's API_PARAMS FIELD_CONFIG /
    FG_CONFIG shape, reference: build_gdc_api_clinical_program_tables.py:
    769-772)."""

    base: str  # base field group name, e.g. "cases"
    id_keys: dict  # field group path -> id field name, e.g. {"cases": "case_id", "cases.diagnoses": "diagnosis_id"}
    excluded: dict = field(default_factory=dict)  # path -> [field, ...]
    prefixes: dict = field(default_factory=dict)  # path segment -> short prefix (default: segment itself)

    def prefix_for(self, path: str) -> str:
        segs = path.split(".")[1:]  # base segment is unprefixed
        return "__".join(self.prefixes.get(s, s) for s in segs)

    def colname(self, path: str, fieldname: str) -> str:
        p = self.prefix_for(path)
        return f"{p}__{fieldname}" if p else fieldname

    def table_name(self, path: str) -> str:
        return path.replace(".", "_")


def _array_struct_paths(schema: T.StructType, base: str) -> list:
    """All dotted paths (rooted at base) whose type is array<struct>."""
    out = []

    def walk(st: T.StructType, prefix: str):
        for f in st.fields:
            if isinstance(f.dataType, T.ArrayType) and isinstance(f.dataType.elementType, T.StructType):
                path = f"{prefix}.{f.name}"
                out.append(path)
                walk(f.dataType.elementType, path)

    walk(schema, base)
    return out


def program_structure(df: DataFrame, config: FlattenConfig) -> dict:
    """Max cardinality of every array-of-struct field group across the whole
    input — the merge-vs-separate-table decision input (Y2). One aggregate
    job; at 100 TB this is a partial-aggregated scan, nothing shuffles but
    per-group maxima."""
    paths = _array_struct_paths(df.schema, config.base)
    if not paths:
        return {}
    aggs = []
    for p in paths:
        rel = p.split(".")[1:]
        # size of nested arrays: explode ancestors lazily via transform-chain;
        # for depth 1 it's just size(col). For deeper paths, take the max
        # size over the parent arrays with nested aggregate expressions.
        expr = _max_size_expr(rel)
        aggs.append(F.max(expr).alias(p))
    row = df.agg(*aggs).collect()[0]
    return {p: (row[p] or 0) for p in paths}


def _max_size_expr(rel_path: list) -> Column:
    """Column expr: max cardinality of the array at rel_path within one base
    record (e.g. for ["diagnoses","treatments"]: the max size(treatments)
    over elements of diagnoses)."""
    head = rel_path[0]
    if len(rel_path) == 1:
        return F.coalesce(F.size(F.col(head)), F.lit(0))

    def nested_max(arr: Column, rest: list) -> Column:
        if len(rest) == 1:
            sizes = F.transform(arr, lambda x: F.coalesce(F.size(x.getField(rest[0])), F.lit(0)))
        else:
            sizes = F.transform(arr, lambda x: nested_max(x.getField(rest[0]), rest[1:]))
        return F.coalesce(F.array_max(sizes), F.lit(0))

    return nested_max(F.col(head), rel_path[1:])


def _single_cols(
    elem: Column,
    elem_type: T.StructType,
    path: str,
    config: FlattenConfig,
    structure: dict,
    counts: bool,
) -> list:
    """Columns contributed to the closest one-to-many ancestor's table by an
    inlined single-entry group at ``path`` — RECURSIVE, because the
    reference merges every single-entry field group into
    ``get_parent_fg(tables, fg)``, the nearest ancestor that is itself a
    one-to-many table, cascading through single-entry parents
    (build_gdc_api_clinical_program_tables.py:867-894), and attaches every
    one-to-many group's count column the same way (:896-939). A
    single-under-single chain therefore inlines all the way up, and a
    one-to-many group under an inlined single parent lands its __count on
    this ancestor (found by the flatten differential fuzz; previously the
    nested single's fields were silently dropped).

    Primitive-array fields (array<long/string/...>, NOT array<struct>) are
    intentionally emitted as raw array columns of the ancestor table, the
    same way a primitive array at the base or in a child table passes
    through untouched — they are values, not field groups, so they never
    spawn child tables or counts. This is a deliberate, uniform rule
    (round-5 ADVICE asked for it to be pinned); the flatten differential
    fuzz now generates primitive-array fields at every nesting position
    and the row-wise oracle carries them as plain lists."""
    cols: list = []
    for sub in elem_type.fields:
        sub_path = f"{path}.{sub.name}"
        if isinstance(sub.dataType, T.ArrayType) and isinstance(sub.dataType.elementType, T.StructType):
            n = structure.get(sub_path, 0)
            if counts and n > 1:
                cols.append(
                    F.coalesce(F.size(elem.getField(sub.name)), F.lit(0)).alias(
                        config.colname(sub_path, "count")
                    )
                )
            elif 0 < n <= 1:
                cols.extend(
                    _single_cols(
                        F.try_element_at(elem.getField(sub.name), F.lit(1)),
                        sub.dataType.elementType,
                        sub_path,
                        config,
                        structure,
                        counts,
                    )
                )
            continue
        if sub.name in config.excluded.get(path, []):
            continue
        cols.append(elem.getField(sub.name).alias(config.colname(path, sub.name)))
    return cols


def flatten(df: DataFrame, config: FlattenConfig, counts: bool = True) -> dict:
    """Nested base DataFrame → {table_name: DataFrame} per the reference's
    flatten + merge + counts pipeline. The base table carries inlined
    single-entry groups and ``__count`` columns; each one-to-many group
    becomes a child table with (base_id, parent_id, fields...)."""
    structure = program_structure(df, config)
    base_id = config.id_keys[config.base]
    one_to_many = {p for p, n in structure.items() if n > 1}
    single = {p for p, n in structure.items() if 0 < n <= 1}

    tables: dict = {}

    # ---- base table: scalars + inlined single-entry groups + counts -------
    base_cols: list = []
    for f in df.schema.fields:
        path = f"{config.base}.{f.name}"
        if isinstance(f.dataType, T.ArrayType) and isinstance(f.dataType.elementType, T.StructType):
            if path in single:
                base_cols.extend(
                    _single_cols(
                        F.try_element_at(F.col(f.name), F.lit(1)),
                        f.dataType.elementType,
                        path,
                        config,
                        structure,
                        counts,
                    )
                )
            if counts and path in one_to_many:
                base_cols.append(
                    F.coalesce(F.size(F.col(f.name)), F.lit(0)).alias(config.colname(path, "count"))
                )
        elif isinstance(f.dataType, T.StructType):
            # plain struct = cardinality-1 record: always inlined (reference
            # models these as single-entry field groups, e.g. demographic)
            for sub in f.dataType.fields:
                if sub.name in config.excluded.get(path, []):
                    continue
                base_cols.append(F.col(f.name).getField(sub.name).alias(config.colname(path, sub.name)))
        else:
            if f.name in config.excluded.get(config.base, []):
                continue
            base_cols.append(F.col(f.name))
    tables[config.table_name(config.base)] = df.select(*base_cols)

    # ---- child tables: one explode-chain per one-to-many group ------------
    for path in sorted(one_to_many):
        tables[config.table_name(path)] = _child_table(df, config, path, structure, counts)

    return tables


def _child_table(df: DataFrame, config: FlattenConfig, path: str, structure: dict, counts: bool) -> DataFrame:
    """Explode down to ``path``, carrying base id + immediate parent id —
    the Y1 parent-id propagation."""
    segs = path.split(".")[1:]
    base_id = config.id_keys[config.base]

    cur = df.select(F.col(base_id).alias(base_id), F.explode(segs[0]).alias("__n"))
    cur_path = f"{config.base}.{segs[0]}"
    parent_id_col = F.lit(None)
    parent_id_name = None
    for seg in segs[1:]:
        pid_key = config.id_keys[cur_path]
        parent_id_name = config.colname(cur_path, pid_key)
        cur = cur.select(
            base_id,
            F.col("__n").getField(pid_key).alias(parent_id_name),
            F.explode(F.col("__n").getField(seg)).alias("__m"),
        ).withColumnRenamed("__m", "__n")
        cur_path = f"{cur_path}.{seg}"

    node = F.col("__n")
    out_cols = [F.col(base_id)]
    if parent_id_name is not None:
        out_cols.append(F.col(parent_id_name))
    node_type = cur.schema["__n"].dataType
    for sub in node_type.fields:
        sub_path = f"{path}.{sub.name}"
        if isinstance(sub.dataType, T.ArrayType) and isinstance(sub.dataType.elementType, T.StructType):
            if counts and sub_path in structure and structure[sub_path] > 1:
                out_cols.append(
                    F.coalesce(F.size(node.getField(sub.name)), F.lit(0)).alias(config.colname(sub_path, "count"))
                )
            elif sub_path in structure and 0 < structure[sub_path] <= 1:
                out_cols.extend(
                    _single_cols(
                        F.try_element_at(node.getField(sub.name), F.lit(1)),
                        sub.dataType.elementType,
                        sub_path,
                        config,
                        structure,
                        counts,
                    )
                )
            continue
        if sub.name in config.excluded.get(path, []):
            continue
        out_cols.append(node.getField(sub.name).alias(config.colname(path, sub.name)))
    return cur.select(*out_cols)


def melt_quant_matrix(df: DataFrame, gene_col: str, study_name: str | None = None) -> DataFrame:
    """The PDC-specific melt: value-column headers are
    ``aliquot_run_metadata_id:aliquot_submitter_id`` pairs; output one row
    per (gene, aliquot) with the header split back apart (reference:
    :502-580; header split :536-544)."""
    value_cols = [c for c in df.columns if c != gene_col]
    long = df.unpivot([gene_col], value_cols, "aliquot_header", "protein_abundance_log2ratio")
    out = long.select(
        F.split(F.col("aliquot_header"), ":").getItem(0).alias("aliquot_run_metadata_id"),
        F.split(F.col("aliquot_header"), ":").getItem(1).alias("aliquot_submitter_id"),
        F.col(gene_col).alias("gene_symbol"),
        F.col("protein_abundance_log2ratio").cast("double"),
    )
    if study_name is not None:
        out = out.withColumn("study_name", F.lit(study_name))
    return out
