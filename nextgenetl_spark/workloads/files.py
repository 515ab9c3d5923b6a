"""File-format reader workloads (S4/S5): deterministic GTF and MAF fixture
files are rendered from the `part` table into a staged dir (atomic,
idempotent), read back through the real readers, and oracle-checked against
the same derivation computed directly in SQL — so the parsers themselves
sit inside the driver's correctness gate, not just pytest."""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import read_parquet_cached
from nextgenetl_spark.staging import atomic_write, scratch_dir, staged

from nextgenetl_spark.sources.gtf import read_gtf
from nextgenetl_spark.sources.maf import read_maf_concat
from nextgenetl_spark.sources.vcf import read_vcf
from nextgenetl_spark.workloads import workload

CALLER_SETS = ["muse", "muse;mutect2", "mutect2;varscan2*", "muse;mutect2;pindel;varscan2"]


def _fixture_dir(sf_dir: str, table: str = "part") -> str:
    """The staged dir of the fixtures derived from ``table``: new table
    content or a package edit gets a new dir. Each fixture writer fills
    its own file into it on first use."""
    return staged("ngetl_fixtures", os.path.join(sf_dir, f"{table}.parquet"), lambda d: None)


def _atomic_write(path: str, content: str) -> None:
    if not os.path.exists(path):
        atomic_write(path, content)


def _parts(sf_dir: str):
    con = duckdb.connect()
    return con.sql(
        f"SELECT p_partkey, p_name FROM '{sf_dir}/part.parquet' ORDER BY p_partkey"
    ).fetchall()


def _gtf_path(sf_dir: str) -> str:
    path = os.path.join(_fixture_dir(sf_dir), "synth.gtf")
    lines = ["#!genome-build synth"]
    for key, name in _parts(sf_dir):
        lines.append(
            f"chr{key % 5 + 1}\tsynth\tgene\t{key * 100 + 1}\t{key * 100 + 50}\t.\t"
            f"{'+' if key % 2 == 0 else '-'}\t.\t"
            f'gene_id "G{key}"; gene_name "{name}";'
        )
    _atomic_write(path, "\n".join(lines) + "\n")
    return path


def _maf_paths(sf_dir: str) -> list[str]:
    d = _fixture_dir(sf_dir)
    paths = []
    for shard in (0, 1):
        path = os.path.join(d, f"sample_{shard}.maf")
        lines = ["#version synth-1.0", "hugo_symbol\tstart_position\tcallers"]
        for key, name in _parts(sf_dir):
            if key % 2 == shard:
                lines.append(f"{name}\t{key * 10}\t{CALLER_SETS[key % 4]}")
        _atomic_write(path, "\n".join(lines) + "\n")
        paths.append(path)
    return paths


@workload(
    "gtf_parse",
    oracle="""
    SELECT 'chr' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS seqname,
           'gene' AS feature,
           CAST(p_partkey * 100 + 1 AS BIGINT)  AS start,
           CAST(p_partkey * 100 + 50 AS BIGINT) AS "end",
           CASE WHEN p_partkey % 2 = 0 THEN '+' ELSE '-' END AS strand,
           'G' || CAST(p_partkey AS VARCHAR) AS gene_id,
           p_name AS gene_name
    FROM part
    """,
)
def gtf_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 GTF parser through the driver gate: 9-column split + `;`-packed
    attribute extraction as one scan-stage projection (reference:
    BQ_Table_Building/build_gtf_bq_table.py:131-215)."""
    df = read_gtf(spark, _gtf_path(sf_dir), attributes=("gene_id", "gene_name"))
    return df.select("seqname", "feature", "start", "end", "strand", "gene_id", "gene_name")


@workload(
    "maf_concat",
    oracle="""
    SELECT p_name AS hugo_symbol,
           CAST(p_partkey * 10 AS VARCHAR) AS start_position,
           'sample_' || CAST(p_partkey % 2 AS VARCHAR) AS file_gdc_id,
           CASE WHEN p_partkey % 4 IN (0, 1, 3) THEN 'Yes' ELSE 'No' END AS muse,
           CASE WHEN p_partkey % 4 IN (1, 2, 3) THEN 'Yes' ELSE 'No' END AS mutect2,
           CASE WHEN p_partkey % 4 = 3 THEN 'Yes' ELSE 'No' END AS pindel,
           CASE p_partkey % 4 WHEN 2 THEN 'Yes*' WHEN 3 THEN 'Yes' ELSE 'No' END AS varscan2
    FROM part
    """,
)
def maf_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/Y6 MAF multi-file concat through the driver gate: globbed scan
    (no driver-side append), file-name provenance via input_file_name(),
    caller-flag expansion incl. the `*` suffix (reference:
    build_open_somatic_mut_bq_table.py:213-304)."""
    df = read_maf_concat(spark, _maf_paths(sf_dir))
    return df.select(
        "hugo_symbol", "start_position", "file_gdc_id", "muse", "mutect2", "pindel", "varscan2"
    )


def _tsv_path(sf_dir: str) -> str:
    """Messy TSV rendered from customer: leading-zero ids (must stay STRING),
    trivial floats (INT64 via normalize), yes/no (BOOL), 'NA'/'none' null
    vocabulary, duplicate 'seg' headers (deduped to seg, seg_1)."""
    path = os.path.join(_fixture_dir(sf_dir), "messy.tsv")
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    lines = ["cust id\tname\tbalance\tactive\tseg\tseg"]
    for key, name, bal, seg in rows:
        lead0 = f"{key:06d}"
        bal_s = str(int(bal)) + ".0" if key % 3 == 0 else f"{bal:.2f}"
        active = ["yes", "no", "NA"][key % 3]
        seg2 = "none" if key % 5 == 0 else seg.lower()
        lines.append(f"{lead0}\t{name}\t{bal_s}\t{active}\t{seg}\t{seg2}")
    _atomic_write(path, "\n".join(lines) + "\n")
    return path


@workload(
    "tsv_infer_load",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS cust_id,
           c_name AS name,
           CASE WHEN c_custkey % 3 = 0 THEN ROUND(CAST(trunc(c_acctbal) AS DOUBLE), 2)
                ELSE ROUND(CAST(CAST(ROUND(c_acctbal, 2) AS VARCHAR) AS DOUBLE), 2) END AS balance,
           CASE c_custkey % 3 WHEN 0 THEN TRUE WHEN 1 THEN FALSE ELSE NULL END AS active,
           c_mktsegment AS seg,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE lower(c_mktsegment) END AS seg_1
    FROM customer
    """,
)
def tsv_infer_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+Y7+Y8+Y9 through the driver gate: a messy TSV (leading-zero ids,
    trivial floats, yes/no booleans, NA/none null vocabulary, duplicate
    headers) round-trips the reference's sanitize→dedupe→infer→normalize→
    cast discipline. The oracle reproduces the EXPECTED post-inference
    values/types directly from the clean customer table: cust_id stays
    STRING, balance is FLOAT64, active is BOOL with NA→NULL, the duplicate
    'seg' header becomes seg_1, 'none' normalizes to NULL."""
    from nextgenetl_spark.sources.tsv import read_tsv

    df = read_tsv(spark, _tsv_path(sf_dir))
    return df.select("cust_id", "name", F.round("balance", 2).alias("balance"), "active", "seg", "seg_1")


@workload(
    "tsv_schema_roundtrip",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS cust_id,
           c_name AS name,
           CASE WHEN c_custkey % 3 = 0 THEN ROUND(CAST(trunc(c_acctbal) AS DOUBLE), 2)
                ELSE ROUND(CAST(CAST(ROUND(c_acctbal, 2) AS VARCHAR) AS DOUBLE), 2) END AS balance,
           CASE c_custkey % 3 WHEN 0 THEN TRUE WHEN 1 THEN FALSE ELSE NULL END AS active,
           c_mktsegment AS seg,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE lower(c_mktsegment) END AS seg_1
    FROM customer
    """,
)
def tsv_schema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-schema load (reference cda_bq_etl/bq_helpers/schema.py:
    85-187): the first read infers types and serializes them as the
    reference's {"fields": [...]} JSON; the returned DataFrame comes from a
    SECOND read that reloads that file instead of inferring — so the oracle
    (identical to tsv_infer_load's) proves schema persist→reload is
    value-identical to inference."""
    from nextgenetl_spark.sources.tsv import read_tsv

    tsv = _tsv_path(sf_dir)
    schema_json = os.path.join(_fixture_dir(sf_dir), "schema_customer.json")
    read_tsv(spark, tsv, schema_path=schema_json)  # infer + persist
    assert os.path.exists(schema_json)
    df = read_tsv(spark, tsv, schema_path=schema_json)  # reload, no inference
    return df.select("cust_id", "name", F.round("balance", 2).alias("balance"), "active", "seg", "seg_1")


def _vcf_path(sf_dir: str) -> str:
    path = os.path.join(_fixture_dir(sf_dir), "synth.vcf")
    lines = [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2",
    ]
    for key, _name in _parts(sf_dir):
        vid = "." if key % 7 == 0 else f"rs{key}"
        qual = "." if key % 11 == 0 else str(key % 50)
        lines.append(
            f"chr{key % 5 + 1}\t{key * 100 + 1}\t{vid}\tA\tG\t{qual}\tPASS\tDP={key % 100}\t"
            f"GT:DP\t0|1:{key % 30}\t1|1:{key * 2 % 30}"
        )
    _atomic_write(path, "\n".join(lines) + "\n")
    return path


@workload(
    "vcf_parse",
    oracle="""
    WITH s AS (SELECT unnest(['s1', 's2']) AS sample_name)
    SELECT 'chr' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS "CHROM",
           CAST(p_partkey * 100 + 1 AS BIGINT) AS "POS",
           CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE 'rs' || CAST(p_partkey AS VARCHAR) END AS "ID",
           CASE WHEN p_partkey % 11 = 0 THEN NULL ELSE CAST(p_partkey % 50 AS DOUBLE) END AS "QUAL",
           CAST(p_partkey % 100 AS VARCHAR) AS info_DP,
           s.sample_name,
           CASE s.sample_name WHEN 's1' THEN '0|1' ELSE '1|1' END AS "GT",
           CAST(CASE s.sample_name WHEN 's1' THEN p_partkey % 30 ELSE p_partkey * 2 % 30 END AS VARCHAR) AS "DP"
    FROM part CROSS JOIN s
    """,
)
def vcf_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 VCF parser through the driver gate: ##INFO/##FORMAT header
    metadata (bounded driver read), INFO k=v extraction, and the per-sample
    FORMAT melt (one row per sample, keys positioned per-row by the FORMAT
    column) — reference: BQ_Table_Building/build_cabq_vcf.py:336-569."""
    df = read_vcf(spark, _vcf_path(sf_dir))
    return df.select("CHROM", "POS", "ID", "QUAL", "info_DP", "sample_name", "GT", "DP")


def _jsonl_path(sf_dir: str) -> str:
    """JSONL with per-record field variance: 'phone' only on some records
    (union-of-fields inference must keep it), mixed int/string 'code'
    (type lattice → STRING), null-vocabulary values."""
    import json

    path = os.path.join(_fixture_dir(sf_dir), "records.jsonl")
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT c_custkey, c_name, c_nationkey FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    lines = []
    for key, name, nk in rows:
        rec = {"rec_id": key, "name": name, "code": key if key % 2 == 0 else f"C{key}"}
        if key % 3 == 0:
            rec["phone"] = f"555-{key:04d}"
        if key % 5 == 0:
            rec["note"] = "not reported"
        else:
            rec["note"] = f"n{nk}"
        lines.append(json.dumps(rec, sort_keys=True))
    _atomic_write(path, "\n".join(lines) + "\n")
    return path


@workload(
    "jsonl_infer_load",
    oracle="""
    SELECT c_custkey AS rec_id,
           c_name AS name,
           CASE WHEN c_custkey % 2 = 0 THEN CAST(c_custkey AS VARCHAR)
                ELSE 'C' || CAST(c_custkey AS VARCHAR) END AS code,
           CASE WHEN c_custkey % 3 = 0 THEN '555-' || lpad(CAST(c_custkey AS VARCHAR), 4, '0')
                ELSE NULL END AS phone,
           CASE WHEN c_custkey % 5 = 0 THEN NULL
                ELSE 'n' || CAST(c_nationkey AS VARCHAR) END AS note
    FROM customer
    """,
)
def jsonl_infer_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+Y8 through the driver gate: JSONL whose records have varying field
    sets (full-pass union inference keeps the rare 'phone' field), a
    mixed-type 'code' field (lattice resolves INT64+STRING → STRING), and
    null-vocabulary notes ('not reported' → NULL)."""
    from nextgenetl_spark.sources.jsonl import read_jsonl

    df = read_jsonl(spark, _jsonl_path(sf_dir))
    return df.select("rec_id", "name", "code", "phone", "note")


@workload(
    "orc_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, COUNT(*) AS n_suppliers,
           ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth beyond parquet: supplier+nation are written
    to ORC (Spark's built-in second columnar format — predicate pushdown,
    column pruning, and splittable scans work the same way) and the join+agg
    runs over the ORC scan. A reference user staging to a non-parquet lake
    format gets the identical declarative plan; only the scan node differs.
    The write is a one-time staging cost; at 100 TB you'd partition the
    write by a pruning key exactly as with parquet."""
    out = scratch_dir("ngetl_orc_")
    for t in ("supplier", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.mode("overwrite").orc(f"{out}/{t}")
    s = spark.read.orc(f"{out}/supplier")
    n = spark.read.orc(f"{out}/nation")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@workload(
    "partition_pruning",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE year(o_orderdate) = 1996
    GROUP BY o_orderpriority
    """,
)
def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout + partition pruning (SURVEY §4: the
    reference's per-program table splits become partition keys). orders is
    staged partitioned by order year; the year filter then prunes at the
    DIRECTORY level — non-matching partitions are never opened, which at
    100 TB is the difference between scanning one year and scanning all of
    them. The plan audit shows it as PartitionFilters on the scan node; the
    equality filter resolves against partition metadata only.

    The partitioned staging is a ONE-TIME lake-layout step, not part of the
    query — cached per source CONTENT (fingerprint over size+mtime of every
    orders data file, _COMPLETE-markered) so repeated runs measure the
    pruned read, exactly like a real lake where the layout already exists,
    while an in-place regeneration of orders.parquet restages instead of
    silently serving the old lake."""
    stage = staged(
        "ngetl_part",
        os.path.join(sf_dir, "orders.parquet"),
        lambda stage: (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(stage)
        ),
    )
    po = read_parquet_cached(spark, stage)
    return (
        po.filter(F.col("o_year") == 1996)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@workload(
    "schema_evolution",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price,
           CAST(NULL AS VARCHAR) AS o_orderpriority, 'r1' AS release
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, o_orderpriority,
           'r2' AS release
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across release files (the reference's
    release-over-release added-fields reality, SURVEY §5 tier-2 reports):
    release r1 lacks a column that r2 adds; ``mergeSchema`` unions the file
    schemas at read time and pads the missing column with NULL — the lake
    equivalent of unionByName(allowMissingColumns=True), resolved per file
    at scan time with no rewrite of old data. Footer-schema merge is a
    one-time planning cost; the scan itself stays columnar and pruned."""
    stage = scratch_dir("ngetl_evo_")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_orderpriority"
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .drop("o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{stage}/release=r1")
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .write.mode("overwrite")
        .parquet(f"{stage}/release=r2")
    )
    return spark.read.option("mergeSchema", "true").parquet(stage)


def _fixed_width_path(sf_dir: str) -> str:
    """customer rendered as a COBOL-style fixed-width export: custkey
    right-aligned in 8, name left-padded to 20, acctbal %12.2f, segment
    left-padded to 12 — with a header line sliced the same way."""
    path = os.path.join(_fixture_dir(sf_dir), "customer.fw")
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    lines = [f"{'custkey':>8s}{'name':<20s}{'bal':>12s}{'seg':<12s}"]
    for key, name, bal, seg in rows:
        lines.append(f"{key:>8d}{name:<20s}{bal:>12.2f}{seg:<12s}")
    _atomic_write(path, "\n".join(lines) + "\n")
    return path


@workload(
    "fixed_width_load",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name,
           ROUND(c_acctbal, 2) AS bal, c_mktsegment AS seg
    FROM customer
    """,
)
def fixed_width_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (copybook-style) source through the driver gate
    (sources/fixed_width.py): positional substring slicing as scan-stage
    expressions over spark.read.text, header dropped BY VALUE, then the
    same normalize→infer→cast pipeline as TSV — proving a fixed-width
    export of customer loads to the identical typed DataFrame the clean
    table yields (custkey re-infers INT64, bal FLOAT64 through the
    trivial-float normalization, text columns trimmed of pad spaces)."""
    from nextgenetl_spark.sources.fixed_width import read_fixed_width

    df = read_fixed_width(
        spark,
        _fixed_width_path(sf_dir),
        fields=[("custkey", 1, 8), ("name", 9, 20), ("bal", 29, 12), ("seg", 41, 12)],
        skip_leading_rows=1,
    )
    return df.select("custkey", "name", F.round("bal", 2).alias("bal"), "seg")


@workload(
    "info_schema_columns",
    oracle="""
    SELECT table_name,
           CAST(ordinal_position AS INTEGER) AS ordinal_position,
           column_name,
           CASE WHEN data_type LIKE 'TIMESTAMP%' THEN 'TIMESTAMP'
                ELSE data_type END AS data_type,
           is_nullable
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    """,
)
def info_schema_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N10 INFORMATION_SCHEMA.COLUMNS as a queryable table (reference:
    compare_clinical_gdc_api_releases.py:79-136 joins two releases'
    INFORMATION_SCHEMA.COLUMNS to report added/removed/retyped columns).
    The oracle is DuckDB's OWN information_schema over the same views, so
    the type-name vocabulary (BIGINT/INTEGER/DOUBLE/VARCHAR/FLOAT[]/
    TIMESTAMP) is pinned engine-to-engine, not self-referentially."""
    from nextgenetl_spark.catalog import information_schema_columns

    return information_schema_columns(spark, sf_dir)


@workload(
    "info_schema_tables",
    oracle="""
    SELECT c.table_name, CAST(COUNT(*) AS INTEGER) AS n_columns, r.n_rows
    FROM information_schema.columns c
    JOIN (
        SELECT 'region' AS t, COUNT(*) AS n_rows FROM region
        UNION ALL SELECT 'nation', COUNT(*) FROM nation
        UNION ALL SELECT 'customer', COUNT(*) FROM customer
        UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        UNION ALL SELECT 'part', COUNT(*) FROM part
        UNION ALL SELECT 'orders', COUNT(*) FROM orders
        UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        UNION ALL SELECT 'events', COUNT(*) FROM events
        UNION ALL SELECT 'documents', COUNT(*) FROM documents
        UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    ) r ON c.table_name = r.t
    GROUP BY c.table_name, r.n_rows
    """,
)
def info_schema_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """__TABLES__-style inventory (reference support.py table listings +
    BigQuery __TABLES__ row_count): column counts from footers, row counts
    from parquet row-group METADATA — the oracle recomputes row counts the
    hard way (COUNT(*) scans), proving the footer metadata path is exact."""
    from nextgenetl_spark.catalog import information_schema_tables

    return information_schema_tables(spark, sf_dir)


@workload(
    "tsv_export_roundtrip",
    oracle="""
    SELECT c_custkey AS cust_id, c_name AS name, n_name AS nation,
           ROUND(c_acctbal, 2) AS bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def tsv_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 table→TSV export through the driver gate (reference:
    common_etl/support.py:434-469 table→bucket TSV extract): a derived
    table is exported as headered TSV part files by a Pipeline export_csv
    step (distributed write, one file per partition), then read BACK with
    the engine's own read_tsv (multi-file header-drop-by-value + type
    inference) and compared against SQL on the source tables — a
    hash-verified proof the export is lossless, including the
    double→text→double leg."""
    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.plans.pipeline import Pipeline
    from nextgenetl_spark.sources.tsv import read_tsv

    wh = scratch_dir("ngetl_tsvexp_")
    pipe = Pipeline(spark, warehouse=wh)
    pipe.register("customer", load(spark, sf_dir, "customer"))
    pipe.register("nation", load(spark, sf_dir, "nation"))
    pipe.run_step(
        {
            "name": "export",
            "dest": "cust_export",
            "sql": """
                SELECT c_custkey AS cust_id, c_name AS name, n_name AS nation,
                       ROUND(c_acctbal, 2) AS bal
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            """,
            "export_csv": "cust_tsv",
            "sep": "\t",
            "header": True,
        }
    )
    back = read_tsv(spark, os.path.join(wh, "cust_tsv"), sep="\t")
    return back.select("cust_id", "name", "nation", F.round("bal", 2).alias("bal"))


def _time_tsv_path(sf_dir: str) -> str:
    """TSV with the full temporal column family rendered from events:
    DATE ('YYYY-MM-DD'), TIME ('HH:MM:SS' — the reference type Spark lacks),
    TIMESTAMP ('YYYY-MM-DD HH:MM:SS', second precision)."""
    path = os.path.join(_fixture_dir(sf_dir, "events"), "temporal.tsv")
    if os.path.exists(path):
        # skip the full events scan + driver-side fetchall (this runs
        # inside the timed workload)
        return path
    con = duckdb.connect()
    rows = con.sql(
        f"""SELECT event_id, strftime(ts, '%Y-%m-%d'), strftime(ts, '%H:%M:%S'),
                   strftime(ts, '%Y-%m-%d %H:%M:%S')
            FROM '{sf_dir}/events.parquet' ORDER BY event_id"""
    ).fetchall()
    lines = ["event_id\tev_date\tev_time\tev_ts"]
    for eid, d, t, dt in rows:
        lines.append(f"{eid}\t{d}\t{t}\t{dt}")
    _atomic_write(path, "\n".join(lines) + "\n")
    return path


@workload(
    "time_ingest",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS event_id,
           CAST(ts AS DATE) AS ev_date,
           strftime(ts, '%H:%M:%S') AS ev_time,
           date_trunc('second', CAST(ts AS TIMESTAMP)) AS ev_ts
    FROM events
    """,
)
def time_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pin of the documented TIME divergence (SURVEY §1.2;
    reference type detection cda_bq_etl/data_helpers.py:679-695): a TSV with
    DATE / TIME / TIMESTAMP columns infers to DATE → DateType, TIMESTAMP →
    TimestampType, and TIME → **StringType** (Spark has no TimeType — the
    'HH:MM:SS' text round-trips verbatim, never a shifted timestamp). Also
    pins the lattice's ``*_id → STRING`` override (data_helpers.py:318-320):
    the all-digit event_id column stays STRING by name. The inferred types
    are asserted in-workload, so a silent lattice change fails the gate,
    and the oracle re-derives every column from the source events table —
    proving the string-typed TIME column is value-exact."""
    from nextgenetl_spark.schemas import load_schema_types
    from nextgenetl_spark.sources.tsv import read_tsv

    tsv = _time_tsv_path(sf_dir)
    schema_json = os.path.join(_fixture_dir(sf_dir, "events"), "schema_temporal.json")
    df = read_tsv(spark, tsv, schema_path=schema_json)
    types = load_schema_types(schema_json)
    assert types == {
        "event_id": "STRING",  # *_id lattice override — never numeric
        "ev_date": "DATE",
        "ev_time": "TIME",
        "ev_ts": "TIMESTAMP",
    }, f"temporal inference drifted: {types}"
    assert dict(df.dtypes)["ev_time"] == "string"  # the documented divergence
    return df.select("event_id", "ev_date", "ev_time", "ev_ts")
