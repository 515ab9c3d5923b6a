"""Pipeline-harness workloads (SURVEY.md §3) — the reference's dominant
entry point, exercised inside the driver's oracle gate rather than only in
pytest.

``pipeline_chain`` runs a real YAML config through ``plans.pipeline`` (params
substitution, named-table step chaining, CLUSTER BY rewrite, per-step
materialization — reference: common_etl/utils.py:2099-2162 load_config,
common_etl/support.py:775-821 generic_bq_harness, :1148-1160 cluster rewrite).
``publish_current`` runs the §3.4 compare-then-publish tail (reference:
common_etl/support.py:2025-2123) and returns the ``_current`` table.
"""

from __future__ import annotations

import yaml

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import load
from nextgenetl_spark.plans.pipeline import Pipeline
from nextgenetl_spark.plans.publish import publish_table
from nextgenetl_spark.staging import scratch_dir
from nextgenetl_spark.workloads import workload

_PIPELINE_YAML = """
params:
  min_size: 15
  brand_prefix: "Brand#1"
steps:
  - name: filtered_parts
    dest: filtered_parts
    sql: >
      SELECT p_partkey, p_brand FROM part
      WHERE p_size >= {min_size} AND p_brand LIKE '{brand_prefix}%'
  - name: part_sales
    dest: part_sales
    sql: >
      SELECT f.p_brand, l.l_quantity, l.l_extendedprice
      FROM filtered_parts f JOIN lineitem l ON f.p_partkey = l.l_partkey
    cluster_by: [p_brand]
    materialize: true
  - name: brand_rollup
    dest: brand_rollup
    sql: >
      SELECT p_brand, ROUND(SUM(l_quantity), 2) AS qty,
             ROUND(SUM(l_extendedprice), 2) AS revenue, COUNT(*) AS n
      FROM part_sales GROUP BY p_brand
"""


@workload(
    "pipeline_chain",
    oracle="""
    WITH filtered_parts AS (
        SELECT p_partkey, p_brand FROM part
        WHERE p_size >= 15 AND p_brand LIKE 'Brand#1%'
    ),
    part_sales AS (
        SELECT f.p_brand, l.l_quantity, l.l_extendedprice
        FROM filtered_parts f JOIN lineitem l ON f.p_partkey = l.l_partkey
    )
    SELECT p_brand, ROUND(SUM(l_quantity), 2) AS qty,
           ROUND(SUM(l_extendedprice), 2) AS revenue, COUNT(*) AS n
    FROM part_sales GROUP BY p_brand
    """,
)
def pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step YAML pipeline: param-substituted filter → clustered +
    materialized join → rollup, chained by table name exactly as the
    reference's step loop does. The materialize step is the reference's
    per-step WRITE_TRUNCATE barrier; the non-materialized steps fuse into
    one Catalyst plan. At 100 TB the materialization doubles as the
    resume/inspect point and a reusable shuffle barrier."""
    cfg = yaml.safe_load(_PIPELINE_YAML)
    pipe = Pipeline(spark, warehouse=scratch_dir("ngetl_wh_"))
    pipe.register("part", load(spark, sf_dir, "part"))
    pipe.register("lineitem", load(spark, sf_dir, "lineitem"))
    out = pipe.run(cfg)
    return out["brand_rollup"]


@workload(
    "persisted_view_roundtrip",
    oracle="""
    SELECT n_name AS nation, COUNT(*) AS n_suppliers,
           ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def persisted_view_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 persisted views through the driver gate (reference:
    common_etl/utils.py:716-741 create_view_from_query — a view whose
    DEFINITION outlives the session): the view is created (JSON definition
    persisted under {root}/_views/ + session instantiation), then DROPPED
    from the session catalog to simulate session loss, re-instantiated by
    load_views() from the persisted definition alone, and finally queried
    THROUGH the reloaded view. Views are metadata-only at any scale — the
    round-trip costs two catalog ops and one file write."""
    from nextgenetl_spark.catalog import create_view_from_query, load_views

    root = scratch_dir("ngetl_views_")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    create_view_from_query(
        spark,
        root,
        "supplier_by_nation",
        """
        SELECT n_name AS nation, COUNT(*) AS n_suppliers,
               ROUND(SUM(s_acctbal), 2) AS total_bal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """,
        description="per-nation supplier rollup",
    )
    spark.catalog.dropTempView("supplier_by_nation")  # simulate session loss
    created = load_views(spark, root)
    if "supplier_by_nation" not in created:
        raise AssertionError(f"load_views did not restore the view: {created}")
    return spark.sql("SELECT * FROM supplier_by_nation")


@workload(
    "publish_current",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderpriority
    """,
)
def publish_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare-then-publish tail (§3.4): release r1 (orders before 1997) is
    published, r2 (full corpus, changed data) supersedes it, then an
    identical r3 is correctly skipped — and the ``_current`` parquet is
    returned. Compares run as one tagged UNION ALL group-by with EXCEPT
    DISTINCT semantics (diff.tables_equal), so 'unchanged' costs one
    shuffle, never a row-by-row driver loop."""
    o = load(spark, sf_dir, "orders")

    def profile(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )

    root = scratch_dir("ngetl_pub_")
    r1 = profile(o.filter(F.year("o_orderdate") < 1997))
    publish_table(spark, r1, root, "order_profile", "r1")
    r2 = profile(o)
    res2 = publish_table(spark, r2, root, "order_profile", "r2")
    res3 = publish_table(spark, r2, root, "order_profile", "r3")
    if not res2["published"] or res3["published"]:
        raise AssertionError(f"publish tail misbehaved: r2={res2} r3={res3}")
    return spark.read.parquet(f"{root}/order_profile_current")


@workload(
    "release_report",
    oracle="""
    WITH old AS (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 != 0),
    new AS (SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(15,2)) AS c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey % 7 != 0)
    SELECT 'c_mktsegment' AS added_fields,
           '' AS removed_fields,
           'c_acctbal: double -> decimal(15,2)' AS dtype_changes,
           (SELECT COUNT(*) FROM new WHERE c_custkey NOT IN (SELECT c_custkey FROM old)) AS added_key_count,
           (SELECT COUNT(*) FROM old WHERE c_custkey NOT IN (SELECT c_custkey FROM new)) AS removed_key_count,
           (SELECT COUNT(*) FROM old) AS old_rows,
           (SELECT COUNT(*) FROM new) AS new_rows
    """,
)
def release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-over-release report (SURVEY N10; reference:
    compare_clinical_gdc_api_releases.py:79-136 via INFORMATION_SCHEMA,
    build_gdc_api_clinical_program_tables.py:1217-1363) through the oracle
    gate: two derived releases of `customer` — new release adds a column,
    retypes another, and churns keys — reported as one row of
    added/removed/retyped fields plus key/row deltas. The DataFrame schema
    IS the catalog here, so schema fields come from diff.release_report
    dynamically; the oracle states the expected values."""
    from nextgenetl_spark.diff import release_report as report

    c = load(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 10 != 0).select("c_custkey", "c_name", "c_acctbal")
    new = (
        c.filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey", "c_name", F.col("c_acctbal").cast("decimal(15,2)").alias("c_acctbal"), "c_mktsegment")
    )
    r = report(old, new, "c_custkey")
    row = {
        "added_fields": ",".join(r["added_fields"]),
        "removed_fields": ",".join(r["removed_fields"]),
        "dtype_changes": ",".join(f"{c}: {a} -> {b}" for c, (a, b) in sorted(r["dtype_changes"].items())),
        "added_key_count": r["added_key_count"],
        "removed_key_count": r["removed_key_count"],
        "old_rows": r["row_counts"]["old"],
        "new_rows": r["row_counts"]["new"],
    }
    return spark.createDataFrame(
        [row],
        "added_fields string, removed_fields string, dtype_changes string, "
        "added_key_count long, removed_key_count long, old_rows long, new_rows long",
    )


@workload(
    "csv_load_disposition",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
    FROM supplier
    """,
)
def csv_load_disposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S8 CSV bucket load + write disposition through the driver gate
    (reference: common_etl/support.py:877-965 csv_to_bq with
    WRITE_TRUNCATE / WRITE_APPEND / WRITE_EMPTY): supplier is staged as two
    comma-separated CSV batches; batch A loads into the dest table TWICE
    with mode=overwrite (WRITE_TRUNCATE — the rerun must replace, not
    duplicate), batch B then loads with mode=append (WRITE_APPEND), and a
    final mode=error attempt on the non-empty dest must raise
    (WRITE_EMPTY). The returned table must therefore equal supplier exactly
    — one copy of each half."""
    import os

    import duckdb

    from nextgenetl_spark.sources.tsv import read_tsv
    from nextgenetl_spark.staging import atomic_write
    from nextgenetl_spark.workloads.files import _fixture_dir

    stage = _fixture_dir(sf_dir, "supplier")
    paths = {}
    for half, pred in (("a", "s_suppkey % 2 = 0"), ("b", "s_suppkey % 2 = 1")):
        path = os.path.join(stage, f"supplier_{half}.csv")
        paths[half] = path
        if not os.path.exists(path):
            con = duckdb.connect()
            rows = con.sql(
                f"SELECT s_suppkey, s_name, s_nationkey, s_acctbal "
                f"FROM '{sf_dir}/supplier.parquet' WHERE {pred} ORDER BY s_suppkey"
            ).fetchall()
            body = "s_suppkey,s_name,s_nationkey,s_acctbal\n" + "".join(
                f"{k},{n},{nk},{bal!r}\n" for k, n, nk, bal in rows
            )
            atomic_write(path, body)

    wh = scratch_dir("ngetl_disp_")
    pipe = Pipeline(spark, warehouse=wh)
    pipe.register_builder("load_a", lambda p, step: read_tsv(p.spark, paths["a"], sep=","))
    pipe.register_builder("load_b", lambda p, step: read_tsv(p.spark, paths["b"], sep=","))
    steps = [
        {"name": "load_a1", "dest": "sup", "builder": "load_a", "materialize": True, "mode": "overwrite"},
        {"name": "load_a2", "dest": "sup", "builder": "load_a", "materialize": True, "mode": "overwrite"},
        {"name": "load_b", "dest": "sup", "builder": "load_b", "materialize": True, "mode": "append"},
    ]
    for s in steps:
        pipe.run_step(s)
    # WRITE_EMPTY: a load into the now-populated dest with mode=error must fail
    try:
        pipe.run_step({"name": "load_we", "dest": "sup", "builder": "load_a", "materialize": True, "mode": "error"})
    except Exception:
        pass
    else:
        raise AssertionError("mode=error load into a non-empty dest did not raise")
    return spark.read.parquet(f"{wh}/sup").select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
