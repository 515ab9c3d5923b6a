"""Join helpers (SURVEY.md §2.3).

All reference joins are equi-joins; BigQuery picks the physical strategy.
Here we lean on Catalyst + AQE: dimension tables under the broadcast
threshold broadcast automatically, big facts shuffle on their keys, and AQE
converts to broadcast at runtime when a filtered side turns out small.
``hint_broadcast=True`` forces it for sides we *know* are small at any SF
(region/nation-scale dims) so the plan is stable without relying on stats.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_join(df: DataFrame, keys_df: DataFrame, on) -> DataFrame:
    """``IN (subquery)`` / ``EXISTS`` membership (reference:
    CDA/GDC/create_tables_file_metadata_gdc.py:137-140;
    CDA/PDC/create_tables_quant_data_matrix_pdc.py:147-156)."""
    return df.join(keys_df, on, "left_semi")


def anti_join(df: DataFrame, keys_df: DataFrame, on) -> DataFrame:
    """``NOT IN (subquery)`` / ``NOT EXISTS`` (reference:
    gdc_clinical_resources/test_data_integrity.py:79-85). BQ NOT IN with
    NULLs yields no rows; the reference always guards nulls first, so the
    anti-join (null-safe) is the intended semantics."""
    return df.join(keys_df, on, "left_anti")


def self_join_roles(df: DataFrame, role_a: str, role_b: str, on_expr) -> DataFrame:
    """One table joined to itself under two roles — tumor/normal aliquot,
    file/index-file (reference: build_open_somatic_mut_bq_table.py:100-133;
    CDA/GDC/create_tables_per_sample_file_gdc.py:267-303).

    ``on_expr`` is a callable (left_alias, right_alias) -> Column.
    """
    a = df.alias(role_a)
    b = df.alias(role_b)
    return a.join(b, on_expr(role_a, role_b))


def coalesced_left_legs(base: DataFrame, legs: Sequence[tuple[DataFrame, Sequence[str] | str]], value_col: str, out_col: str) -> DataFrame:
    """Two (or more) LEFT JOIN legs whose value columns are COALESCEd —
    the ``USING(col)`` + COALESCE idiom
    (reference: CDA/ICDC/create_tables_visit_icdc.py:33-52)."""
    out = base
    leg_cols = []
    for i, (leg, on) in enumerate(legs):
        alias = f"__leg{i}_{value_col}"
        out = out.join(leg.withColumnRenamed(value_col, alias), on, "left")
        leg_cols.append(alias)
    out = out.withColumn(out_col, F.coalesce(*[F.col(c) for c in leg_cols]))
    return out.drop(*leg_cols)


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    on: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster equi-join: salt the big side's key with a random shard id
    and replicate the small side across all shards, so one hot key spreads
    over ``num_salts`` tasks instead of stalling a single reducer.

    AQE's skew-join split (enabled in session.py) handles moderate skew at
    runtime; explicit salting is for the pathological case — one key holding
    a double-digit percentage of the table — where even a split partition is
    a straggler. Replication cost: small side × num_salts rows, so keep the
    replicated side dimension-sized.
    """
    salt = (F.rand(seed=42) * num_salts).cast("int")
    big_salted = big.withColumn("__salt", salt)
    small_rep = skewed_small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = big_salted.join(small_rep, [on, "__salt"], how)
    return out.drop("__salt")


def skew_decision(
    cms_big: DataFrame,
    cms_small: DataFrame | None = None,
    hot_share_threshold: float = 0.10,
) -> dict:
    """The planner decision behind salted_join_auto, answered purely from
    mergeable CMS sketch tables (operators/agg.py cms_build — ≤depth×width
    rows each; at 100 TB these are per-source/day ingest artifacts that
    union-merge by summing cnt, so the decision never re-scans the fact
    table). Returns {hot_share_ub, total_rows, est_join_size, salt}.

    ``hot_share_ub`` is a SOUND upper bound on the hottest key's share of
    the big side: every row of the hottest key lands in that key's one
    bucket per hash row, so for each hash row d, max_bucket(cnt) ≥
    f(hottest); the MIN across depth rows keeps the bound while shedding
    collision mass (Cormode & Muthukrishnan 2005 — the same concentration
    argument as the point query). ``total_rows`` is exact (Σcnt of any one
    hash row). ``est_join_size`` is cms_inner_product's never-under
    estimate of |big ⋈ small| when cms_small is given — the output-size
    answer a planner pairs with the skew answer.

    Decision: salt iff hot_share_ub ≥ hot_share_threshold. The default
    0.10 is the measured regime boundary (SKEW_AUTO_AB.json / BASELINE
    §4.4): at the ×20 fixture's 40% hot share, plain SMJ straggles
    5.6-14.3× and salting flattens to ~1.5×, while on a uniform key
    (share ~1/|keys|) salting only pays its num_salts× dim replication —
    AQE's runtime split already covers the moderate band in between, so
    the explicit-salt trigger sits at the docstring's classic
    "one key holds a double-digit percentage" boundary. Being an upper
    bound, collisions can only push a borderline case TOWARD salting —
    the cheap direction to be wrong in (a needless salt costs ~1.5×; a
    missed hot key costs a straggler). Driver-side cost: two 1-row
    aggregates over sketch tables (hot bound + exact total fuse into one
    pass — every hash row's Σcnt is the same total, so min(Σ) reads it
    without a second action)."""
    row = (
        cms_big.groupBy("d")
        .agg(F.max("cnt").alias("mx"), F.sum("cnt").alias("tot"))
        .agg(F.min("mx").alias("hot"), F.min("tot").alias("total"))
        .first()
    )
    hot_ub = row["hot"] or 0
    total = row["total"] or 0
    est_join = None
    if cms_small is not None:
        from nextgenetl_spark.operators.agg import cms_inner_product

        est_join = cms_inner_product(cms_big, cms_small).first()["est_join_size"]
    share = (hot_ub / total) if total else 0.0
    return {
        "hot_share_ub": round(share, 6),
        "total_rows": int(total),
        "est_join_size": None if est_join is None else int(est_join),
        "salt": share >= hot_share_threshold,
    }


def salted_join_auto(
    big: DataFrame,
    small: DataFrame,
    on: str,
    num_salts: int = 16,
    how: str = "inner",
    cms_big: DataFrame | None = None,
    cms_small: DataFrame | None = None,
    depth: int = 4,
    width: int = 1024,
    hot_share_threshold: float = 0.10,
    decision_out: dict | None = None,
    estimate_join_size: bool = False,
    sample_fraction: float | None = None,
) -> DataFrame:
    """salted_join with the salt decision made AUTOMATICALLY from CMS
    sketches (round-10 verdict ask #4: the estimator layer's planner
    consumer). Semantics-preserving either way — the branch only changes
    the physical distribution — so callers get plain-join results with
    straggler protection that engages exactly when a key is hot enough to
    need it, and skip the num_salts× dim-replication tax when it isn't.

    Sketches: pass pre-built ``cms_big``/``cms_small`` (ingest artifacts —
    the 100-TB shape, where the decision is corpus-scan-free); when absent
    they're built here with one scan of each side (the fact-table scan is
    the price of not having staged sketches — still cheaper than one
    straggler task owning 40% of the shuffle). The salt decision needs
    ONLY the big side's sketch; the small side is sketched only when a
    pre-built ``cms_small`` is passed or ``estimate_join_size`` asks for
    the cms_inner_product diagnostic in the decision record. Decision
    inputs and the measured 0.10 threshold: see skew_decision.
    ``decision_out``: pass a dict to receive the decision record for
    logging/audit.

    ``sample_fraction``: build the inline sketch from a Bernoulli ROW
    sample of the big side (``df.sample``, fixed seed). The decision
    compares SHARES, which a uniform row sample estimates unbiasedly, so
    f=0.1 cuts the inline sketch's hash work ~10× while the hot bound
    stays sound in expectation (SKEW_AUTO_AB.json measures both).
    Row-level randomness is the RIGHT draw here and a hash draw would be
    the WRONG one: every row of one key carries the same key bytes, so an
    md5-threshold draw keeps or drops whole KEYS — dropping the hot key
    zeroes the very share being measured (the correlated-draw trap in
    reverse). The cost is that membership depends on partitioning, which
    a planner heuristic tolerates and an oracle-checked result never
    would. Don't sample when the big side is small enough that the
    f·|big| sample would hold only a few hundred rows — share noise at
    tiny counts can cross the threshold in either direction; ignored when
    ``cms_big`` is passed."""
    from nextgenetl_spark.operators.agg import cms_build

    built = []
    if cms_big is None:
        keys = big.select(F.col(on).cast("string").alias("k"))
        if sample_fraction is not None and 0 < sample_fraction < 1:
            keys = keys.sample(fraction=sample_fraction, seed=42)
        cms_big = cms_build(keys, "k", depth=depth, width=width).persist()
        built.append(cms_big)
    if cms_small is None and estimate_join_size:
        cms_small = cms_build(small.select(F.col(on).cast("string").alias("k")), "k",
                              depth=depth, width=width).persist()
        built.append(cms_small)
    # persist the locally-built sketches (≤depth×width rows each) so the
    # decision's two actions don't re-scan the join inputs; released as
    # soon as the decision is made
    try:
        decision = skew_decision(cms_big, cms_small, hot_share_threshold)
    finally:
        for c in built:
            c.unpersist()
    if decision_out is not None:
        decision_out.update(decision)
    if decision["salt"]:
        return salted_join(big, small, on, num_salts=num_salts, how=how)
    return big.join(small, on, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    tiebreaker: str | None = None,
    prefix: str = "r_",
) -> DataFrame:
    """As-of join: attach to every left row the LATEST right row with
    ``right_ts <= left_ts`` for the same key (LEFT semantics: unmatched
    left rows keep NULLs). Spark has no native ASOF JOIN; the naive rewrite
    (range-predicate join + row_number) is a per-key cross product. This is
    the scale-correct composition: tag both inputs, UNION them, and run a
    single ``last(ignorenulls)`` window per key —

        cost = ONE shuffle of |left|+|right| rows on the key and one sort,
        independent of how many right rows precede each left row.

    Ties: a right row at exactly ``left_ts`` matches (inclusive); among
    right rows sharing one timestamp the greatest ``tiebreaker`` wins
    (pass one for determinism — e.g. a unique id).

    ``right_cols`` (default: all non-key, non-ts columns) are attached as
    ``{prefix}{col}``, plus ``{prefix}ts`` = the matched right timestamp.
    """
    from pyspark.sql import Window

    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    pay_fields = [F.col(right_ts).alias("__rts")] + [F.col(c) for c in right_cols]
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.struct(*pay_fields).alias("__rpay"),
        F.lit(0).alias("__side"),
    )
    rpay_type = r_tagged.schema["__rpay"].dataType
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(None).cast(rpay_type).alias("__rpay"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lpay"),
    )
    r_full = r_tagged.withColumn("__lpay", F.lit(None).cast(l_tagged.schema["__lpay"].dataType))
    order = [F.col("__t").asc(), F.col("__side").asc()]
    if tiebreaker is not None:
        # among right rows at one timestamp the greatest tiebreaker sorts
        # last, so last() picks it; left rows (null __rpay) are unaffected
        order.append(F.col(f"__rpay.{tiebreaker}").asc_nulls_first())
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_tagged.unionByName(r_full)
        .withColumn("__m", F.last("__rpay", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    out_cols = [F.col(f"__lpay.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("__m.__rts").alias(f"{prefix}ts"))
    out_cols += [F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in right_cols]
    return matched.select(*out_cols)
