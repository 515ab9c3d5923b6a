"""The benchmark's two workloads, each a closed loop with one client.

An op is one registry query, one ETL call or one stream replay; a pass runs
every op of the workload once, in an order permuted by the seed. Each op
returns a value that is checked right after it (outside its wall):
registry ops against the row count of their DuckDB oracle, ETL ops against
the generator's truth. ``verify`` then hashes registry ops' full outputs
against their oracles; the warm-up pass, which no metric includes, collects
them.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import time

from bench import HEADLINE
from spans import phases

# The analysts' read path: of the oracle-paired, non-VALUES-pinned HEADLINE
# entries of workloads/relational.py, arrays.py and files.py (38 without
# wide_group_dedup_140), 17 ran at most three Spark jobs, wrote no file and
# ran no driver-side type inference in a warm run over the sf0.01 tables on 4
# cores; the other 21 (4 to 11 jobs, or a file ingest) do not fit the run
# budget. Of the 17, four more are left out for the same budget:
# wide_group_dedup and kmv_distinct_profile, the two slowest (3.6 and 2.2 s a
# run, cold pass included), and rollup_profile and window_max, whose operators
# grouping_sets_profile and window_rank_family also run.
SQL_QUERIES = (
    "pricing_summary", "left_join_counts", "pull_list_join",
    "string_agg_ordered", "explode_tokens", "matrix_melt",
    "scalar_surface", "window_rank_family", "pivot_flags",
    "grouping_sets_profile", "scd2_order_history", "merge_upsert_orders",
    "variant_props",
)
# Driver-bound retrieval and dedup walks (5 and 8 short jobs at sf0.01): a
# minhash scan staged under the temp dir, and cosine pairs by block
# (applyInPandas) closed by connected components.
RETRIEVAL_QUERIES = {"minhash_md5_near_dup": "dedup", "semantic_dedup_keep": "similarity"}
# A bounded availableNow replay of the events stream through a stateful
# session window.
STREAM_QUERIES = ("stream_sessionize",)
# A run compares the full output of one in FRESH_SHARE of the count-forced
# registry ops with its oracle, as each needs a collect instead of its count:
# checking all of them took about as long as the cold pass.
FRESH_SHARE = 3
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def force(df, mode: str):
    """Run the action; returns (the DataFrame that ran it, row count, rows)."""
    if mode == "collect":
        rows = df.collect()
        return df, len(rows), rows
    counted = df.groupBy().count()
    return counted, counted.collect()[0][0], None


def fresh_checks(counted: list[str], seed: int) -> set[str]:
    """The count-forced ops whose full output a run checks: every
    FRESH_SHARE-th, from an offset set by the seed."""
    return {n for i, n in enumerate(counted) if (i + seed) % FRESH_SHARE == 0}


def fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Oracle:
    """DuckDB oracle results over the input tables, cached on disk by
    (oracle SQL, input fingerprint) so a slow oracle is paid once per input."""

    def __init__(self, data_dir: str, cache_path: str):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.fp = fingerprint([os.path.join(data_dir, f"{t}.parquet") for t in STAR_TABLES])
        try:
            with open(cache_path, encoding="utf-8") as fh:
                self.cache = json.load(fh)
        except (OSError, ValueError):
            self.cache = {}
        self._con = None

    def expected(self, sql: str) -> dict:
        from tools.check import table_hash

        key = hashlib.sha256(f"{sql}\n{self.fp}".encode()).hexdigest()
        if key not in self.cache:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                self._con.execute("SET threads=1")
                for t in STAR_TABLES:
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.cache[key] = {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(rows, cols)}
        return self.cache[key]

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
        tmp = f"{self.cache_path}.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(self.cache, fh)
        os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()


def output_mismatch(expected: dict, cols: list[str], rows) -> str | None:
    """Why a registry op's full output differs from its oracle, or None."""
    from tools.check import table_hash

    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != {expected['cols']}"
    if len(rows) != expected["rows"]:
        return f"rows {len(rows)} != {expected['rows']}"
    if table_hash([tuple(r) for r in rows], cols) != expected["hash"]:
        return "value hash differs from the oracle"
    return None


class Op:
    """One unit of client work: ``run(ctx)`` returns a value, ``check(value)``
    returns an error string or None. ``family`` groups op walls by layer."""

    def __init__(self, name: str, family: str, run, check):
        self.name, self.family, self.run, self.check = name, family, run, check


class Ctx:
    """What ops share within one invocation."""

    def __init__(self, spark, tracer, data_dir: str, scratch, registry):
        self.spark, self.tr, self.data, self.scratch, self.registry = spark, tracer, data_dir, scratch, registry
        self.pass_idx = 0
        self.phases: list[dict] = []  # per op, when traced
        self.outputs: dict = {}  # name -> (columns, rows) of the last collect
        self.collect: set = set()  # count-forced ops to collect in this pass
        self.verify_s: dict = {}  # name -> seconds of its full-output check


def registry_op(name: str, family: str, sql: str, oracle: Oracle) -> Op:
    """A registry query, forced with collect or count as bench.py forces it,
    or with collect when ``ctx.collect`` names it."""
    mode = HEADLINE[name]
    expected_rows = oracle.expected(sql)["rows"]

    def run(ctx: Ctx):
        with ctx.tr.span("workloads.build"):
            df = ctx.registry[name].fn(ctx.spark, ctx.data)
        with ctx.tr.span("workloads.action"):
            ran, n, rows = force(df, "collect" if name in ctx.collect else mode)
        if ctx.tr.enabled:
            ctx.phases.append(phases(ran))
        if rows is not None:
            ctx.outputs[name] = (df.columns, rows)
        return n

    def check(n):
        return None if n == expected_rows else f"{name}: {n} rows, oracle has {expected_rows}"

    return Op(name, family, run, check)


class Workload:
    registry_names: dict = {}  # name -> family

    def __init__(self, registry, data_dir: str, seed: int, cache_path: str):
        self.registry = registry
        self.rng = random.Random(seed)
        self.seed = seed
        self.checked: list[str] = []
        self.oracle = Oracle(data_dir, cache_path)
        self.ops = [
            registry_op(n, fam, registry[n].oracle, self.oracle)
            for n, fam in self.registry_names.items()
        ]
        self.fresh = fresh_checks([n for n in self.registry_names if HEADLINE[n] != "collect"], seed)

    def stage(self, ctx: Ctx) -> list[str]:
        """Build the staged artifacts the workload needs under the temp dir;
        returns their names."""
        return []

    def pass_ops(self) -> list[Op]:
        ops = list(self.ops)
        self.rng.shuffle(ops)
        return ops

    def verify(self, ctx: Ctx) -> list[str]:
        """Full-output oracle comparison of the registry ops the last pass
        collected: the collect-forced ones, and the count-forced ones in
        ``fresh`` (every FRESH_SHARE-th, from an offset set by the seed), which
        the warm-up pass collects instead of counting. Any FRESH_SHARE
        consecutive seeds cover every op; the row count of every op is
        checked in every pass. Returns the errors; ``checked`` names the ops
        compared."""
        self.checked = [n for n in self.registry_names if n in ctx.outputs]
        errors = []
        for name in self.checked:
            t0 = time.perf_counter()
            cols, rows = ctx.outputs[name]
            err = output_mismatch(self.oracle.expected(ctx.registry[name].oracle), cols, rows)
            if err:
                errors.append(f"{name}: {err}")
            ctx.verify_s[name] = time.perf_counter() - t0
        self.oracle.save()
        return errors


class SqlMix(Workload):
    """The analysts' read path plus the retrieval/dedup walks over the same
    star schema and corpus tables."""

    registry_names = {**{n: "relational" for n in SQL_QUERIES}, **RETRIEVAL_QUERIES}

    def stage(self, ctx: Ctx) -> list[str]:
        # the md5 shingle scan that minhash_md5_near_dup reads
        from nextgenetl_spark.workloads.text import _staged_md5_scan

        _staged_md5_scan(ctx.spark, ctx.data)
        return sorted(os.path.basename(p).rsplit("_", 2)[0]
                      for p in glob.glob(os.path.join(ctx.scratch.tmp, "ngetl_*")))


FLATTEN = dict(base="cases", id_keys={
    "cases": "case_id", "cases.project": "project_id",
    "cases.diagnoses": "diagnosis_id", "cases.diagnoses.treatments": "treatment_id",
    "cases.follow_ups": "follow_up_id", "cases.follow_ups.molecular_tests": "molecular_test_id",
})


HUB_STEPS = ("file_hub", "case_files")
FACT_STEPS = ("maf_merged", "gene_summary")


def pipeline_config(maf_columns: list[str]) -> dict:
    """The release's materialized SQL steps: a hub join, a string_agg
    rollup, the 140-column MAF merge groupBy and a CSV export."""
    keys = ", ".join(f"`{c}`" for c in maf_columns if c != "sample_barcode")
    return {"params": {"min_size": 0}, "steps": [
        {"name": "file_hub", "dest": "file_hub", "materialize": True, "skip_if_fresh": True,
         "sql": """SELECT f.file_gdc_id, f.case_gdc_id, f.project_short_name, f.data_type,
                          f.file_size, f.access, c.submitter_id, c.demographic__gender
                   FROM files f LEFT JOIN cases c ON f.case_gdc_id = c.case_id
                   WHERE f.file_size >= {min_size}"""},
        {"name": "case_files", "dest": "case_files", "materialize": True, "skip_if_fresh": True,
         "sql": """SELECT case_gdc_id, COUNT(*) AS n_files, SUM(file_size) AS bytes,
                          string_agg(DISTINCT data_type, ';') AS data_types
                   FROM file_hub GROUP BY case_gdc_id"""},
        {"name": "maf_merged", "dest": "maf_merged", "materialize": True, "skip_if_fresh": True,
         "sql": f"""SELECT {keys}, string_agg(DISTINCT sample_barcode, ';') AS sample_barcodes,
                           COUNT(*) AS n_samples
                    FROM maf GROUP BY {keys}"""},
        {"name": "gene_summary", "dest": "gene_summary", "materialize": True, "skip_if_fresh": True,
         "export_csv": "gene_summary_csv",
         "sql": """SELECT gene_symbol, COUNT(*) AS n,
                          ROUND(AVG(protein_abundance_log2ratio), 4) AS mean_log2ratio
                   FROM quant_long GROUP BY gene_symbol"""},
    ]}


class ReleaseBuild(Workload):
    """The paper's ETL release: ingest with driver-side inference, flatten
    and melt, a materialized step pipeline and its resume, publish twice,
    a diff against a perturbed rebuild, plus a bounded stream replay."""

    registry_names = {n: "streaming" for n in STREAM_QUERIES}

    def __init__(self, registry, data_dir: str, seed: int, cache_path: str, release: dict):
        super().__init__(registry, data_dir, seed, cache_path)
        self.rel = release
        self.truth = release["truth"]
        self.state: dict = {}
        t = self.truth
        self.chain = [
            Op("ingest_files", "sources", self._ingest_files,
               lambda v: _expect("ingest_files", v, {"rows": t["f1_rows"], "file_size": "bigint",
                                                     "created_datetime": "timestamp"})),
            Op("ingest_maf", "sources", self._ingest_maf,
               lambda v: _expect("ingest_maf", v, {"rows": t["maf_rows"]})),
            Op("ingest_clinical", "sources", self._ingest_clinical,
               lambda v: _expect("ingest_clinical", v, {"rows": t["cases"]})),
            Op("flatten_clinical", "flatten", self._flatten,
               lambda v: _expect("flatten_clinical", v, {
                   "cases": t["cases"], "cases_diagnoses": t["diagnoses"],
                   "cases_diagnoses_treatments": t["treatments"], "cases_follow_ups": t["follow_ups"]})),
            Op("melt_quant", "flatten", self._melt,
               lambda v: _expect("melt_quant", v, {"rows": t["quant_long_rows"]})),
            # the config's steps in two runs, the reference's resume-by-steps-list
            Op("pipeline_hub", "plans", lambda ctx: self._pipeline(ctx, HUB_STEPS),
               lambda v: _expect("pipeline_hub", v, {"steps": 2})),
            Op("pipeline_facts", "plans", lambda ctx: self._pipeline(ctx, FACT_STEPS), self._check_facts),
            Op("pipeline_resume", "plans", self._resume,
               lambda v: _expect("pipeline_resume", v, {"skipped": 4, "skip_steps": 4})),
            Op("publish_new", "plans", lambda ctx: self._publish(ctx, "r1"),
               lambda v: _expect("publish_new", v, {"published": True})),
            Op("publish_same", "plans", lambda ctx: self._publish(ctx, "r2"),
               lambda v: _expect("publish_same", v, {"published": False})),
            Op("rebuild", "plans", self._rebuild,
               lambda v: _expect("rebuild", v, {"rows": t["f1_rows"]})),
            Op("release_diff", "diff", self._diff,
               lambda v: _expect("release_diff", v, {
                   "added_key_count": t["perturbed"], "removed_key_count": t["perturbed"],
                   "dtype_changes": {}, "equal_rows": True})),
        ]

    def pass_ops(self) -> list[Op]:
        """The ETL chain in dependency order, with the stream replay
        inserted at a seeded position."""
        ops = list(self.chain)
        for op in self.ops:
            ops.insert(self.rng.randrange(len(ops) + 1), op)
        return ops

    def _dirs(self, ctx: Ctx) -> tuple[str, str]:
        base = ctx.scratch.sub(f"release/pass{ctx.pass_idx}")
        return os.path.join(base, "warehouse"), os.path.join(base, "published")

    def _read(self, ctx: Ctx, key: str, reader) -> dict:
        with ctx.tr.span("sources.infer"):
            df = reader()
        with ctx.tr.span("sources.load"):
            ran, n, _ = force(df, "count")
        if ctx.tr.enabled:
            ctx.phases.append(phases(ran))
        self.state[key] = df
        return {"rows": n, **{f.name: f.dataType.simpleString() for f in df.schema.fields}}

    def _ingest_files(self, ctx: Ctx) -> dict:
        from nextgenetl_spark.sources.tsv import read_tsv

        schema = os.path.join(os.path.dirname(self._dirs(ctx)[0]), "file_metadata.schema.json")
        return self._read(ctx, "files", lambda: read_tsv(ctx.spark, self.rel["f1"], schema_path=schema))

    def _ingest_maf(self, ctx: Ctx) -> dict:
        from nextgenetl_spark.sources.maf import read_maf_concat

        paths = sorted(glob.glob(os.path.join(self.rel["maf_dir"], "*.maf")))
        return self._read(ctx, "maf", lambda: read_maf_concat(ctx.spark, paths))

    def _ingest_clinical(self, ctx: Ctx) -> dict:
        from nextgenetl_spark.sources.jsonl import read_jsonl

        return self._read(ctx, "clinical", lambda: read_jsonl(ctx.spark, self.rel["jsonl"]))

    def _flatten(self, ctx: Ctx) -> dict:
        from nextgenetl_spark.flatten import FlattenConfig, flatten, program_structure

        cfg = FlattenConfig(**FLATTEN)
        with ctx.tr.span("flatten.structure"):
            program_structure(self.state["clinical"], cfg)
        with ctx.tr.span("flatten.tables"):
            tables = flatten(self.state["clinical"], cfg)
            counts = {name: force(df, "count")[1] for name, df in tables.items()}
        self.state["cases"] = tables["cases"]
        return counts

    def _melt(self, ctx: Ctx) -> dict:
        from nextgenetl_spark.flatten import melt_quant_matrix
        from nextgenetl_spark.sources.tsv import read_tsv

        with ctx.tr.span("sources.infer"):
            wide = read_tsv(ctx.spark, self.rel["quant"])
        with ctx.tr.span("flatten.melt"):
            long = melt_quant_matrix(wide, "gene_symbol", study_name="bench_study")
            ran, n, _ = force(long, "count")
        self.state["quant_long"] = long
        return {"rows": n}

    def _new_pipeline(self, ctx: Ctx, warehouse: str, files_key: str = "files"):
        from nextgenetl_spark.plans.pipeline import Pipeline

        p = Pipeline(ctx.spark, warehouse=warehouse)
        for name, key in (("files", files_key), ("cases", "cases"), ("maf", "maf"), ("quant_long", "quant_long")):
            p.register(name, self.state[key])
        return p

    def _pipeline(self, ctx: Ctx, steps: tuple) -> dict:
        wh, _ = self._dirs(ctx)
        cfg = pipeline_config(self.state["maf"].columns)
        with ctx.tr.span("plans.step"):
            out = self._new_pipeline(ctx, wh).run(cfg, steps=list(steps))
        if "file_hub" in out:
            self.state["file_hub"] = out["file_hub"]
        return {"steps": len(out), "warehouse": wh}

    def _check_facts(self, v: dict) -> str | None:
        merged = self.state["file_hub"].sparkSession.read.parquet(os.path.join(v["warehouse"], "maf_merged"))
        got = {"steps": v["steps"], "maf_merged": merged.count(),
               "csv": bool(glob.glob(os.path.join(v["warehouse"], "gene_summary_csv", "part-*")))}
        return _expect("pipeline_facts", got, {"steps": 2, "maf_merged": self.truth["mutations"], "csv": True})

    def _resume(self, ctx: Ctx) -> dict:
        wh, _ = self._dirs(ctx)
        cfg = pipeline_config(self.state["maf"].columns)
        marks = {s["dest"]: os.path.join(wh, s["dest"], "_step_fingerprint.json") for s in cfg["steps"]}
        before = {d: os.stat(p).st_mtime_ns for d, p in marks.items()}
        with ctx.tr.span("plans.step"):
            self._new_pipeline(ctx, wh).run(cfg)
        skipped = sum(os.stat(p).st_mtime_ns == before[d] for d, p in marks.items())
        return {"skipped": skipped, "skip_steps": sum(1 for s in cfg["steps"] if s.get("skip_if_fresh"))}

    def _publish(self, ctx: Ctx, release: str) -> dict:
        from nextgenetl_spark.plans.publish import publish_table

        _, root = self._dirs(ctx)
        with ctx.tr.span("plans.publish"):
            r = publish_table(ctx.spark, self.state["file_hub"], root, "file_hub", release)
        return {"published": r["published"]}

    def _rebuild(self, ctx: Ctx) -> dict:
        """The file hub rebuilt from the perturbed file metadata, loaded with
        the schema the first ingest persisted."""
        from nextgenetl_spark.sources.tsv import read_tsv

        wh, _ = self._dirs(ctx)
        schema = os.path.join(os.path.dirname(wh), "file_metadata.schema.json")
        with ctx.tr.span("sources.infer"):
            self.state["files_rebuild"] = read_tsv(ctx.spark, self.rel["f1_rebuild"], schema_path=schema)
        with ctx.tr.span("plans.step"):
            cfg = pipeline_config(self.state["maf"].columns)
            out = self._new_pipeline(ctx, wh + "_rebuild", "files_rebuild").run(cfg, steps=["file_hub"])
        self.state["hub_rebuild"] = out["file_hub"]
        return {"rows": force(out["file_hub"], "count")[1]}

    def _diff(self, ctx: Ctx) -> dict:
        from nextgenetl_spark.diff import release_report

        _, root = self._dirs(ctx)
        with ctx.tr.span("diff.report"):
            current = ctx.spark.read.parquet(os.path.join(root, "file_hub_current"))
            rep = release_report(current, self.state["hub_rebuild"], "file_gdc_id")
        return {"added_key_count": rep["added_key_count"], "removed_key_count": rep["removed_key_count"],
                "dtype_changes": rep["dtype_changes"], "equal_rows": rep["row_counts"]["equal"]}

    def stage(self, ctx: Ctx) -> list[str]:
        from nextgenetl_spark.streaming.source import events_stream

        events_stream(ctx.spark, ctx.data)
        return ["events_stream"]


def _expect(op: str, got: dict, want: dict) -> str | None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return f"{op}: got/expected {bad}" if bad else None
