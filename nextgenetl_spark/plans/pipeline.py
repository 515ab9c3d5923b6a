"""YAML-configured step pipeline (SURVEY.md §3.1).

The reference's dominant entry point: a YAML file with ``params`` and a
``steps`` list; each named step builds a SQL string and writes it to a
destination table; later steps read earlier steps' outputs by table name;
re-running with a subset of ``steps`` resumes mid-pipeline (reference:
common_etl/utils.py:2099-2162 load_config; common_etl/support.py:775-821
generic_bq_harness; build_open_somatic_mut_bq_table.py:679-696 step loop).

Spark design:
- a step's ``sql`` runs via spark.sql over temp views, so the YAML surface
  stays declarative; python-builder steps are registered callables.
- steps are LAZY by default: a chain of non-materialized steps fuses into
  one Catalyst plan (the reference pays a BigQuery round-trip per step;
  we only pay at materialization points).
- ``materialize: true`` writes parquet and re-reads it — the reference's
  per-step WRITE_TRUNCATE semantics, kept for resumability/inspection and
  as an explicit shuffle barrier when a step's output is reused by several
  consumers (cache-without-memory-pressure at 100 TB). An ``overwrite``
  re-read takes the writer's schema, so no schema-inference job runs;
  ``append`` infers, since the directory also holds earlier part files.
  A ``skip_if_fresh`` step records the schema next to its fingerprint, and
  a resume reads with it — zero Spark jobs, in a new process too.
- each step runs under a Spark job group named after the step, so its jobs
  can be counted by name (``statusTracker().getJobIdsForGroup``).
- ``run`` treats the steps as a dependency graph, not a list (SURVEY §3.1:
  steps chain through named tables). A ``sql`` step reads the relations
  its parsed plan names (subqueries included, its own CTE names excluded
  unless a pipeline table shares the name); a ``salted_join`` step reads
  ``big`` and ``small``; a step reading a lazy step's dest also reads
  that step's inputs, since the view is a plan over them. A step waits for
  every earlier step that writes a table it reads, reads or writes a table
  it writes (so same-dest steps keep config order), or shares an export
  directory with it. A builder step, a ``force_skew_join`` step (it flips a
  session-global conf) and a step reading a name the pipeline cannot name
  (directly or through a lazy step) are barriers: they wait for every earlier step, and every later step
  waits for them. Ready steps run concurrently (``overlap.overlap_pool``);
  each finished step's output is registered on the calling thread before
  its dependents are submitted.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, wait
from dataclasses import dataclass, field

import yaml

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession

from nextgenetl_spark.catalog import read_parquet_as
from nextgenetl_spark.overlap import overlap_pool

_PARAM_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")
# What a parsed (unresolved) plan's tree string prints for each table a
# query reads and for the names its WITH clauses define.
_RELATION_RE = re.compile(r"'UnresolvedRelation \[([^\]]*)\]")
_CTE_RE = re.compile(r"\bCTE \[([^\]]*)\]")
# The SparkContext local properties setJobGroup writes.
_JOB_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def render_sql(sql: str, params: dict) -> str:
    """Substitute ``{param}`` placeholders for KNOWN params only.

    ``str.format`` (the reference's habit) throws or silently mangles on any
    literal brace in the SQL — regex quantifiers (``x{2,3}``), JSON
    literals, struct syntax. Here only ``{identifier}`` tokens whose name is
    an actual param are replaced; every other brace construct passes through
    verbatim, so steps are safe-by-default and never need escaping."""
    return _PARAM_RE.sub(
        lambda m: str(params[m.group(1)]) if m.group(1) in params else m.group(0), sql
    )


def load_config(path: str) -> dict:
    """YAML → {'params': {...}, 'steps': [...]} (reference shape)."""
    with open(path, encoding="utf-8") as fh:
        cfg = yaml.safe_load(fh)
    if not isinstance(cfg, dict) or "steps" not in cfg:
        raise ValueError(f"pipeline config must define 'steps': {path}")
    cfg.setdefault("params", {})
    return cfg


@dataclass
class Pipeline:
    """Named-table step runner.

    Tables live in a name → DataFrame dict mirrored as temp views; a step is
    {'name', 'dest', and one of 'sql' | 'builder'}, plus optional
    'materialize': bool and 'mode': overwrite|append.
    """

    spark: SparkSession
    params: dict = field(default_factory=dict)
    warehouse: str | None = None  # directory for materialized step outputs
    builders: dict = field(default_factory=dict)  # name -> Callable[[Pipeline, dict], DataFrame]
    tables: dict = field(default_factory=dict)
    skew_decisions: dict = field(default_factory=dict)  # step name -> auto-salt record

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        df.createOrReplaceTempView(name)

    def register_builder(self, name: str, fn: Callable) -> None:
        self.builders[name] = fn

    def table(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise KeyError(f"unknown table '{name}' (known: {sorted(self.tables)})")
        return self.tables[name]

    def _step_fingerprint(self, step: dict, rendered_sql: str | None) -> str:
        """Definition fingerprint of a step: the rendered SQL (param values
        included) or builder name, plus every layout/config option. Changing
        any of these invalidates a skip_if_fresh output; changing UPSTREAM
        DATA does not — the contract covers the reference's resume case
        (re-running a pipeline over unchanged inputs), not cache coherence."""
        import hashlib
        import json

        basis = {k: v for k, v in step.items() if k not in ("name", "skip_if_fresh")}
        if rendered_sql is not None:
            basis["sql"] = rendered_sql
        return hashlib.md5(json.dumps(basis, sort_keys=True, default=str).encode()).hexdigest()

    def run_step(self, step: dict) -> DataFrame:
        """Run one step and register its output under its ``dest``."""
        df = self._step_output(step)
        self.register(step["dest"], df)
        return df

    def _step_output(self, step: dict) -> DataFrame:
        """Build (and, if configured, write) one step's output under a Spark
        job group named after the step; the caller's job group is restored
        afterwards. Registers nothing, so ``run`` can call it from a pool
        thread."""
        name = _step_name(step)
        sc = self.spark.sparkContext
        caller = [sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS]
        sc.setJobGroup(name, f"pipeline step {name}")
        try:
            return self._run_step(step, name)
        finally:
            for key, value in zip(_JOB_GROUP_KEYS, caller):
                sc.setLocalProperty(key, value)

    def _rendered_sql(self, step: dict) -> str:
        return render_sql(step["sql"], self.params) if step.get("format", True) else step["sql"]

    def _run_step(self, step: dict, name: str) -> DataFrame:
        import json

        dest = step["dest"]
        rendered = self._rendered_sql(step) if "sql" in step else None
        if step.get("skip_if_fresh"):
            # Incremental resume: reuse a materialized output whose recorded
            # definition fingerprint matches this step — the automatic form
            # of the reference's resume-by-steps-list (reference re-runs are
            # manual step subsets; here freshness is checked per step).
            if not (step.get("materialize") and self.warehouse):
                raise ValueError(f"step '{name}': skip_if_fresh requires materialize + warehouse")
            path = os.path.join(self.warehouse, dest)
            sidecar = os.path.join(path, "_step_fingerprint.json")
            if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(sidecar):
                try:
                    with open(sidecar, encoding="utf-8") as fh:
                        recorded = json.load(fh)
                except ValueError:  # a torn sidecar: stale, so the step recomputes
                    recorded = {}
                if recorded.get("fingerprint") == self._step_fingerprint(step, rendered):
                    return read_parquet_as(self.spark, path, recorded.get("schema"))
        if "sql" in step:
            df = self.spark.sql(rendered)
        elif "builder" in step:
            df = self.builders[step["builder"]](self, step)
        elif "salted_join" in step:
            # Skew-handling as a declarative step (round-5 verdict ask #8:
            # the §4.4 skew measurements — plain SMJ straggler 5.6-14.3×,
            # salted_join flattening to 1.5× — belong in the harness, not
            # just the library). Spec: {big, small, key, num_salts?, how?};
            # both sides are earlier steps' dest tables. The small side is
            # replicated num_salts×, so keep it dimension-sized. The join
            # column is spelled ``key`` because YAML 1.1 parses a bare
            # ``on:`` as boolean True; a quoted "on" is still accepted.
            from nextgenetl_spark.operators.joins import salted_join, salted_join_auto

            spec = step["salted_join"]
            join_key = spec.get("key", spec.get("on"))
            if not isinstance(join_key, str):
                raise ValueError(
                    f"step '{name}': salted_join needs a string 'key' "
                    "(YAML parses an unquoted 'on:' as a boolean)"
                )
            if spec.get("auto"):
                # auto: the salt decision comes from CMS sketches of the
                # two key columns (operators/joins.py skew_decision — salt
                # iff the hottest key's share upper-bound crosses the
                # measured 0.10 threshold), so the pipeline step engages
                # the num_salts× dim-replication tax only when a key is
                # actually hot. The decision record lands in the step log.
                decision: dict = {}
                df = salted_join_auto(
                    self.table(spec["big"]),
                    self.table(spec["small"]),
                    on=join_key,
                    num_salts=int(spec.get("num_salts", 16)),
                    how=spec.get("how", "inner"),
                    hot_share_threshold=float(spec.get("hot_share_threshold", 0.10)),
                    decision_out=decision,
                )
                self.skew_decisions[name] = decision
            else:
                df = salted_join(
                    self.table(spec["big"]),
                    self.table(spec["small"]),
                    on=join_key,
                    num_salts=int(spec.get("num_salts", 16)),
                    how=spec.get("how", "inner"),
                )
        else:
            raise ValueError(f"step '{name}' needs 'sql', 'builder' or 'salted_join'")

        if step.get("force_skew_join"):
            # Opt-in AQE escalation for join-under-agg shapes where the
            # default skew-join declines to fire (measured in BASELINE
            # §4.4): binds at this step's ACTION, so it requires
            # materialize — a lazy step would execute under whatever conf
            # holds at the eventual consumer's action time.
            if not step.get("materialize"):
                raise ValueError(f"step '{name}': force_skew_join requires materialize")

        if step.get("cluster_by"):
            # CLUSTER BY rewrite (reference: common_etl/support.py:1148-1160):
            # co-locate + order rows on the cluster keys so downstream joins
            # and range scans on those keys stay partition-local.
            cols = step["cluster_by"]
            df = df.repartition(*cols).sortWithinPartitions(*cols)
        if step.get("zorder_by"):
            # Two-dimensional layout: Morton-interleave both keys so row-group
            # min/max stats skip on either predicate (functions/zorder.py) —
            # the multi-key upgrade of cluster_by, à la Delta OPTIMIZE ZORDER.
            from nextgenetl_spark.functions.zorder import zorder_write

            za, zb = step["zorder_by"]
            df = zorder_write(df, za, zb, num_files=step.get("num_files"))
        if step.get("materialize"):
            if not self.warehouse:
                raise ValueError(f"step '{name}': materialize=true requires a warehouse dir")
            path = os.path.join(self.warehouse, dest)
            mode = step.get("mode", "overwrite")
            if step.get("force_skew_join"):
                # NOTE: the override is SESSION-GLOBAL for the duration of
                # this write — Spark has no per-query conf scope, so any
                # concurrent query on the same SparkSession also runs with
                # skew-join forced (round-6 ADVICE). ``run`` makes this step
                # a barrier, so it runs alone: no other step of the pipeline
                # runs a job during this write.
                # Restore by UNSETTING when the key was absent, so we never
                # convert "unset" into an explicit "false".
                key = "spark.sql.adaptive.forceOptimizeSkewedJoin"
                prev = self.spark.conf.get(key, None)
                self.spark.conf.set(key, "true")
                try:
                    df.write.mode(mode).parquet(path)
                finally:
                    if prev is None:
                        self.spark.conf.unset(key)
                    else:
                        self.spark.conf.set(key, prev)
            else:
                df.write.mode(mode).parquet(path)
            df = read_parquet_as(self.spark, path, df.schema if mode == "overwrite" else None)
            if step.get("skip_if_fresh"):
                from nextgenetl_spark.staging import atomic_write

                record = {"fingerprint": self._step_fingerprint(step, rendered), "schema": df.schema.json()}
                atomic_write(os.path.join(path, "_step_fingerprint.json"), json.dumps(record))
        if step.get("export_jsonl"):
            # table → JSONL extract: the reference's staging format for
            # BQ load jobs (write_list_to_jsonl_and_upload,
            # common_etl/support.py JSONL paths) — here a distributed
            # newline-delimited JSON write, one file per partition.
            if not self.warehouse:
                raise ValueError(f"step '{name}': export_jsonl requires a warehouse dir")
            df.write.mode(step.get("mode", "overwrite")).json(
                os.path.join(self.warehouse, step["export_jsonl"])
            )
        if step.get("export_csv"):
            # table → delimited-file extract (reference: common_etl/
            # support.py:434-469), header/sep per step config.
            if not self.warehouse:
                raise ValueError(f"step '{name}': export_csv requires a warehouse dir")
            export_dir = os.path.join(self.warehouse, step["export_csv"])
            (
                df.write.mode(step.get("mode", "overwrite"))
                .options(header=str(step.get("header", True)).lower(), sep=step.get("sep", "\t"))
                .csv(export_dir)
            )
            # Persist the exact writer schema as a _schema.json sidecar (the
            # reference's persisted-schema discipline, cda_bq_etl/bq_helpers/
            # schema.py:85-187): a read-back can pin types to the writer's
            # instead of re-inferring from whichever part file happens to
            # sort first — inference on a degenerate first file (empty, or a
            # double column whose sampled values are all integral) would
            # silently re-type a column and NULL every non-conforming value.
            # Underscore-prefixed so Spark's CSV reader treats it as metadata.
            from nextgenetl_spark.schemas import save_schema

            save_schema(os.path.join(export_dir, "_schema.json"), df.schema)
        return df

    def _step_inputs(self, step: dict, names: set[str]) -> set[str] | None:
        """Lower-cased names of the tables a step reads, or None when they
        cannot be determined (a builder step, SQL that does not parse or
        names a table through IDENTIFIER). A name the step's own CTEs
        define is dropped unless it is also one of ``names``: the unresolved
        plan does not tell a CTE reference from a table read of the same
        name (``WITH src AS (SELECT * FROM src) ...``)."""
        if "sql" in step:
            try:
                plan = self.spark._jsparkSession.sessionState().sqlParser().parsePlan(
                    self._rendered_sql(step)).toString()
            except ParseException:
                return None
            if "UnresolvedIdentifier" in plan:
                return None
            ctes = {n.strip().lower() for group in _CTE_RE.findall(plan) for n in group.split(",")}
            return {n.lower() for n in _RELATION_RE.findall(plan)} - (ctes - names)
        if "builder" not in step and "salted_join" in step:
            spec = step["salted_join"]
            return {str(spec.get("big")).lower(), str(spec.get("small")).lower()}
        return None

    def _step_dag(self, plan: list[dict]) -> list[set[int]]:
        """For each step of ``plan``, the indices of the earlier steps it
        waits for (see the module docstring)."""
        known = {n.lower() for n in self.tables}
        reads: list[set[str] | None] = []
        writes: list[set[str]] = []
        barrier: list[bool] = []
        deps: list[set[int]] = []
        for j, step in enumerate(plan):
            names = known | {str(s.get("dest")).lower() for s in plan[:j]}
            inputs = self._step_inputs(step, names)
            # A lazy step's output is a view over its own inputs, so a step
            # reading it reads them too; None (unknown) spreads the same way.
            via = [reads[i] for i in range(j)
                   if not plan[i].get("materialize") and str(plan[i].get("dest")).lower() in (inputs or ())]
            if inputs is not None and inputs <= names and None not in via:
                inputs = inputs.union(*via)
            else:
                inputs = None
            reads.append(inputs)
            writes.append({str(step[k]).lower() for k in ("dest", "export_jsonl", "export_csv") if step.get(k)})
            barrier.append(inputs is None or bool(step.get("force_skew_join")))
            deps.append({
                i for i in range(j)
                if barrier[j] or barrier[i] or (inputs or set()) & writes[i]
                or writes[j] & ((reads[i] or set()) | writes[i])
            })
        return deps

    def run(self, config: dict, steps: list | None = None) -> dict:
        """Run the configured steps (optionally a named subset, the
        reference's resume-by-steps-list; ``run_steps`` in the config is the
        default subset) and return the dest → DataFrame map of step outputs
        in config order.

        The selected steps form a DAG (``_step_dag``, rules in the module
        docstring); every step whose predecessors have finished is
        submitted to a pool bounded by ``defaultParallelism``, each under
        its own job group. A step's output is registered (temp view and
        ``tables``) on this thread as it finishes, before its dependents
        are submitted. When a step fails, nothing more is submitted, the
        running steps are cancelled (``overlap_pool`` cancels their jobs)
        until they end, and a RuntimeError naming the failed step is raised
        from its error. A step that did not finish writes no
        ``_step_fingerprint.json``."""
        self.params = {**config.get("params", {}), **self.params}
        selected = steps if steps is not None else config.get("run_steps")
        plan = [s for s in config["steps"] if selected is None or _step_name(s) in selected]
        deps = self._step_dag(plan)
        done: dict[int, DataFrame] = {}
        running: dict[Future, int] = {}
        with overlap_pool(self.spark) as submit:
            while len(done) < len(plan):
                for j, step in enumerate(plan):
                    if j not in done and j not in running.values() and deps[j] <= done.keys():
                        running[submit(lambda step=step: self._step_output(step))] = j
                # config order among steps that finished together
                for fut in sorted(wait(running, return_when=FIRST_COMPLETED)[0], key=running.get):
                    j = running.pop(fut)
                    if (exc := fut.exception()) is not None:
                        raise RuntimeError(f"pipeline step '{_step_name(plan[j])}' failed: {exc}") from exc
                    done[j] = fut.result()
                    self.register(plan[j]["dest"], done[j])
        return {plan[j]["dest"]: done[j] for j in sorted(done)}


def _step_name(step: dict) -> str:
    return step.get("name", step.get("dest", "<unnamed>"))
