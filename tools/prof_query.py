"""Layer profile of registry entries, one JSON record per query rep.

    python tools/prof_query.py <query> [<query> ...]

Each query runs ``$PROF_REPS`` times back to back (default 2; the first rep
also pays whole-stage codegen) on the factory session over
``$SPARK_GRAFT_SF_DIR``, forced with collect or count as ``bench.HEADLINE``
says. A record holds the rep's wall, its Catalyst phases, and the jobs,
stages, tasks, executor run/CPU/GC seconds, shuffle bytes and spill of the
jobs submitted during the rep, plus the driver gap: wall minus the time at
least one job was running, and ``codegen_compiles``: the generated classes
the JVM compiled during the rep (0 on a warm rep whose classes stayed in
the codegen cache).
Phases and counters are ``perfbench/spans.py``'s, so a record reads the same
as the benchmark's per-layer metrics. ``bench.py`` times its Spark side
through ``profile``.

For a cross-process A/B of a session setting, run it once per process with
the setting's env var set (e.g. ``SPARK_GRAFT_DRIVER_MEM``)."""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import SparkCounters, phases  # noqa: E402


def profile(spark, names: list[str], sf_dir: str, reps: int = 2, long_s: float | None = None) -> list[dict]:
    """Run each of ``names`` ``reps`` times, back to back, and return one
    record per rep. A query whose first rep takes ``long_s`` seconds or more
    runs one rep fewer."""
    from bench import HEADLINE
    from nextgenetl_spark.session import codegen_compiles
    from nextgenetl_spark.workloads import load_all

    registry = load_all()
    counters = SparkCounters(spark)
    counters.poll()

    def run(name: str, rep: int) -> dict:
        compiles = codegen_compiles(spark)
        lo = time.time()
        df = registry[name].fn(spark, sf_dir)
        if HEADLINE.get(name, "count") == "collect":
            df.collect()
        else:
            # what df.count() runs, kept as a DataFrame for its phases
            df = df.groupBy().count()
            df.collect()
        hi = time.time()
        counters.poll()
        rec = {"query": name, "rep": rep, "wall_s": hi - lo, **phases(df), **counters.window(lo, hi)}
        rec["driver_gap_s"] = rec["wall_s"] - rec["job_busy_s"]
        rec["codegen_compiles"] = codegen_compiles(spark) - compiles
        return rec

    records = []
    for name in names:
        records.append(run(name, 0))
        n = reps - 1 if long_s is not None and records[-1]["wall_s"] >= long_s else reps
        records.extend(run(name, rep) for rep in range(1, n))
        # release the query's DataFrame graphs so ContextCleaner frees the
        # localCheckpoint blocks of iterative queries (connected components);
        # kept, they pressure executor memory and slow later heavy queries
        gc.collect()
    return records


def main() -> None:
    from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark

    spark = get_spark("prof-query")
    spark.range(1000).selectExpr("sum(id)").collect()
    for rec in profile(spark, sys.argv[1:], DEFAULT_SF_DIR, int(os.environ.get("PROF_REPS", "2"))):
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
