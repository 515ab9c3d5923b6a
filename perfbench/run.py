"""Benchmark of the NextGenETL Spark engine, measured from outside the engine.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 20 --trace 0

Run from the checkout root. One invocation:

1. makes a fresh scratch directory under ``perfbench/_work`` and points every
   temp location of Python, the JVM and Spark into it (``env.py``);
2. reads the star schema from ``perfbench/data/sf0.01`` and, for
   ``release_build``, generates the raw release files from ``--seed``
   (``gen.py``; not timed); the seed also orders each pass's ops;
3. sets up ``SETUP_REPS`` times: session start, first job, and every staged
   artifact the workload needs, built fresh; ``setup_s`` is the median. The
   first set-up launches the JVM; the later ones stop the SparkContext and
   start a new one in the same JVM, so ``setup_s`` is a warm-JVM set-up and
   the JVM launch shows only as the per-layer ``session.start_s``;
4. runs one cold pass (the per-layer ``cold.first_pass_s``); every op's
   result is checked as it returns, in this pass and in every later one;
5. runs one warm-up pass, which no metric includes; it collects a seeded
   third of the ops that the other passes count;
6. hashes registry ops' full outputs (every collected one) against their
   DuckDB oracles;
7. runs measured passes until ``--seconds`` have passed, at least
   ``MIN_MEASURED``;
8. prints one detail line and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
   with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Every timed interval (an op, a set-up) is measured with ``spans.unstolen``:
its wall without what the CPU time the hypervisor stole from this virtual
machine meanwhile cost it, so that a busy neighbour does not read as a
slower engine. The raw walls and the stolen share of each pass are in the
detail line.

With ``--trace 1`` the measured passes alternate between traced and untraced, so
the same invocation also gives the tracing overhead. Spans, the environment
record and per-op statistics go to ``perfbench/_work/records/``. The exit
code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
STAR = os.path.join(HERE, "data", "sf0.01")
SETUP_REPS = 3
MIN_MEASURED = 2
# Traced runs alternate traced (T) and untraced (U) measured passes as T U T,
# so a linear warm-up trend cancels out of the tracing overhead.
MIN_MEASURED_TRACED = 3
WORKLOADS = ("sql_mix", "release_build")


def metric_units(section: str) -> dict:
    """{name: unit} of one metric list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest value."""
    s = sorted(values)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s)


def op_walls_by_name(passes: list[dict]) -> dict[str, list[float]]:
    out: dict = {}
    for p in passes:
        for o in p["ops"]:
            out.setdefault(o["name"], []).append(o["wall"])
    return out


def median_pass(passes: list[dict]) -> float:
    """The wall of a pass at median op speed: the sum over ops of each op's
    median wall, so one slow op in one pass moves it less than a pass median."""
    return sum(statistics.median(w) for w in op_walls_by_name(passes).values())


def quartiles(values: list[float]) -> list[float]:
    """[Q1, Q3] of ``values`` (both the value itself for a single sample)."""
    if len(values) < 2:
        return values * 2
    q = statistics.quantiles(values, n=4)
    return [q[0], q[2]]


def vmhwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def written_since(scratch, since: float) -> tuple[int, int]:
    """(bytes, files) of files modified since ``since`` outside the inputs
    and Spark's local dirs (shuffle and spill are counted by the stages)."""
    skip = {scratch.data, scratch.local}
    nbytes = nfiles = 0
    for root, dirs, files in os.walk(scratch.path):
        dirs[:] = [d for d in dirs if os.path.join(root, d) not in skip]
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if st.st_mtime >= since:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


def run_pass(wl, ctx, tracer, idx: int, traced: bool) -> dict:
    from spans import now, unstolen

    ctx.pass_idx = idx
    tracer.enabled, tracer.run = traced, idx
    recs = []
    lo = time.time()
    for op in wl.pass_ops():
        first_phase = len(ctx.phases)
        err, value = None, None
        e0, t0 = time.time(), now()
        try:
            with tracer.span(f"op.{op.family}"):
                value = op.run(ctx)
        except Exception as exc:  # an op failure is counted, and the loop goes on
            err = f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}"
        t1, e1 = now(), time.time()
        if err is None:
            try:
                err = op.check(value)
            except Exception as exc:
                err = f"{op.name}: check raised {type(exc).__name__}: {str(exc)[:300]}"
        recs.append({"name": op.name, "family": op.family, "wall": unstolen(t0, t1),
                     "raw_wall": t1[0] - t0[0], "busy_s": t1[1] - t0[1], "stolen_s": t1[2] - t0[2],
                     "lo": e0, "hi": e1, "error": err, "value": value if isinstance(value, dict) else None,
                     "phases": ctx.phases[first_phase:]})
    nbytes, nfiles = written_since(ctx.scratch, lo)
    stolen = sum(r["stolen_s"] for r in recs)
    return {"idx": idx, "traced": traced, "wall": sum(r["wall"] for r in recs),
            "raw_wall": sum(r["raw_wall"] for r in recs),
            "stolen_share": stolen / max(1e-9, stolen + sum(r["busy_s"] for r in recs)),
            "lo": lo, "hi": time.time(), "ops": recs, "written_bytes": nbytes, "written_files": nfiles}


def layer_metrics(p: dict, tracer, listener, setup: dict) -> dict:
    """Per-layer values of one traced pass."""
    from spans import self_times

    st = self_times(tracer.spans, p["idx"])
    ops = p["ops"]
    spark = {k: sum(o["spark"][k] for o in ops) for k in ops[0]["spark"]}
    ph = {k: sum(x[k] for o in ops for x in o["phases"]) for k in ("analysis", "optimization", "planning")}

    def fam(family: str) -> list[dict]:
        return [o for o in ops if o["family"] == family]

    def vals(name: str) -> list[dict]:
        return [o["value"] for o in ops if o["name"] == name and o["value"]]

    retrieval = fam("dedup") + fam("similarity")
    streams = listener.window(p["lo"], p["hi"]) if listener else {}
    op_spans = [s for s in tracer.spans if s.run == p["idx"] and s.name.startswith("op.")]
    in_layers = sum(s.end - s.start for s in op_spans) - sum(st.get(n, 0.0) for n in {s.name for s in op_spans})
    resume = vals("pipeline_resume")
    publishes = vals("publish_new") + vals("publish_same")
    flat = vals("flatten_clinical")
    return {
        "spark.analysis_s": ph["analysis"], "spark.optimization_s": ph["optimization"],
        "spark.planning_s": ph["planning"],
        "spark.jobs": spark["jobs"], "spark.stages": spark["stages"], "spark.tasks": spark["tasks"],
        "spark.job_busy_s": spark["job_busy_s"], "spark.driver_gap_s": p["raw_wall"] - spark["job_busy_s"],
        "workloads.build_s": st.get("workloads.build", 0.0), "workloads.action_s": st.get("workloads.action", 0.0),
        "spark.exec_run_s": spark["exec_run_s"], "spark.exec_cpu_s": spark["exec_cpu_s"], "spark.gc_s": spark["gc_s"],
        "spark.shuffle_read_bytes": spark["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": spark["shuffle_write_bytes"], "spark.spill_bytes": spark["spill_bytes"],
        "sources.infer_s": st.get("sources.infer", 0.0), "sources.load_s": st.get("sources.load", 0.0),
        "sources.rows_in": sum(o["value"]["rows"] for o in fam("sources") if o["value"]),
        "flatten.structure_s": st.get("flatten.structure", 0.0), "flatten.tables_s": st.get("flatten.tables", 0.0),
        "flatten.melt_s": st.get("flatten.melt", 0.0),
        "flatten.child_tables": len(flat[0]) - 1 if flat else 0,
        "plans.step_s": st.get("plans.step", 0.0),
        "plans.steps": sum(v["steps"] for v in vals("pipeline_hub") + vals("pipeline_facts")),
        "plans.skip_hit_ratio": resume[0]["skipped"] / resume[0]["skip_steps"] if resume else 0.0,
        "plans.publish_s": st.get("plans.publish", 0.0),
        "plans.publish_skip_ratio": (sum(not v["published"] for v in publishes) / len(publishes)) if publishes else 0.0,
        "plans.bytes_written": p["written_bytes"], "plans.files_written": p["written_files"],
        "diff.report_s": st.get("diff.report", 0.0),
        "operators.dedup_s": sum(o["wall"] for o in fam("dedup")),
        "operators.similarity_s": sum(o["wall"] for o in fam("similarity")),
        "operators.jobs_per_op": (sum(o["spark"]["jobs"] for o in retrieval) / len(retrieval)) if retrieval else 0.0,
        **{f"streaming.{k}": streams.get(k, 0) for k in (
            "batches", "input_rows", "trigger_ms", "add_batch_ms", "planning_ms", "commit_ms",
            "state_rows", "state_mem_bytes")},
        "streaming.replay_s": sum(o["wall"] for o in fam("streaming")),
        "session.start_s": setup["session_s"][0],
        "staging.build_s": statistics.median(setup["staging_s"]),
        "trace.span_coverage": in_layers / p["raw_wall"],
    }


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers) exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    timeline = {}  # seconds since start at each stage of the invocation
    if not os.path.isdir(os.path.join(ROOT, "nextgenetl_spark")):
        print(f"perfbench: no engine package at {ROOT}/nextgenetl_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import env
    import gen
    from spans import SparkCounters, Tracer, now, stream_listener, unstolen

    cpus = len(os.sched_getaffinity(0))
    scratch = env.Scratch(WORK)
    spark = None
    try:
        env.enter(scratch, ROOT, cpus)
        release = gen.release_inputs(os.path.join(scratch.data, "release"), args.seed) \
            if args.workload == "release_build" else None
        input_bytes = gen.tree_bytes(STAR) + gen.tree_bytes(scratch.data)

        from nextgenetl_spark.session import get_spark
        from nextgenetl_spark.workloads import load_all

        import workloads as W

        registry = load_all()
        timeline["imported"] = time.perf_counter() - t_start
        redirected = env.redirect_fixed_tmp(scratch.fixed)
        cache = os.path.join(WORK, "oracle_cache.json")
        if args.workload == "sql_mix":
            wl = W.SqlMix(registry, STAR, args.seed, cache)
        else:
            wl = W.ReleaseBuild(registry, STAR, args.seed, cache, release)
        tracer = Tracer(False)

        setup = {"session_s": [], "staging_s": [], "total_s": [], "raw_total_s": [], "staged": []}
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                scratch.reset_tmp()
            t0 = now()
            spark = get_spark(f"perfbench-{args.workload}")
            spark.range(1000).selectExpr("sum(id)").collect()
            t1 = now()
            ctx = W.Ctx(spark, tracer, STAR, scratch, registry)
            setup["staged"] = wl.stage(ctx)
            t2 = now()
            setup["session_s"].append(unstolen(t0, t1))
            setup["staging_s"].append(unstolen(t1, t2))
            setup["total_s"].append(unstolen(t0, t2))
            setup["raw_total_s"].append(t2[0] - t0[0])
        setup["fixed_tmp"] = {"functions_redirected": redirected, "built": env.fixed_tmp_dirs(scratch.fixed)}

        counters = SparkCounters(spark)
        listener = None
        if args.trace:
            listener = stream_listener()
            spark.streams.addListener(listener)
        timeline["set_up"] = time.perf_counter() - t_start
        environment = env.record(spark)
        counters.poll()

        # The status store keeps only the latest 1000 jobs and stages, so the
        # counters are read after every pass (outside the op walls).
        passes = [run_pass(wl, ctx, tracer, 0, bool(args.trace))]
        counters.poll()
        # The JIT is still compiling through the pass after the cold one: over
        # ten seeds it was 10-25% slower than the pass after it and spread
        # about twice as much, so it only warms up.
        ctx.collect = wl.fresh
        passes.append(run_pass(wl, ctx, tracer, 1, False))
        counters.poll()
        ctx.collect = set()
        verify_errors = wl.verify(ctx)
        timeline["warmed_up"] = time.perf_counter() - t_start
        first = len(passes)
        t_measure = time.perf_counter()
        min_measured = MIN_MEASURED_TRACED if args.trace else MIN_MEASURED
        while len(passes) - first < min_measured or time.perf_counter() - t_measure < args.seconds:
            k = len(passes)
            passes.append(run_pass(wl, ctx, tracer, k, bool(args.trace) and (k - first) % 2 == 0))
            counters.poll()
        measured_s = time.perf_counter() - t_measure
        if listener is not None:
            time.sleep(1.0)  # stream progress events arrive asynchronously
        for p in passes:
            for o in p["ops"]:
                o["spark"] = counters.window(o["lo"], o["hi"])
        timeline["passes_done"] = time.perf_counter() - t_start

        measured = passes[first:]
        op_walls = [o["wall"] for p in measured for o in p["ops"]]
        per_op = op_walls_by_name(measured)
        attempted = sum(len(p["ops"]) for p in passes) + len(wl.checked)
        errors = [o["error"] for p in passes for o in p["ops"] if o["error"]] + verify_errors
        tail_s, tail_pct = tail(op_walls)

        if args.trace:
            traced = [p for p in measured if p["traced"]]
            untraced = [p for p in measured if not p["traced"]]
            per_pass = [layer_metrics(p, tracer, listener, setup) for p in traced]
            metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
            metrics["trace.overhead_s"] = (statistics.mean(p["wall"] for p in traced)
                                           - statistics.mean(p["wall"] for p in untraced))
            metrics["ops.error_rate"] = len(errors) / attempted
            metrics["cold.first_pass_s"] = passes[0]["wall"]
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            metrics["memory.peak_rss_mib"] = (vmhwm_kib("self") + vmhwm_kib(jvm_pid)) / 1024
            units = metric_units("per_layer")
        else:
            metrics = {
                "setup_s": statistics.median(setup["total_s"]),
                "pass_s": median_pass(measured),
                "op_p50_s": statistics.median(op_walls),
                "op_tail_s": tail_s,
                "write_amp": statistics.median(
                    (sum(o["spark"]["shuffle_write_bytes"] + o["spark"]["spill_bytes"] for o in p["ops"])
                     + p["written_bytes"]) / input_bytes for p in measured),
            }
            units = metric_units("end_to_end")

        cold = {o["name"]: o for o in passes[0]["ops"]}
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "shape": "closed loop, one client", "input_bytes": input_bytes,
            "passes": len(passes), "measured_from": first, "measured_s": measured_s,
            "op_tail": {"percentile": tail_pct, "samples": len(op_walls),
                        "beyond": sum(w > tail_s for w in op_walls)},
            "setup": setup, "environment": environment, "errors": errors[:20],
            "pass_walls": [p["wall"] for p in passes], "timeline": timeline,
            "pass_walls_raw": [p["raw_wall"] for p in passes],
            "stolen_share": [round(p["stolen_share"], 4) for p in passes],
            "verify_s": ctx.verify_s,
            "ops": {n: {"median": statistics.median(w), "q1_q3": quartiles(w), "n": len(w),
                        "cold": cold[n]["wall"], "jobs": cold[n]["spark"]["jobs"]}
                    for n, w in sorted(per_op.items())},
        }
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        with open(os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w", encoding="utf-8") as fh:
            json.dump({**detail, "metrics": metrics, "spans": tracer.to_json()}, fh, default=str)
        print(json.dumps({"detail": {k: detail[k] for k in ("workload", "passes", "measured_from", "op_tail", "errors", "pass_walls", "pass_walls_raw", "stolen_share", "timeline")}}))
        result = {
            "correct": not errors, "attempted": attempted, "failed": len(errors),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        shutdown(spark)
        spark = None
        print(json.dumps(result))
        return 0 if not errors else 1
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        if spark is not None:
            shutdown(spark)
        scratch.close()


if __name__ == "__main__":
    sys.exit(main())
