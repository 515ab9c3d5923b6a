"""Spans, Spark counters and stream progress, all read from outside the engine.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory;
  ``self_times`` turns them into per-layer self time: a span's duration minus
  the part of its interval that its child spans cover.
* ``SparkCounters`` reads jobs and stages from the application status store
  (``sc.statusStore()``, which is populated even with the UI disabled) and
  attributes them to op windows by time, not by job group: the engine's
  thread pools drop the thread-local job group.
* ``phases`` reads Catalyst phase times from the QueryExecution of the
  DataFrame that ran the action.
* ``now`` and ``unstolen`` time an interval without what the CPU time the
  hypervisor took from this virtual machine cost it.
* ``StreamProgress`` is a StreamingQueryListener that keeps each micro-batch's
  progress record.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: int


class Tracer:
    """In-memory span recorder. When disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, self.run))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span], run: int | None = None) -> dict[str, float]:
    """Sum of self time per span name (optionally for one run id)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if run is not None and s.run != run:
            continue
        covered = _union([(max(a, s.start), min(b, s.end)) for a, b in children.get(i, []) if b > s.start and a < s.end])
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Time in [lo, hi] covered by at least one interval."""
    return _union([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi])


def now() -> tuple[float, float, float]:
    """(perf_counter, busy CPU seconds, stolen CPU seconds) of the host, the
    CPU times summed over all its CPUs since boot (``/proc/stat``). Stolen
    time is time a runnable virtual CPU waited while the hypervisor ran
    another guest; it is 0 on bare metal."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    steal = f[7] if len(f) > 7 else 0
    return time.perf_counter(), (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, steal / hz


# What a stolen CPU second costs the wall, against a busy one. More than 1:
# a stage waits for its slowest task, and the driver thread runs alone between
# stages, so a stall on one virtual CPU holds up the others. Over the recorded
# runs of both workloads on a 4-vCPU host (ten- and five-seed sets, stolen
# shares up to 0.35), the median of the measured passes spread least across
# runs with 2: a mean interquartile range of 8% of the median, against 10%
# with 1, 11% with 3 and 17% uncorrected.
STOLEN_WEIGHT = 2.0


def unstolen(t0: tuple[float, float, float], t1: tuple[float, float, float]) -> float:
    """Wall seconds between two ``now()`` samples without what the
    hypervisor's stolen time cost. The benchmark's threads ran ``busy`` CPU
    seconds and waited ``stolen`` more; the wall is scaled by
    busy / (busy + STOLEN_WEIGHT * stolen)."""
    wall, busy, stolen = (b - a for a, b in zip(t0, t1))
    if busy + stolen <= 0:
        return wall
    return wall * busy / (busy + STOLEN_WEIGHT * stolen)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Jobs and stages from the status store, read incrementally."""

    STAGE_FIELDS = (
        "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
        "shuffleWriteBytes", "diskBytesSpilled", "numTasks",
    )

    def __init__(self, spark):
        self._store = spark._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self.jobs: list[dict] = []
        self.stages: list[dict] = []

    def poll(self) -> None:
        """Fetch jobs and stages that completed since the last poll."""
        for j in self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(self._store.jobsList(None)):
            jid = j.jobId()
            if jid in self._seen_jobs or not j.completionTime().isDefined():
                continue
            self._seen_jobs.add(jid)
            self.jobs.append({"start": _opt_ms(j.submissionTime()), "end": _opt_ms(j.completionTime())})
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for st in self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages):
            key = (st.stageId(), st.attemptId())
            if key in self._seen_stages or not st.completionTime().isDefined():
                continue
            self._seen_stages.add(key)
            rec = {f: getattr(st, f)() for f in self.STAGE_FIELDS}
            rec["start"] = _opt_ms(st.submissionTime()) or _opt_ms(st.completionTime())
            self.stages.append(rec)

    def window(self, lo: float, hi: float) -> dict:
        """Counters of the jobs and stages submitted in [lo, hi] (epoch s)."""
        jobs = [j for j in self.jobs if j["start"] is not None and lo <= j["start"] <= hi]
        stages = [s for s in self.stages if lo <= s["start"] <= hi]
        return {
            "jobs": len(jobs),
            "job_busy_s": busy([(j["start"], j["end"]) for j in jobs], lo, hi),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        }


PHASES = ("analysis", "optimization", "planning")


def phases(df) -> dict[str, float]:
    """Catalyst phase seconds of the DataFrame that ran the action."""
    tracked = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = tracked.get(p)
        out[p] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_listener():
    """A StreamingQueryListener that appends one record per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            self.batches.append({
                "start": _iso_s(p.timestamp),
                "input_rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def window(self, lo: float, hi: float) -> dict:
            bs = [b for b in self.batches if lo <= b["start"] <= hi]
            out = {k: sum(b[k] for b in bs) for k in ("input_rows", "trigger_ms", "add_batch_ms", "planning_ms", "commit_ms")}
            out["batches"] = len(bs)
            out["state_rows"] = max((b["state_rows"] for b in bs), default=0)
            out["state_mem_bytes"] = max((b["state_mem_bytes"] for b in bs), default=0)
            return out

    return StreamProgress()
