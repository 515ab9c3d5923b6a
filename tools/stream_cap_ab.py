"""Per-entry A/B of the bounded-replay state-store partition cap
(r12 verdict ask #4: the 16/8 caps were sized once globally, not measured
per entry). Interleaved within one session: for each streaming entry, run
the workload at each candidate cap in rotation, reps x caps, min per cap.
The cap only changes state-store partition COUNT (replay_shuffle_cap);
results are identical by construction — asserted on first pass per entry.

Usage: python tools/stream_cap_ab.py [reps] [entry ...]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nextgenetl_spark.session import get_spark
from nextgenetl_spark.workloads import load_all
import nextgenetl_spark.streaming.source as SRC

CAPS = [4, 8, 16]
ENTRIES = [
    "stream_value_quantiles",
    "stream_sessionize",
    "stream_sliding_window",
    "stream_debounce",
    "stream_interval_join",
]

_ORIG = SRC.run_memory_replay
_CAP = {"v": None}


def _patched(spark, out, name, output_mode="append", cap=16):
    return _ORIG(spark, out, name, output_mode, _CAP["v"] or cap)


SRC.run_memory_replay = _patched


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    entries = sys.argv[2:] or ENTRIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark("stream_cap_ab")
    spark.range(1000).selectExpr("sum(id)").collect()

    import bench

    for name in entries:
        fn = registry[name].fn
        mode = bench.HEADLINE.get(name, "count")
        # identity across caps
        ref = None
        walls = {c: [] for c in CAPS}
        for r in range(reps + 1):  # rep 0 = warm-up + identity check
            for cap in CAPS:
                _CAP["v"] = cap
                t0 = time.time()
                df = fn(spark, sf_dir)
                if r == 0:
                    rows = sorted(map(tuple, df.collect()))
                    if ref is None:
                        ref = rows
                    else:
                        assert rows == ref, f"{name}: cap {cap} changed results!"
                else:
                    if mode == "collect":
                        df.collect()
                    else:
                        df.count()
                    walls[cap].append(round(time.time() - t0, 3))
                del df
        _CAP["v"] = None
        print(f"{name}: " + "  ".join(
            f"cap{c}: min {min(w):.3f} {w}" for c, w in walls.items()))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
