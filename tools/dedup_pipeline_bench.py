"""End-to-end ×N dedup pipeline at DEFAULT heap — round-5 verdict ask #6.

Round-5's §4.2 curves measured the two halves separately (94.4s pair
materialization, then a 25-32s CC solve over checkpointed pairs). This
runs the COMPOSED pipeline — minhash-LSH pairs → connected components →
keep-list (min doc_id per component) → survivor count — as ONE plan
on the factory session (``session.get_spark``, default heap; set
SPARK_GRAFT_DRIVER_MEM to pin one) and records wall + spill from the
status store, so the datapoint shows the full production shape: nothing
is pre-materialized, the pair stream feeds the iterative solver directly,
and the solver's DISK_ONLY checkpoints (the round-5 ×100 OOM fix) bound
heap at any edge volume.

    python tools/dedup_pipeline_bench.py [factor] [cc_variant]
      factor      in-plan corpus replication (default 100 → 500k docs)
      cc_variant  min_label | star (default both)

Prints one JSON line; the BASELINE §4.2 composed-pipeline row comes
from this.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nextgenetl_spark.catalog import load  # noqa: E402
from nextgenetl_spark.operators import dedup as D  # noqa: E402
from nextgenetl_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402
from tools.spill_bench import SpillCounters  # noqa: E402


def replicate_docs(d, n):
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    return d.select("*", rep).select(
        (F.col("doc_id") * n + F.col("rep")).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.col("rep").cast("string")).alias("text"),
        "source",
    )


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    variants = sys.argv[2:] or ["min_label", "star"]
    spark = get_spark("dedup-pipeline-bench")
    counters = SpillCounters(spark)
    d = replicate_docs(load(spark, DEFAULT_SF_DIR, "documents"), factor)
    n_docs = d.count()
    out = {
        "factor": factor,
        "n_docs": n_docs,
        "heap_max_mb": int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20
        ),
    }
    for variant in variants:
        solver = D.connected_components if variant == "min_label" else D.connected_components_star
        t0 = time.time()
        # ONE composed plan: pairs are never materialized or counted
        # separately — the LSH pair stream feeds the solver directly and
        # the keep-list anti-join consumes the component map.
        pairs = D.minhash_near_dup_pairs(d, threshold=0.5).select("a_id", "b_id")
        comp = solver(pairs)  # (node, label); label = component min id
        # label IS the component's canonical minimum id, so the keep-list
        # is just node != label: every non-representative dup-group member
        drop = comp.filter(F.col("node") != F.col("label")).select("node")
        survivors = d.join(drop, d["doc_id"] == drop["node"], "left_anti")
        n_surv = survivors.count()
        t1 = time.time()
        wall = round(t1 - t0, 2)
        out[variant] = {
            "wall_s": wall,
            "survivors": n_surv,
            "dropped": n_docs - n_surv,
            **counters.spill(t0, t1),
        }
        print(f"  {variant}: {wall}s, {n_surv} survivors", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
