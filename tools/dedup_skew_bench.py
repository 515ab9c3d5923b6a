"""Skewed dedup-graph CC experiment — round-5 verdict ask #7.

Every §4.2 dedup scale curve used uniform replication, so the connected-
components comparison never saw the graph shape real near-dup corpora
produce: HUB components (one boilerplate template shared by ~100k docs →
one high-degree representative in the pair graph). This builds that graph
directly and measures both CC variants with the §4.4 per-task REST
metric, because the skew story of an iterative solver is invisible in
wall time on a timesharing local[32] but becomes the wall on a cluster.

Graph = what a 100k-doc template cluster's pair output looks like after
bounded pair emission (the LSH/banding stages guard their own bucket
blow-ups — measured separately in §4.2; the open question was the SOLVER
under a hub): one component with a 100k-degree center plus a member ring,
and 100k background 5-node chain components (~500k uniform nodes).

    python tools/dedup_skew_bench.py [hub_size] [bg_chains]

Prints one JSON line; the BASELINE §4.2 hub-graph row comes from this.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nextgenetl_spark.operators import dedup as D  # noqa: E402
from nextgenetl_spark.session import get_spark  # noqa: E402
from tools.skew_bench import _reduce_task_skew, _StageCounters  # noqa: E402

CHAIN_LEN = 5
BG_BASE = 10_000_000


def build_edges(spark, n_hub: int, n_bg_chains: int):
    """(a_id, b_id) edge list: hub star + member ring, plus uniform
    background chains. Node 0 is the template representative with degree
    n_hub-1 — every min-label round shuffles all its edges to one reducer."""
    # center gets a HIGH id (real template representatives are arbitrary
    # ids): the component minimum is a leaf, so the min label must flow
    # leaf -> center -> every member instead of converging in one round
    center = BG_BASE * 2
    hub_star = spark.range(1, n_hub).select(
        F.lit(center).cast("long").alias("a_id"), F.col("id").alias("b_id")
    )
    hub_ring = spark.range(1, n_hub - 1).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    n_bg_nodes = n_bg_chains * CHAIN_LEN
    bg = (
        spark.range(n_bg_nodes)
        .filter(F.col("id") % CHAIN_LEN != CHAIN_LEN - 1)
        .select(
            (F.col("id") + BG_BASE).alias("a_id"),
            (F.col("id") + BG_BASE + 1).alias("b_id"),
        )
    )
    return hub_star.union(hub_ring).union(bg)


def main() -> None:
    n_hub = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_bg = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    spark = get_spark("dedup-skew-bench")
    counters = _StageCounters(spark)
    edges = build_edges(spark, n_hub, n_bg).localCheckpoint()
    n_edges = edges.count()
    out = {"hub_size": n_hub, "bg_chains": n_bg, "n_edges": n_edges}
    for variant, solver in (
        ("min_label", D.connected_components),
        ("star", D.connected_components_star),
    ):
        walls, tasks, n_comp = [], None, None
        for _ in range(2):
            t0 = time.time()
            comp = solver(edges)
            n_comp = comp.select("label").distinct().count()
            t1 = time.time()
            walls.append(round(t1 - t0, 2))
            tasks = _reduce_task_skew(spark, counters, t0, t1) or tasks
        out[variant] = {
            "wall_s": min(walls),
            "components": n_comp,
            "reduce_tasks": tasks,
        }
        print(f"  {variant}: {out[variant]}", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
