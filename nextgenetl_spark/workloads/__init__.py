"""Oracle-paired query registry — the driver-contract surface.

Each workload is a (spark, sf_dir) -> DataFrame callable plus (usually) an
equivalent DuckDB SQL string. The driver runs both at sf0.01 and compares
row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides,
- float aggregates are rounded on both sides (fp accumulation order differs
  between engines; rounding pins the comparable value),
- DuckDB's HUGEINT sums and DOUBLE epochs are cast to match Spark's types.

Modules self-register via the ``@workload`` decorator at import time.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Workload:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check


REGISTRY: dict[str, Workload] = {}


def workload(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Workload(name, fn, oracle)
        return fn

    return deco


def _oracle_verified() -> dict[str, int]:
    """Names with a green row in any prior round's CORRECTNESS_r*.json
    (driver-written at the repo root), mapped to the NEWEST round number
    that recorded green evidence. The driver's per-round check walks
    queries() in registration order and may not reach the end of the list,
    so load_all() registers everything *without* prior oracle evidence
    first — reading the files keeps the prioritization current every round
    with no manual list to maintain. The round number lets the verified
    tier order oldest-evidence-first, so the driver's fixed check budget
    continuously rotates re-verification onto the stalest green rows
    (round-4 verdict ask #1) instead of re-checking the same recent ones."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path, encoding="utf-8") as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            # An ∅-oracle entry can never earn a hash row — the driver
            # records `err: no_oracle` forever. Count that recorded row as
            # "checked" so these entries stop squatting the unverified tier
            # and burning check-budget slots every round (round-2 verdict #1).
            # Negative round number marks "checked but never hash-green":
            # load_all() honors it ONLY while the workload still has no
            # oracle, so an entry that later GAINS an oracle (round 7:
            # compression_ratio's literal-VALUES oracle) auto-promotes back
            # to the unverified tier and earns a real green row.
            if row.get("err") == "no_oracle":
                if green.get(name, 0) <= 0:
                    green[name] = min(green.get(name, 0), -rnd)
                continue
            if row.get("err"):
                continue
            if row.get("hash_match"):
                green[name] = max(green.get(name, 0), rnd)
            elif row.get("rows_match") and "hash_match" not in row:
                # rows-only pass (the driver's weaker check for ∅-oracle
                # entries). Encoded NEGATIVE like no_oracle rows (round-7
                # ADVICE): a rows-only green settles the entry only while
                # it still has no oracle — once it gains one, load_all()
                # re-promotes it to the unverified tier for a real
                # hash-green row, same as the no_oracle history path.
                if green.get(name, 0) <= 0:
                    green[name] = min(green.get(name, 0), -rnd)
    return green


def load_all() -> dict[str, Workload]:
    """Import every workload module (side-effect: registry population) and
    order the registry for a checker that walks it front to back: entries
    without green oracle evidence first, in import order, then the verified
    ones, oldest newest-evidence round first. The sort is stable, so import
    order breaks ties."""
    from nextgenetl_spark.workloads import text  # noqa: F401  isort: skip
    from nextgenetl_spark.workloads import similarity  # noqa: F401  isort: skip
    from nextgenetl_spark.workloads import relational  # noqa: F401  isort: skip
    from nextgenetl_spark.workloads import (  # noqa: F401
        arrays,
        events,
        files,
        multimodal,
        pipelines,
    )

    # A negative round number means "checked but only ever as no_oracle":
    # that counts as settled ONLY while the entry still has no oracle — an
    # entry that gained one since re-enters the unverified tier.
    verified = {
        n: abs(rnd)
        for n, rnd in _oracle_verified().items()
        if rnd > 0 or (n in REGISTRY and REGISTRY[n].oracle is None)
    }
    ordered = sorted(REGISTRY.items(), key=lambda kv: (kv[0] in verified, verified.get(kv[0], 0)))
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
