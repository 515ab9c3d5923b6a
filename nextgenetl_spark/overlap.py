"""Run independent Spark actions at the same time.

Spark plans every action on its own, so concurrent actions on one session
share only the scheduler (*Spark SQL*, SIGMOD 2015). At small scale most
jobs are a single task, and a caller that submits its actions one after
another leaves the other cores idle; actions that share no input can
overlap without changing any plan.

Each callable runs in a pool thread wrapped by
``pyspark.util.inheritable_thread_target``: in pinned-thread mode local
properties (the job group among them) are per thread, and a plain pool
thread would start with none, so its jobs would escape the caller's
``cancelJobGroup`` and per-group job counts. The pool is bounded by
``sc.defaultParallelism``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


@contextmanager
def overlap_pool(spark: SparkSession) -> Iterator[Callable[[Callable], Future]]:
    """Yield ``submit(fn) -> Future``; leaving the block waits for every
    submitted callable. ``fn`` inherits the local properties the submitting
    thread holds at submit time."""
    with ThreadPoolExecutor(max_workers=spark.sparkContext.defaultParallelism) as pool:
        # Wrap each callable on its own: the wrapper installs one cloned
        # Properties object as the thread's local properties, so a wrapper
        # shared by two threads would let one thread's setJobGroup write
        # the other's.
        yield lambda fn: pool.submit(inheritable_thread_target(spark)(fn))


def overlap(spark: SparkSession, fns: list[Callable]) -> list:
    """Run ``fns`` concurrently and return their results in submission
    order. The first failure (in that order) is raised once every callable
    has ended."""
    with overlap_pool(spark) as submit:
        futures = [submit(fn) for fn in fns]
        return [f.result() for f in futures]
