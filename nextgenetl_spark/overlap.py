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

A block that raises cancels its pool's remaining work before the error
propagates: callables that have not started never start, and the Spark
jobs of running ones are cancelled by a job tag the pool gives them (a
tag, not a job group, so they still count under the caller's group).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


@contextmanager
def overlap_pool(spark: SparkSession) -> Iterator[Callable[[Callable], Future]]:
    """Yield ``submit(fn) -> Future``; leaving the block waits for every
    submitted callable, and leaving it by an exception first cancels them.
    ``fn`` inherits the local properties the submitting thread holds at
    submit time."""
    sc = spark.sparkContext
    tag = f"overlap-{uuid.uuid4().hex}"
    futures: list[Future] = []

    def submit(fn: Callable) -> Future:
        def tagged():
            sc.addJobTag(tag)
            return fn()

        # Wrap each callable on its own: the wrapper installs one cloned
        # Properties object as the thread's local properties (the job tag
        # joins that copy), so a wrapper shared by two threads would let one
        # thread's setJobGroup write the other's.
        futures.append(pool.submit(inheritable_thread_target(spark)(tagged)))
        return futures[-1]

    with ThreadPoolExecutor(max_workers=sc.defaultParallelism) as pool:
        try:
            yield submit
        except BaseException:
            # cancelJobsWithTag reaches only the jobs active when it is
            # called, so repeat it until each callable has ended.
            running = [f for f in futures if not f.cancel()]
            while not all(f.done() for f in running):
                sc.cancelJobsWithTag(tag)
                wait(running, timeout=0.01)
            raise


def overlap(spark: SparkSession, fns: list[Callable]) -> list:
    """Run ``fns`` concurrently and return their results in submission
    order. The first failure (in that order) cancels the callables still
    running and is raised once every callable has ended."""
    with overlap_pool(spark) as submit:
        futures = [submit(fn) for fn in fns]
        return [f.result() for f in futures]
