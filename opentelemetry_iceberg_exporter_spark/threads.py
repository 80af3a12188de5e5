"""Concurrent Spark jobs from one driver call.

The independent writes of one batch (the demuxed metric frames a
catalog sink commits) are each a chain of short Spark jobs separated by
driver work: plan analysis, footer reads, the catalog commit. Run one
after another, the executors idle through every driver gap and each
small job uses a few cores. Started from a few driver threads, the gaps
of one write overlap the jobs of another; Spark's scheduler is built for
jobs submitted from several threads.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")
R = TypeVar("R")


def map_concurrently(
    spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]
) -> list[R]:
    """fn(item) for every item, on min(len(items), defaultParallelism)
    threads; results in item order. One item runs inline.

    Each thread runs through `pyspark.inheritable_thread_target`, so the
    caller's Spark local properties (job group, job description,
    scheduler pool) and session tags carry over: a job group set around
    the call still covers, and can cancel, every job the threads start.

    Every call runs to completion before anything is raised; then the
    first failure in item order re-raises. A failing item never abandons
    the others half-written."""
    from pyspark import inheritable_thread_target

    items = list(items)
    if len(items) <= 1:
        return [fn(item) for item in items]
    wrap = inheritable_thread_target(spark)
    # without pinned threads there is nothing to inherit and the call
    # hands the session back instead of a decorator
    target = fn if wrap is spark else wrap(fn)
    workers = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(target, item) for item in items]
    for future in futures:
        exc = future.exception()
        if exc is not None:
            raise exc
    return [future.result() for future in futures]
