"""Overlap independent sub-pipelines of one query (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; the one composite query that uses this,
``dedup_quality_scoreboard``, materializes its independent branches
concurrently instead of letting one branch's eager action (a candidate
checkpoint) serialize the rest.

The package starts threads in exactly two places: ``run_branches``
here, and ``operators.refresh.refresh_many``, which runs one worker per
refresh target behind its concurrency window. In both, threads MUST
be ``pyspark.InheritableThread``: under py4j's pinned thread mode (the
default) every Python thread that touches the JVM gets its own
JVM-side connection THREAD, and a plain ``ThreadPoolExecutor``
worker leaks it when it exits — measured ~50 leaked JVM threads per
scoreboard invocation, degrading every query that ran later in the
same session (the r09 bench regression: untouched TPC-H tail +19%
while the early ambient probe got faster). ``InheritableThread`` both
inherits the parent's thread-local properties (job group/description)
and deletes its py4j connection when the target returns.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession


def run_branches(
    spark: SparkSession,
    label: str,
    branches: dict[str, Callable[[], DataFrame]],
) -> dict[str, DataFrame]:
    """Materialize each branch concurrently (localCheckpoint, then a
    narrow coalesce(1) over the checkpointed blocks — every caller's
    branch output is pair/topk-sized) and return {name: DataFrame}.
    The first branch exception, if any, is re-raised in the caller."""
    sc = spark.sparkContext
    results: dict[str, DataFrame] = {}
    errors: dict[str, BaseException] = {}

    def _run(name: str, fn: Callable[[], DataFrame]) -> None:
        try:
            sc.setJobDescription(f"{label}: {name}")
            results[name] = fn().localCheckpoint().coalesce(1)
        except BaseException as e:  # re-raised in the caller below
            errors[name] = e
        finally:
            sc.setJobDescription(None)

    threads = [
        InheritableThread(target=_run, args=(name, fn))
        for name, fn in branches.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        name, err = next(iter(errors.items()))
        others = [n for n in errors if n != name]
        suffix = f" (further failed branches: {', '.join(others)})" if others else ""
        raise RuntimeError(f"{label}: branch {name!r} failed{suffix}") from err
    return results
