"""Driver-thread overlap for independent sub-pipelines (optimization
guide §2.6: "Overlap independent jobs").

Composite gate queries (q167, q233, q234, q229, q166, ...) run two or
three INDEPENDENT full pipelines — each with its own internal actions
(Lloyd checkpoint rounds, CC convergence probes, parquet checkpoints)
— and then combine small result frames. Sequential execution serializes
every one of those driver round-trips and leaves the cluster idle in
each branch's scheduling gaps and stage tails. Spark's scheduler runs
jobs submitted from several driver threads concurrently (FIFO: later
jobs back-fill executors the earlier job's tail frees), so evaluating
the branches on a small thread pool overlaps their idle time without
changing a single plan: each branch builds exactly the DataFrame it
built before, and the combined result is byte-identical.

This matters at every scale, not just the bench: on a real cluster the
same gates leave executors idle during each branch's stragglers, and
the back-fill is the documented mitigation.
"""

from __future__ import annotations

import contextvars
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

T = TypeVar("T")

# Branches per gate are 2-3; a small cap keeps concurrent jobs from
# fighting for executor slots (guide: "2-3 jobs in flight is plenty").
_MAX_WORKERS = 3


def run_concurrently(*thunks: Callable[[], T], max_workers: int | None = None) -> list[T]:
    """Evaluate independent thunks on driver threads; return their
    results in argument order. Exceptions propagate (first failing
    branch raises on the caller thread).

    Each thunk must be independent of its siblings (no shared mutable
    state beyond thread-safe caches) — true for the gate branches,
    which only share the immutable input tables. Thunks typically run
    eager actions (checkpoints, convergence loops) and return a lazy
    result frame over the materialized state; the caller composes those
    frames on its own thread.

    Each thunk runs in its own copy of the caller's context, so a
    branch's ``session.checkpoint`` records into the caller's
    ``released_blocks`` scope, and a scope the branch opens is its own.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    try:  # propagate JVM-side thread locals (job group/description/tags)
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession

        # With the session, the wrapper also copies its job tags
        # (spark.addTag); without one PySpark warns on every call.
        session = SparkSession.getActiveSession()
        wrap = inheritable_thread_target(session) if session else inheritable_thread_target
        wrapped = [wrap(t) for t in thunks]
    except Exception:  # pragma: no cover - fallback for odd runtimes
        wrapped = list(thunks)
    workers = min(max_workers or _MAX_WORKERS, len(thunks))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(contextvars.copy_context().run, w) for w in wrapped]
        return [f.result() for f in futures]
