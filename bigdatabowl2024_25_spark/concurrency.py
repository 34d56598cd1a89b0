"""Driver-side overlap of independent construction-time Spark jobs.

Several suite queries pay most of their wall time BEFORE the final
collect: eager ``localCheckpoint`` lineage cuts run ``toRdd``
mini-executions at construction under AQE, tokenizer trainers loop
driver-side probes, sink roundtrips write at build time, and the
size-adaptive connected-components executes its strategy count when
called. Those jobs are independent across union branches, yet they
run strictly one after another because the driver builds branches
sequentially — leaving a 32-core local box (or a 1000-executor
cluster) mostly idle during each one's tail.

Spark's scheduler happily runs several jobs at once inside one
application (actions are only sequential because driver code calls
them sequentially — optimization-guide §2.6), and FIFO scheduling
gives exactly the back-fill behaviour wanted here: the earlier job's
straggler tail is padded with the next job's tasks. This helper is
the one sanctioned way the suite overlaps such work, so the pattern
stays greppable and bounded.

Thread-safety notes: DataFrame/Column construction is py4j calls
(released GIL during JVM work). Spark's local properties (job
description, job group, scheduler pool, any caller label) are
thread-local, and in PySpark's pinned-thread mode a new Python thread
starts with none of them: each builder is therefore wrapped with
``pyspark.inheritable_thread_target`` in the calling thread, so it
runs with its own copy of the caller's properties, and concurrent
builders do not clobber each other's labels. Builders must not mutate
shared Python state.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

T = TypeVar("T")

#: cap on concurrent construction jobs per call — enough to fill a
#: straggler tail, not so many that mini-jobs fight for executors
#: (guide §2.6: "2-3 jobs in flight is plenty"; branches here are
#: mini-jobs of a few hundred ms, so a slightly deeper pool pays)
MAX_WORKERS = 8


def build_concurrently(
    builders: dict[str, Callable[[], T]],
) -> dict[str, T]:
    """Run independent 0-arg builders in driver threads; return their
    results keyed like the input (insertion order preserved, so a
    union built from the result dict has a deterministic branch
    order). Any builder exception propagates to the caller — but only
    AFTER every sibling builder has run to completion (results are
    gathered in insertion order and the pool's context join waits for
    all threads), so a failing branch does not cancel the others'
    in-flight Spark jobs; it does guarantee no half-built branch is
    still running by the time the exception surfaces (ADVICE r15
    wording fix)."""
    if len(builders) <= 1:
        return {k: fn() for k, fn in builders.items()}
    try:
        # active(), not getActiveSession(): a nested call runs in a
        # builder thread, which has no active session of its own but
        # does carry the inherited properties to pass on
        session = SparkSession.active()
    except PySparkRuntimeError:  # no Spark session: no labels to carry
        session = None
    # one wrap per builder: each gets its own copy of the properties,
    # taken here in the calling thread
    targets = {
        k: fn if session is None else inheritable_thread_target(session)(fn)
        for k, fn in builders.items()
    }
    with ThreadPoolExecutor(
        max_workers=min(MAX_WORKERS, len(builders))
    ) as pool:
        futures = {k: pool.submit(fn) for k, fn in targets.items()}
        return {k: f.result() for k, f in futures.items()}
