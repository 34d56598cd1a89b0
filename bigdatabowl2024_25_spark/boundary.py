"""Materialization boundaries: the one module that decides how a
DataFrame is cut, cached and released.

- `cut(df, eager=True)`: a lineage cut — the plan becomes a leaf, so
  iterative loops keep a constant-size plan. A reliable `checkpoint`
  (files under the checkpoint dir; survives executor loss, which a
  1000-executor multi-hour run needs) when the deployment has called
  `sc.setCheckpointDir(...)`, else `localCheckpoint` (executor-storage
  blocks, no extra I/O, lost with their executor — right for local[n]
  and restartable batch jobs).
- `cache(df)`: `persist` at the DataFrame default level. The plan
  keeps its tree; its consumers read the cached relation instead of
  re-running the subtree (fan-out frames such as `pipelines.corpus`'
  stage boundaries and the components loop's per-round labels).
- `release(df)` frees either kind; `BoundaryCaches` is a scope that
  releases every boundary made through it when it exits.

Lazy cuts, not persist, for the per-round loop frames of
`operators.graph` — round 15 measured the swap on q74 and REJECTED
it, recorded here so the next reader doesn't re-run the experiment:

1. Under AQE, ``localCheckpoint(eager=False)`` calls ``toRdd`` at
   construction, which executes the subtree's shuffle stages
   immediately as a standalone mini-execution — q74 measured ~11 s
   construct / ~1 s collect. That LOOKS like waste, but for the
   serial round chain the mini-jobs do exactly the work the final
   collect would otherwise do: swapping them for persist() left the
   fused q74 union at parity (10.8-11.0 s both ways).
2. persist() does NOT truncate the visible/logical plan — each round
   still embeds the previous round's tree ~3× (explain string
   measured 8.8 KB → 85 KB over iterations 1→3), the exact blowup
   the plan test pins (`test_pagerank_round_is_join_plus_agg`) and
   the reason the cut exists.
3. persist() on the FAN-OUT frames (``e``, ``base``, ``nodes``, q74's
   ``pr_edges``) actively regressed the fused union 10.8 → 19 s: the
   union's branches consume them from parallel stages, so
   uncached-yet InMemoryRelations race their population (duplicated
   upstream work), and cached plans bypass AQE partition coalescing
   (`canChangeCachedPlanOutputPartitioning` defaults false; enabling
   it recovered only 1 s).

Net: construction-time materialization via toRdd is the right
behavior for both frame classes there — it serializes shared
materializations exactly once and keeps per-round plans constant-size.
Full A/B table in SCALE.md's round-15 q74 section.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_release_failed_once = False


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cache(df: DataFrame) -> DataFrame:
    return df.persist()


def release(df: DataFrame) -> None:
    """Free a boundary `cut` or `cache` returned (that frame, not a
    projection of it). A cut is out of `unpersist()`'s reach (its plan
    is a LogicalRDD leaf, not a cached plan), so its RDD is unpersisted
    through a private API; a reliable cut's files stay with the
    checkpoint dir. Should that API drift in a later Spark, the
    ContextCleaner still reclaims the blocks once the frame is
    garbage-collected — later, but bounded — and the drift is
    WARN-logged once per process rather than swallowed."""
    global _release_failed_once
    if df.is_cached:
        df.unpersist()
        return
    try:
        df._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)
    except Exception as exc:
        if not _release_failed_once:
            _release_failed_once = True
            _log.warning(
                "checkpoint release failed (%s: %s); executor storage "
                "now grows until old checkpoints are garbage-collected — "
                "probably a private-Spark-API drift in boundary.release",
                type(exc).__name__,
                exc,
            )


class BoundaryCaches:
    """The boundaries made through this scope, released together — so
    a long-lived session (a service calling `prepare_corpus` per
    request, a stream's per-batch body, a trainer loop) does not
    accrete executor storage until `spark.catalog.clearCache()`::

        with BoundaryCaches() as bc:
            out = prepare_corpus(df, caches=bc)
            out.write.parquet(dest)   # actions run while caches live
        # boundaries released here

    or keep it open across actions and call `release()`. Releasing a
    cache before the output's LAST action only costs a recompute; a
    released local cut cannot be recomputed, so a result that must
    outlive the scope is cut with the module-level `cut`."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        self._dfs.append(cut(df, eager))
        return self._dfs[-1]

    def cache(self, df: DataFrame) -> DataFrame:
        self._dfs.append(cache(df))
        return self._dfs[-1]

    def release(self) -> None:
        for d in self._dfs:
            release(d)
        self._dfs.clear()

    def __len__(self) -> int:
        return len(self._dfs)

    def __enter__(self) -> "BoundaryCaches":
        return self

    def __exit__(self, *exc) -> None:
        self.release()
