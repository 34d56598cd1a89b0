"""Connected components — the clustering stage of the dedup pipeline
(near-dup PAIRS from LSH/Jaccard become GROUPS; one keeper survives
per group). One entry point, `connected_components`, with two
executions chosen by edge count:

- at or below `SMALL_GRAPH_EDGES` symmetric edges, union-find in ONE
  mapInPandas task (the post-funnel pair list is tiny next to the
  corpus; distributed rounds would be pure job scheduling);
- above it, iterative min-label propagation: each round every node
  adopts the minimum label among itself and its neighbors, as one
  join + one aggregate on the node key, until no label changes —
  at most component diameter + 1 rounds. Near-dup clusters are
  shallow (pairs share a common origin), so a handful of rounds
  suffices at any corpus size. Intermediate labels are persisted,
  and every `CHECKPOINT_EVERY` rounds checkpointed, so the lineage
  stays bounded (the classic iterative-Spark footgun).

Checkpoints are reliable (files under `sc.setCheckpointDir`) when the
deployment set a checkpoint dir, and `localCheckpoint` otherwise.
"""

from __future__ import annotations

import itertools
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)
_release_failed_once = False

#: symmetric edge count at or below which one union-find task solves
#: the whole graph instead of the distributed min-label loop
SMALL_GRAPH_EDGES = 5_000_000
#: min-label rounds between lineage-truncating checkpoints
CHECKPOINT_EVERY = 5


def _release_checkpoint(df: DataFrame) -> None:
    """Free a superseded localCheckpoint's executor-storage blocks.
    `DataFrame.unpersist()` doesn't reach them (the plan is a
    LogicalRDD leaf, not a cached plan), so this goes through the
    leaf's underlying RDD. Best-effort across Spark minor versions:
    on any internal-API drift the blocks are instead reclaimed by the
    ContextCleaner when the driver GCs the reference — later, but
    still bounded. The drift is WARN-logged once per process (not
    swallowed silently: a Spark upgrade reverting this to
    accumulate-until-GC is worth knowing about)."""
    global _release_failed_once
    try:
        df._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)
    except Exception as exc:
        if not _release_failed_once:
            _release_failed_once = True
            _log.warning(
                "superseded-checkpoint release failed (%s: %s); falling "
                "back to ContextCleaner GC reclamation — executor "
                "storage will grow until the driver collects old label "
                "frames. Probably a private-Spark-API drift in "
                "_release_checkpoint.",
                type(exc).__name__,
                exc,
            )


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager lineage-truncating checkpoint. Reliable
    (`df.checkpoint`, files under the SparkContext's checkpoint dir —
    survives executor loss, which a 1000-executor multi-hour CC run
    needs) when the deployment has called `sc.setCheckpointDir(...)`;
    otherwise `localCheckpoint` — executor-storage blocks, no extra
    I/O, unrecoverable if an executor dies (lineage is gone), right
    for local[n] and restartable batch jobs."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def _components_single_task(sym: DataFrame) -> DataFrame:
    """Union-find over ONE task: the whole (deduped, symmetric) edge
    set flows through a single mapInPandas partition and comes back
    as (node, component = min reachable id). Not a driver collect —
    the work stays on an executor; it is simply not parallel, which
    is exactly right when the edge list is small enough that the
    iterative algorithm's per-round job scheduling dominates (measured
    ~9 s for a 600-node graph at sf0.1 vs ~0.3 s here)."""
    from typing import Iterator

    import pandas as pd

    def solve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in it:
            for a, b in zip(pdf["a"], pdf["b"]):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps roots = min-so-far, so the
                    # final relabel below is a pure lookup
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        nodes = sorted(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return sym.select("a", "b").coalesce(1).mapInPandas(
        solve, "node long, component long"
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(node, component) for every node in `edges`, component = min
    node id reachable.

    Size-adaptive execution: the symmetric edge set is counted once
    (it is persisted anyway); at or below `SMALL_GRAPH_EDGES` edges
    the whole problem routes to `_components_single_task` — after an
    LSH funnel the verified near-dup pair list is typically orders of
    magnitude smaller than the corpus, and 5M edges in one union-find
    task costs seconds, while six distributed rounds of joins cost the
    same in pure job scheduling. Above it (a 100 TB corpus with
    billions of candidate pairs) the min-label loop below does the
    work with bounded per-round state, until a round changes no label
    (at most component diameter + 1 rounds).

    persist() keeps each round's DATA from recomputing, but the logical
    plan still deepens linearly with rounds — on a long-chain graph the
    planner cost itself becomes the bottleneck, so every
    `CHECKPOINT_EVERY` rounds the labels are checkpointed
    (`_checkpoint`: reliable when a checkpoint dir is set, local
    otherwise), truncating lineage to a leaf.

    Checkpoint lifecycle: `unpersist()` is a NO-OP on a checkpointed
    DataFrame, so superseded checkpoint blocks would pile up in
    executor storage across long runs; each eager checkpoint therefore
    explicitly releases the previous one (safe: eager ⇒ the new
    blocks are fully materialized before the old lineage anchor is
    dropped; a no-op for reliable checkpoints, whose files are
    cleaned with the checkpoint dir). The newest checkpoint backs the
    RETURNED DataFrame and is left alive — its blocks are freed when
    the caller drops the result and the ContextCleaner collects it."""
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.distinct().persist()
    if sym.count() <= SMALL_GRAPH_EDGES:
        out = _components_single_task(sym)
        # materialize before dropping the cached edges it reads
        out = _checkpoint(out)
        sym.unpersist()
        return out
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    last_cp: DataFrame | None = None
    for rnd in itertools.count(1):
        msgs = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "component")
        )
        # the node's own (old) label rides through the min-agg as a
        # second column, so convergence is a filter on the aggregated
        # table — NOT an extra new⋈old join per round. In an
        # all-scheduling-overhead loop (labels are tiny next to the
        # cluster) that join was ~a third of every round's wall time.
        new_full = (
            labels.select(
                "node", "component", F.col("component").alias("old")
            )
            .unionByName(
                msgs.select(
                    "node", "component", F.lit(None).cast("long").alias("old")
                )
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("old").alias("old"),
            )
        )
        release_at_round_end = None
        if rnd % CHECKPOINT_EVERY == 0:
            # eager: truncates the logical plan AND materializes
            new_full = _checkpoint(new_full)
            # the old checkpoint can only be released at round end:
            # this round's changed-count reads the previous round's
            # labels, whose (possibly partially-cached) lineage
            # anchors on the old checkpoint
            release_at_round_end, last_cp = last_cp, new_full
        else:
            new_full = new_full.persist()
        changed = (
            new_full.filter(F.col("component") < F.col("old"))
            .limit(1)
            .count()
        )
        # unpersist the cached frame itself, not a projection of it
        # (unpersist on a derived DataFrame is a no-op)
        labels.unpersist()
        labels = new_full
        if release_at_round_end is not None:
            _release_checkpoint(release_at_round_end)
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("node", "component")
