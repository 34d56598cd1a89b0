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

Checkpoints and caches go through `boundary`: a checkpoint is
reliable (files under `sc.setCheckpointDir`) when the deployment set a
checkpoint dir, and `localCheckpoint` otherwise.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundary import cache, cut, release

#: symmetric edge count at or below which one union-find task solves
#: the whole graph instead of the distributed min-label loop
SMALL_GRAPH_EDGES = 5_000_000
#: min-label rounds between lineage-truncating checkpoints
CHECKPOINT_EVERY = 5


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
    (`boundary.cut`: reliable when a checkpoint dir is set, local
    otherwise), truncating lineage to a leaf.

    Boundary lifecycle: each round's cached labels are released once
    the next round's frame exists. A checkpoint is released only
    after the NEXT eager checkpoint exists: the per-round `limit(1)`
    probe does not materialize every partition of the cached rounds
    that follow it, so their lineage still anchors on it (a reliable
    checkpoint's files stay with the checkpoint dir). The frame backing
    the RETURNED DataFrame is left alive — it is freed when the caller
    drops the result and the ContextCleaner collects it."""
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = cache(sym.distinct())
    if sym.count() <= SMALL_GRAPH_EDGES:
        # materialize before dropping the cached edges it reads
        out = cut(_components_single_task(sym))
        release(sym)
        return out
    labels = cache(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
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
        checkpoint_round = rnd % CHECKPOINT_EVERY == 0
        # a checkpoint round's cut is eager: it truncates the logical
        # plan AND materializes
        new_full = cut(new_full) if checkpoint_round else cache(new_full)
        changed = (
            new_full.filter(F.col("component") < F.col("old"))
            .limit(1)
            .count()
        )
        # release the boundary frame itself, not a projection of it;
        # the last checkpoint waits for the next one (see docstring)
        if labels is not last_cp:
            release(labels)
        if checkpoint_round:
            if last_cp is not None:
                release(last_cp)
            last_cp = new_full
        labels = new_full
        if changed == 0:
            break
    release(sym)
    return labels.select("node", "component")
