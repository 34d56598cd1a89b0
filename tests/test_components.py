"""connected_components: correctness on adversarial graph shapes and
the lineage-truncation (checkpoint) path.

The oracle-gated q74 covers the realistic shallow near-dup clusters;
these tests cover the shapes that stress the ITERATION itself — a long
chain whose diameter forces many rounds straight through several
checkpoint boundaries. The `distributed` fixture sets
`SMALL_GRAPH_EDGES = 0`, so every edge set takes the min-label loop
instead of the single-task union-find."""

from __future__ import annotations

import os

import pytest

from bigdatabowl2024_25_spark.operators import components
from bigdatabowl2024_25_spark.operators.components import connected_components


def _labels(df):
    return {r.node: r.component for r in df.collect()}


@pytest.fixture
def distributed(monkeypatch):
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)


def test_long_chain_through_checkpoints(spark, distributed):
    """A 0-1-2-...-29 path graph: diameter 29, so min-label needs 30
    rounds (plus one that changes nothing), crossing the every-5-rounds
    checkpoint six times. There is no round cap: every node must land
    in component 0, including the far end of the chain."""
    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = _labels(connected_components(edges))
    assert out == {i: 0 for i in range(n)}


def test_two_chains_and_a_clique(spark, distributed):
    """Mixed shapes in one edge set: two disjoint chains + a clique;
    components must not leak across."""
    chain_a = [(i, i + 1) for i in range(0, 9)]          # 0..9
    chain_b = [(i, i + 1) for i in range(100, 109)]      # 100..109
    clique = [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    edges = spark.createDataFrame(
        chain_a + chain_b + clique, "id_a long, id_b long"
    )
    out = _labels(connected_components(edges))
    assert all(out[i] == 0 for i in range(10))
    assert all(out[i] == 100 for i in range(100, 110))
    assert all(out[i] == 200 for i in range(200, 205))


def test_early_convergence_star(spark, distributed):
    """A star graph converges in one round regardless of size."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 40)], "id_a long, id_b long"
    )
    out = _labels(connected_components(edges))
    assert set(out.values()) == {0}


def test_small_graph_fast_path_equals_iterative(spark, monkeypatch):
    """The single-task union-find fast path (default for small edge
    sets) must label identically to the iterative min-label loop."""
    seed, edges_py = 424242, []
    for _ in range(400):
        seed = (seed * 1103515245 + 12345) % (2**31)
        a = seed % 150
        seed = (seed * 1103515245 + 12345) % (2**31)
        b = seed % 150
        if a != b:
            edges_py.append((a, b))
    edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
    fast = _labels(connected_components(edges))  # default: fast path
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    slow = _labels(connected_components(edges))
    assert fast == slow


def _files_under(path):
    return [
        f for _, _, fs in os.walk(path) for f in fs if not f.startswith(".")
    ]


def test_reliable_checkpoint_mode(spark, monkeypatch):
    """Checkpoints follow the deployment's checkpoint dir: with none
    set they are local and both paths give the right labels
    (`test_reliable_checkpoint_files` sets one)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    want = {i: 0 for i in range(13)} | {20: 20, 21: 20, 22: 20}
    # no test leaves a dir set (the checkpoint_dir fixture clears it)
    assert spark.sparkContext.getCheckpointDir() is None
    fast = _labels(connected_components(edges))
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    assert _labels(connected_components(edges)) == fast == want


def test_reliable_checkpoint_files(spark, checkpoint_dir, monkeypatch):
    """The same graph with a checkpoint dir set: reliable checkpoint
    files land in it (executor-loss survivability at cluster scale)
    and the labels are identical, on the distributed loop and on the
    single-task path."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    want = {i: 0 for i in range(13)} | {20: 20, 21: 20, 22: 20}
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    assert _labels(connected_components(edges)) == want
    monkeypatch.undo()
    assert _labels(connected_components(edges)) == want
    assert _files_under(checkpoint_dir), "no reliable checkpoint files"


def test_q74_pipeline_under_reliable_checkpointing(
    spark, checkpoint_dir, monkeypatch
):
    """The production CC path at cluster scale (reliable
    checkpointing, distributed min-label loop) must reproduce the q74
    suite query's labels on the REAL dedup-funnel edge set — not just
    on toy graphs — so the cluster configuration can't bit-rot while
    the parity suite exercises only the single-task path."""
    from bigdatabowl2024_25_spark import suite

    suite.load_all()
    sf = "/root/testdata/sf0.001"
    pairs = (
        suite.QUERIES["q72_near_dup_pairs"](spark, sf)
        .filter("kind = 'jaccard'")  # round 9 added the 'contain' branch
        .select("id_a", "id_b")
    )
    expected = {
        (r.node, r.component)
        for r in suite.QUERIES["q74_near_dup_clusters"](spark, sf).collect()
        if r.kind == "cc"  # round 9 added the 'pr' PageRank branch
    }
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    # every graph with an edge takes at least 2 rounds (one that
    # relabels, one that changes nothing), so a cadence of 2 puts a
    # reliable checkpoint inside the loop even for shallow clusters
    monkeypatch.setattr(components, "CHECKPOINT_EVERY", 2)
    got = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == expected
    assert _files_under(checkpoint_dir), "no reliable checkpoint files"
