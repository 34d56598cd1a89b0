"""Fixed-point PageRank: integer-exact semantics, partition
invariance, oracle-SQL generator parity.

Parity query: q74 'pagerank' branch scores the customer→supplier
bipartite graph at sf0.01 against `oracle_pagerank_sql`'s unrolled
DuckDB arithmetic; these tests pin the operator on a hand graph where
the reference walk is computed in pure Python with the same integer
recurrence.
"""

from __future__ import annotations

import pytest

from collections import Counter, defaultdict

import duckdb

from bigdatabowl2024_25_spark.operators.graph import (
    SCALE,
    oracle_pagerank_sql,
    pagerank,
)

#: a small web: 1 is the hub (2 and 3 both link to it); 4 and 5 are
#: dangling sinks fed by the hub, so the dangling-mass path matters
EDGES = [(2, 1), (3, 1), (3, 2), (2, 3), (1, 4), (1, 5)]


def ref_pagerank(edges, iterations, scale=SCALE, num=17, den=20):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = Counter(s for s, _ in edges)
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        dm = sum(r[v] for v in nodes if outdeg[v] == 0)
        tele = (den - num) * scale // (den * n)
        r = {v: tele + num * (contrib[v] + dm // n) // den for v in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    for iters in (1, 3):
        got = {
            r.node: r.rank_scaled
            for r in pagerank(df, iterations=iters).collect()
        }
        assert got == ref_pagerank(EDGES, iters)


def test_pagerank_partition_invariance_and_checkpoint_path(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    want = ref_pagerank(EDGES, 6)
    for parts in (1, 5):
        got = {
            r.node: r.rank_scaled
            for r in pagerank(df.repartition(parts), iterations=6).collect()
        }
        assert got == want


def test_pagerank_under_checkpoint_dir(spark, checkpoint_dir):
    """With a checkpoint dir set, pagerank's lineage cuts (lazy, and
    eager at round 4) are reliable checkpoints: files land in the dir
    and the ranks are identical to the reference."""
    import os

    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    got = {
        r.node: r.rank_scaled
        for r in pagerank(df, iterations=6).collect()
    }
    assert got == ref_pagerank(EDGES, 6)
    walked = [
        f
        for _, _, fs in os.walk(checkpoint_dir)
        for f in fs
        if not f.startswith(".")
    ]
    assert walked, "no reliable checkpoint files written"


def test_pagerank_mass_and_ordering(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    got = {
        r.node: r.rank_scaled for r in pagerank(df, iterations=8).collect()
    }
    # floor divisions only ever LOSE mass, ≤ a few units per node/round
    assert 0.99 * SCALE < sum(got.values()) <= SCALE
    # node 1 is the hub: everyone links to it
    assert got[1] == max(got.values())


def test_oracle_sql_generator_agrees(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    got = {
        r.node: r.rank_scaled for r in pagerank(df, iterations=3).collect()
    }
    vals = ", ".join(f"({s}, {d})" for s, d in EDGES)
    block = oracle_pagerank_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=3
    )
    sql = f"WITH {block} SELECT node, r FROM pr_r3"
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want

# ---- HITS hubs & authorities ----------------------------------------

#: hub/authority structure: 1,2 co-cite {10,11}; 3 cites 11,12; 10
#: also links back to 3 so one node carries BOTH roles
H_EDGES = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 11), (3, 12), (10, 3)]


def ref_hits(edges, iterations, scale=10**9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    h = {v: scale for v in nodes}

    def renorm(raw):
        tot = max(sum(raw.values()), 1)
        return {v: raw.get(v, 0) * scale // tot for v in nodes}

    for _ in range(iterations):
        a = renorm(
            {
                d: sum(h[s2] for s2, d2 in edges if d2 == d)
                for _, d in edges
            }
        )
        h = renorm(
            {
                s: sum(a[d2] for s2, d2 in edges if s2 == s)
                for s, _ in edges
            }
        )
    return h, a


def test_hits_matches_python_reference(spark):
    from bigdatabowl2024_25_spark.operators.graph import hits

    df = spark.createDataFrame(H_EDGES, "src bigint, dst bigint")
    for iters in (1, 2, 4):
        rows = hits(df, iterations=iters).collect()
        h, a = ref_hits(H_EDGES, iters)
        assert {r.node: r.hub_scaled for r in rows} == h
        assert {r.node: r.auth_scaled for r in rows} == a


def test_hits_partition_invariance(spark):
    from bigdatabowl2024_25_spark.operators.graph import hits

    df = spark.createDataFrame(H_EDGES, "src bigint, dst bigint")
    h, a = ref_hits(H_EDGES, 5)
    for parts in (1, 7):
        rows = hits(df.repartition(parts), iterations=5).collect()
        assert {r.node: r.hub_scaled for r in rows} == h
        assert {r.node: r.auth_scaled for r in rows} == a


def test_hits_semantics(spark):
    from bigdatabowl2024_25_spark.operators.graph import hits

    df = spark.createDataFrame(H_EDGES, "src bigint, dst bigint")
    got = {r.node: r for r in hits(df, iterations=3).collect()}
    # 11 is cited by all three hubs -> top authority; 1,2 cite the two
    # top authorities -> top hubs (tied by symmetry)
    assert max(got.values(), key=lambda r: r.auth_scaled).node == 11
    top_hub = max(r.hub_scaled for r in got.values())
    assert {n for n, r in got.items() if r.hub_scaled == top_hub} == {1, 2}
    # pure sinks have hub 0; pure sources have auth 0
    assert got[11].hub_scaled == 0 and got[12].hub_scaled == 0
    assert got[1].auth_scaled == 0 and got[2].auth_scaled == 0
    # L1 renormalization: each side sums to ~scale (floor leaks only)
    for side in ("hub_scaled", "auth_scaled"):
        tot = sum(getattr(r, side) for r in got.values())
        assert 0.99 * 10**9 < tot <= 10**9


def test_hits_oracle_sql_generator_agrees(spark):
    from bigdatabowl2024_25_spark.operators.graph import (
        hits,
        oracle_hits_sql,
    )

    df = spark.createDataFrame(H_EDGES, "src bigint, dst bigint")
    rows = hits(df, iterations=2).collect()
    vals = ", ".join(f"({s}, {d})" for s, d in H_EDGES)
    block = oracle_hits_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=2
    )
    # RECURSIVE on purpose: q74 composes this block under WITH
    # RECURSIVE, where a top-level `a UNION b` CTE body silently skips
    # dedup in DuckDB — this pins the nested-union workaround
    sql = (
        f"WITH RECURSIVE {block} SELECT h.node, h.h, a.a "
        "FROM ht_h2 h JOIN ht_a2 a USING (node)"
    )
    want = {n: (h, a) for n, h, a in duckdb.sql(sql).fetchall()}
    got = {r.node: (r.hub_scaled, r.auth_scaled) for r in rows}
    assert got == want


def test_null_endpoint_edges_are_dropped(spark):
    """A NULL endpoint must not become a phantom node: kept, it would
    half-join through the rounds (rank without contributing, L1 mass
    without an output row). Both ops must behave exactly as if the
    NULL edges were pre-filtered, and the oracle generators mirror it."""
    from bigdatabowl2024_25_spark.operators.graph import hits, pagerank

    dirty = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 1), (2, 3)],
        "src bigint, dst bigint",
    )
    clean = dirty.filter("src IS NOT NULL AND dst IS NOT NULL")
    for op in (pagerank, hits):
        got = sorted(map(tuple, op(dirty, iterations=2).collect()))
        want = sorted(map(tuple, op(clean, iterations=2).collect()))
        assert got == want
        assert not any(r[0] is None for r in got)
    # every row NULL: no nodes, so no rows — and the seed guard pagerank
    # shares with trustrank (S = every node = empty here) never fires
    all_null = spark.createDataFrame(
        [(1, None), (None, 2), (None, None)], "src bigint, dst bigint"
    )
    assert pagerank(all_null, iterations=2).collect() == []

    vals = "(1,2),(2,NULL),(NULL,3),(3,1),(2,3)"
    block = oracle_pagerank_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", iterations=2
    )
    want = {
        r.node: r.rank_scaled
        for r in pagerank(dirty, iterations=2).collect()
    }
    got = dict(
        duckdb.sql(f"WITH {block} SELECT node, r FROM pr_r2").fetchall()
    )
    assert got == want


# ---- TrustRank -------------------------------------------------------

def ref_trustrank(
    edges, seeds, iterations, scale=SCALE, num=17, den=20
):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    seeds = sorted(set(seeds) & set(nodes))
    outdeg = Counter(s for s, _ in edges)
    ns = len(seeds)
    tele = (den - num) * scale
    r = {v: (scale // ns if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        dm = sum(r[v] for v in nodes if outdeg[v] == 0)
        r = {
            v: (tele // (den * ns) if v in seeds else 0)
            + num
            * (contrib[v] + (dm // ns if v in seeds else 0))
            // den
            for v in nodes
        }
    return r


def test_trustrank_matches_python_reference(spark):
    from bigdatabowl2024_25_spark.operators.graph import trustrank

    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    # seed 3 is in-graph; seed 99 must be ignored (not a node)
    seeds = spark.createDataFrame([(3,), (99,)], "node bigint")
    for iters in (1, 3):
        got = {
            r.node: r.rank_scaled
            for r in trustrank(df, seeds, iterations=iters).collect()
        }
        assert got == ref_trustrank(EDGES, [3], iters)


def test_trustrank_semantics_and_oracle(spark):
    from bigdatabowl2024_25_spark.operators.graph import (
        oracle_trustrank_sql,
        trustrank,
    )

    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(3,)], "node bigint")
    got = {
        r.node: r.rank_scaled
        for r in trustrank(df, seeds, iterations=4).collect()
    }
    # node 5 is a dangling sink reachable only through 1: it holds
    # strictly less trust than the seed, and unreachable-from-seed
    # nodes hold zero teleport-only mass at round 1
    assert got[3] == max(got.values())
    assert got[5] < got[3]
    # NULL-endpoint edges are dropped like pagerank/hits
    dirty = spark.createDataFrame(
        EDGES + [(None, 1), (2, None)], "src bigint, dst bigint"
    )
    assert {
        r.node: r.rank_scaled
        for r in trustrank(dirty, seeds, iterations=2).collect()
    } == ref_trustrank(EDGES, [3], 2)

    vals = ", ".join(f"({s}, {d})" for s, d in EDGES)
    block = oracle_trustrank_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst)",
        "SELECT 3 AS node",
        iterations=4,
    )
    want = dict(
        duckdb.sql(f"WITH {block} SELECT node, r FROM tr_r4").fetchall()
    )
    assert got == want


def test_trustrank_empty_seed_set_fails_loudly(spark):
    import pytest

    from bigdatabowl2024_25_spark.operators.graph import trustrank

    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    # 99 is not a graph node -> effective seed set is empty
    seeds = spark.createDataFrame([(99,)], "node bigint")
    with pytest.raises(Exception, match="trustrank: no seed"):
        trustrank(df, seeds, iterations=1).collect()


@pytest.mark.slow
def test_graph_ops_fuzz_random_digraphs(spark):
    """pagerank/hits/trustrank vs the python references on random
    digraphs with self-loops, sinks, sources, and disconnected
    components — the shapes hand graphs miss."""
    import random

    from bigdatabowl2024_25_spark.operators.graph import (
        hits,
        pagerank,
        trustrank,
    )

    rng = random.Random(31)
    for trial in range(4):
        n = rng.randint(4, 9)
        edges = sorted(
            {
                (rng.randint(1, n), rng.randint(1, n))  # incl. loops
                for _ in range(rng.randint(3, 14))
            }
        )
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        iters = rng.randint(1, 4)

        got_pr = {
            r.node: r.rank_scaled
            for r in pagerank(df, iterations=iters).collect()
        }
        assert got_pr == ref_pagerank(edges, iters), (trial, edges)

        rows = hits(df, iterations=iters).collect()
        h, a = ref_hits(edges, iters)
        assert {r.node: r.hub_scaled for r in rows} == h, (trial, edges)
        assert {r.node: r.auth_scaled for r in rows} == a

        nodes = sorted({x for e in edges for x in e})
        seeds = [nodes[0], nodes[-1]]
        got_tr = {
            r.node: r.rank_scaled
            for r in trustrank(
                df,
                spark.createDataFrame([(s,) for s in seeds], "node bigint"),
                iterations=iters,
            ).collect()
        }
        assert got_tr == ref_trustrank(edges, seeds, iters), (trial, edges)
