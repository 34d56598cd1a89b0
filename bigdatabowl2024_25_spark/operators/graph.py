"""Link-graph centrality — fixed-point PageRank, TrustRank and HITS.

Why it's here: large-scale corpus pipelines weight domains by
web-graph centrality (Common Crawl publishes harmonic-centrality
ranks; the original PageRank paper is the ancestor of all of them),
and a quality-mixing stage wants that signal next to the dedup/quality
operators. The reference has no graph layer; its nearest analog is the
iterative convergence loop of `radius_model.R` — same structural
problem (a per-round global fixpoint), which `components.py` already
solves for connected components. PageRank adds the weighted-propagation
variant.

Determinism: ranks are **scaled integers** (``rank ≈ pagerank ×
SCALE``). Every operation is integer arithmetic — ``div`` for the
per-edge share, exact bigint sums, damping as a ``num/den`` rational —
so the result is bit-identical on any engine and partitioning, and a
DuckDB oracle can re-derive it with the same unrolled arithmetic
(float PageRank would die on order-dependent double sums). The floor
divisions leak ≤1 unit of mass per node per round — a ~1e-9 relative
perturbation at ``SCALE``, irrelevant for a ranking signal and
the price of exactness.

Scale: per iteration, one shuffle for the contribution aggregate
(``groupBy(dst)``) and one keyed join of ranks onto edges — the same
join every round, so pre-partitioning/bucketing both sides by node id
makes the per-round shuffle a map-side zip at cluster scale. Out-degree
and the node list are computed once. The dangling mass is a 1-row
aggregate broadcast back (crossJoin of a scalar). Plan depth grows
linearly per round, and each rank is referenced twice (contributions +
dangling), so every round is cut with `boundary.cut` — lazily, and
eagerly every ``EAGER_EVERY`` rounds (the failure-domain bound: a
mid-chain loss never recomputes more than that many rounds). The cuts
are lazy cuts, not persists, on the round-15 measurements recorded in
`boundary`'s docstring. Like every cut they are reliable checkpoints
when a checkpoint dir is set, ``localCheckpoint`` otherwise.

One recurrence: TrustRank (Gyöngyi et al., VLDB 2004) is PageRank with
teleport and dangling mass restricted to a seed set S, and PageRank is
the case S = every node. `_seeded_rank` holds that recurrence once;
`pagerank` and `trustrank` differ only in the seed set they pass.
Damping, scale and the eager-cut cadence are module constants, shared
with the ``oracle_*_sql`` generators that re-derive the results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundary import cut

#: rank unit (pagerank/trustrank): 1.0 of probability mass == SCALE units
SCALE = 10**12
#: hub/authority unit: each side's scores sum to ~HITS_SCALE
HITS_SCALE = 10**9
#: damping as a rational, DAMPING_NUM/DAMPING_DEN = 0.85
DAMPING_NUM, DAMPING_DEN = 17, 20
#: every EAGER_EVERY-th per-round lineage cut is eager
EAGER_EVERY = 4


def _edges_and_nodes(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """(e, nodes): the edge list as (src, dst) behind a lazy cut, and
    its distinct node list.

    NULL endpoints are dropped at the door: kept, a NULL "node"
    half-joins through the rounds (NULL never equi-joins, but groupBy
    keeps it as a key), so it would receive rank while its out-edges
    are mis-read as dangling — and in hits its mass enters the L1
    total while the node itself drops from the output join, silently
    deflating every other score.

    The edge list is read several times (node list twice, out-degree,
    one join per round), so it is materialized once instead of
    re-deriving the upstream subtree per reference — the same cut
    GraphX makes; set a checkpoint dir for fault-tolerant long runs."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    e = cut(e, eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return e, nodes


def _seeded_rank(
    e: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame | None,
    iterations: int,
) -> DataFrame:
    """The shared PageRank/TrustRank recurrence → (node, rank_scaled).

    ``seeds`` is the in-graph seed set S (a distinct ``node`` column),
    or None for S = every node (PageRank: ``is_seed = 1``, no seed
    join). With ns = |S|, per round, for previous ranks r:
        share(e)  = r[e.src] div outdeg[e.src]
        contrib(v)= Σ share(e) over e.dst = v           (exact bigint)
        dangling  = Σ r[v] over v with outdeg 0
        r'(v)     = [v∈S]·(den−num)·scale div (den·ns)
                    + num·(contrib(v) + [v∈S]·(dangling div ns)) div den
    from r0(v) = [v∈S]·(scale div ns). An empty S fails LOUDLY at
    execution; with S = every node it never fires (an empty graph
    has no row to evaluate it on)."""
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    base = nodes.join(outdeg, "node", "left")
    if seeds is None:
        is_seed = F.lit(1)
    else:
        base = base.join(seeds.withColumn("__s", F.lit(1)), "node", "left")
        is_seed = F.coalesce("__s", F.lit(0))
    # node list + degree + seed flag are reused every round: one plan
    base = cut(
        base.select(
            "node",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            is_seed.alias("is_seed"),
        ),
        eager=False,
    )
    counts = base.agg(
        F.coalesce(F.sum("is_seed"), F.lit(0)).alias("ns")
    )
    tele_num = (DAMPING_DEN - DAMPING_NUM) * SCALE
    guard = F.when(
        F.col("ns") == 0,
        F.raise_error(
            F.lit(
                "trustrank: no seed intersects the graph's node set — "
                "a silent all-zero trust vector would read as "
                "'everything is spam'; pass at least one in-graph seed"
            )
        ).cast("bigint"),
    )
    # r0: all teleport mass on the seeds (the classic init d = 1_S/|S|)
    ranks = base.join(counts).select(
        "node",
        "deg",
        "is_seed",
        "ns",
        F.coalesce(
            guard,
            F.expr(f"is_seed * ({SCALE} div ns)").cast("bigint"),
        ).alias("rank_scaled"),
    )
    for i in range(iterations):
        shares = e.join(
            ranks.select(
                F.col("node").alias("src"), "deg", "rank_scaled"
            ),
            "src",
        ).select("dst", F.expr("rank_scaled div deg").alias("share"))
        contrib = shares.groupBy(F.col("dst").alias("node")).agg(
            F.sum("share").alias("contrib")
        )
        dangling = ranks.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("dm")
        )
        ranks = (
            ranks.select("node", "deg", "is_seed", "ns")
            .join(contrib, "node", "left")
            .join(dangling)
            .select(
                "node",
                "deg",
                "is_seed",
                "ns",
                (
                    F.expr(
                        f"is_seed * ({tele_num} div ({DAMPING_DEN} * ns))"
                    )
                    + F.expr(
                        f"{DAMPING_NUM} * (coalesce(contrib, 0)"
                        f" + is_seed * (dm div ns)) div {DAMPING_DEN}"
                    )
                ).alias("rank_scaled"),
            )
        )
        # Each round references the previous ranks THREE times (share
        # join, dangling aggregate, next-round base), so an uncut plan
        # TRIPLES per round — 3^n subtree copies (observed: 9 KB → 28
        # KB per extra round; the composed-pipeline OOM lesson from
        # pipelines/corpus' stage caches applies). Each round is cut
        # lazily (boundary's docstring says why not persist) and every
        # `EAGER_EVERY` rounds eagerly, so the LOGICAL tree stays
        # bounded and a failure mid-chain never recomputes more than
        # that many rounds.
        if (i + 1) < iterations:
            ranks = cut(ranks, eager=(i + 1) % EAGER_EVERY == 0)
    return ranks.select("node", "rank_scaled")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    ``edges`` must already be distinct (src, dst) pairs — multigraph
    weighting is the caller's policy decision. Returns
    ``(node, rank_scaled)`` where ``rank_scaled / SCALE`` approximates
    the PageRank probability with damping ``DAMPING_NUM/DAMPING_DEN``
    (17/20 = 0.85). Dangling nodes (no out-edges) redistribute their
    mass uniformly, the standard correction. The recurrence is
    `_seeded_rank`'s with every node a seed."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e, nodes = _edges_and_nodes(edges, src, dst)
    return _seeded_rank(e, nodes, None, iterations)


def oracle_pagerank_sql(edges_cte: str, *, iterations: int = 3) -> str:
    """DuckDB CTE block re-deriving `pagerank` by unrolled iteration.

    ``edges_cte`` must be a SELECT yielding distinct (src, dst).
    Emits CTEs ``pr_edges/pr_base/pr_n/pr_r0..pr_r{k}``; the final
    ranks are ``SELECT node, r AS rank_scaled FROM pr_r{k}``. Integer
    ``//`` in DuckDB and ``div`` in Spark agree on the non-negative
    values used here.
    """
    tele = (DAMPING_DEN - DAMPING_NUM) * SCALE
    parts = [
        f"pr_edges AS (SELECT * FROM ({edges_cte}) __e "
        "WHERE src IS NOT NULL AND dst IS NOT NULL)",
        """pr_base AS (
            SELECT node, COALESCE(deg, 0) AS deg FROM (
                SELECT src AS node FROM pr_edges
                UNION SELECT dst FROM pr_edges
            ) nn LEFT JOIN (
                SELECT src, COUNT(*) AS deg FROM pr_edges GROUP BY src
            ) d ON d.src = nn.node
        )""",
        "pr_n AS (SELECT COUNT(*) AS n FROM pr_base)",
        f"pr_r0 AS (SELECT node, deg, CAST({SCALE} // n AS BIGINT) AS r"
        " FROM pr_base, pr_n)",
    ]
    for i in range(1, iterations + 1):
        p = f"pr_r{i - 1}"
        parts.append(
            f"""pr_c{i} AS (
            SELECT e.dst AS node, CAST(SUM(r.r // r.deg) AS BIGINT) AS c
            FROM pr_edges e JOIN {p} r ON r.node = e.src
            GROUP BY e.dst
        )"""
        )
        parts.append(
            f"""pr_d{i} AS (
            SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dm
            FROM {p} WHERE deg = 0
        )"""
        )
        parts.append(
            f"""pr_r{i} AS (
            SELECT b.node, b.deg,
                   CAST({tele} // ({DAMPING_DEN} * pr_n.n)
                        + {DAMPING_NUM} * (COALESCE(c.c, 0)
                          + (pr_d{i}.dm // pr_n.n)) // {DAMPING_DEN}
                        AS BIGINT) AS r
            FROM pr_base b
            LEFT JOIN pr_c{i} c ON c.node = b.node, pr_n, pr_d{i}
        )"""
        )
    return ",\n".join(parts)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 2,
    broadcast_scores: bool = False,
) -> DataFrame:
    """Fixed-point HITS (Kleinberg 1999) hubs & authorities over a
    directed edge list — the complement signal to `pagerank`: a page
    is a good HUB when it links to good authorities, a good AUTHORITY
    when good hubs link to it. Corpus pipelines use the authority side
    as a domain-quality prior (link-farm hubs and cited authorities
    separate cleanly on bipartite-ish link graphs, where PageRank's
    single score conflates them).

    ``edges`` must already be distinct (src, dst). Returns
    ``(node, hub_scaled, auth_scaled)`` over ALL nodes (a node with no
    out-edges has hub 0 after round 1; no in-edges → auth 0).

    INTEGER-EXACT, like `pagerank` but with L1 (sum) normalization in
    place of the classical L2 — power iteration converges to the same
    principal-eigenvector DIRECTION under any per-round positive
    rescaling, and L1 keeps every step in integer arithmetic (an L2
    norm needs a sqrt). Per round, from hubs h:
        a_raw(v) = Σ h(u) over edges u→v            (exact sum)
        a(v)     = a_raw(v)·scale div Σ a_raw        (L1 renorm)
        h_raw(u) = Σ a(v) over edges u→v
        h(u)     = h_raw(u)·scale div Σ h_raw
    The renormalizing product runs in decimal(38,0) (the
    rolling_anomaly discipline: a_raw ≤ scale so a_raw·scale ≤ 10³⁰ —
    exact, never overflows); `div` on decimal(38,0) truncates toward
    zero exactly like DuckDB HUGEINT `//` on the non-negative values
    here, so `oracle_hits_sql` re-derives bit-identical scores.

    Scale: per round, TWO keyed joins of scores onto edges and two
    groupBy aggregates (dst then src) — bucketing edges by both ends
    makes each a map-side zip at cluster scale — plus two 1-row L1
    sums broadcast back (crossJoin of a scalar). Same per-round
    lineage-cut policy as `pagerank` (scores referenced twice per
    round → lazy cut each round, eager every
    ``EAGER_EVERY``). ``scale`` above is ``HITS_SCALE``."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # broadcast_scores=True hints every score-onto-edges join (and the
    # renorm join) as a broadcast: correct whenever the NODE table is
    # dimension-sized (host/domain graphs — millions of rows), which
    # kills all four per-round edge shuffles. Leave False for
    # node-counts beyond broadcast reach (page-level web graphs);
    # there, bucket edges by src AND dst so each keyed join is a
    # map-side zip instead.
    _maybe_b = F.broadcast if broadcast_scores else (lambda d: d)
    e, nodes = _edges_and_nodes(edges, src, dst)
    nodes = cut(nodes, eager=False)

    def _renorm(raw: DataFrame, col: str) -> DataFrame:
        """raw (node, col) → all-nodes L1-renormalized (node, col)."""
        total = raw.agg(
            F.coalesce(
                F.sum(col), F.lit(0)
            ).cast("decimal(38,0)").alias("__t")
        )
        return (
            nodes.join(_maybe_b(raw), "node", "left")
            .join(total)
            .select(
                "node",
                F.coalesce(
                    F.expr(
                        f"(CAST({col} AS DECIMAL(38,0)) * {HITS_SCALE})"
                        " div greatest(__t, CAST(1 AS DECIMAL(38,0)))"
                    ),
                    F.lit(0).cast("bigint"),
                ).alias(col),
            )
        )

    hubs = nodes.select("node", F.lit(HITS_SCALE).cast("bigint").alias("h"))
    auths = None
    for i in range(iterations):
        a_raw = (
            e.join(
                _maybe_b(hubs.select(F.col("node").alias("src"), "h")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("a"))
        )
        # auths is referenced TWICE every round (h_raw below, then the
        # next round's a_raw — or the final output join), so cut its
        # lineage unconditionally; final-round hubs is referenced once
        auths = cut(_renorm(a_raw, "a"), eager=False)
        h_raw = (
            e.join(
                _maybe_b(auths.select(F.col("node").alias("dst"), "a")),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("a").cast("decimal(38,0)")).alias("h"))
        )
        hubs = _renorm(h_raw, "h")
        if (i + 1) < iterations:
            hubs = cut(hubs, eager=(i + 1) % EAGER_EVERY == 0)
    return (
        hubs.join(auths, "node")
        .select(
            "node",
            F.col("h").alias("hub_scaled"),
            F.col("a").alias("auth_scaled"),
        )
    )


def oracle_hits_sql(edges_cte: str, *, iterations: int = 2) -> str:
    """DuckDB CTE block re-deriving `hits` by unrolled iteration in
    HUGEINT (mirrors the decimal(38,0) Spark arithmetic; `//` and
    Spark's `div` agree on the non-negative values used here). Emits
    ``ht_edges/ht_nodes/ht_h0/ht_a{i}/ht_h{i}``; final scores are
    ``SELECT node, h FROM ht_h{k}`` / ``SELECT node, a FROM ht_a{k}``.
    """
    parts = [
        f"ht_edges AS (SELECT * FROM ({edges_cte}) __e "
        "WHERE src IS NOT NULL AND dst IS NOT NULL)",
        # the union is NESTED in a FROM on purpose: under a composed
        # WITH RECURSIVE block DuckDB treats a top-level `a UNION b`
        # CTE body as a recursive union and skips the dedup (observed:
        # 2·|edges| rows), while a derived-table union dedups normally
        """ht_nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM ht_edges
                UNION ALL SELECT dst FROM ht_edges
            )
        )""",
        f"ht_h0 AS (SELECT node, CAST({HITS_SCALE} AS HUGEINT) AS h"
        " FROM ht_nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ht_ar{i} AS (
            SELECT e.dst AS node, CAST(SUM(h.h) AS HUGEINT) AS ar
            FROM ht_edges e JOIN ht_h{i - 1} h ON h.node = e.src
            GROUP BY e.dst
        )"""
        )
        parts.append(
            f"""ht_a{i} AS (
            SELECT n.node,
                   CAST(COALESCE(r.ar * {HITS_SCALE} // GREATEST(
                       (SELECT SUM(ar) FROM ht_ar{i}),
                       CAST(1 AS HUGEINT)), 0) AS BIGINT) AS a
            FROM ht_nodes n LEFT JOIN ht_ar{i} r ON r.node = n.node
        )"""
        )
        parts.append(
            f"""ht_hr{i} AS (
            SELECT e.src AS node, CAST(SUM(a.a) AS HUGEINT) AS hr
            FROM ht_edges e JOIN ht_a{i} a ON a.node = e.dst
            GROUP BY e.src
        )"""
        )
        parts.append(
            f"""ht_h{i} AS (
            SELECT n.node,
                   CAST(COALESCE(r.hr * {HITS_SCALE} // GREATEST(
                       (SELECT SUM(hr) FROM ht_hr{i}),
                       CAST(1 AS HUGEINT)), 0) AS BIGINT) AS h
            FROM ht_nodes n LEFT JOIN ht_hr{i} r ON r.node = n.node
        )"""
        )
    return ",\n".join(parts)


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    *,
    iterations: int = 2,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    PageRank with the teleport restricted to a curated SEED set — the
    standard spam-demotion / source-trust signal of web-corpus
    pipelines (trust flows out of hand-vetted good sites; link farms
    far from every seed starve). The `_seeded_rank` recurrence
    `pagerank` runs, with teleport AND dangling mass landing
    uniformly on the seeds instead of all nodes.

    ``seeds`` rows not present in the graph are ignored (semi-join);
    an empty effective seed set fails LOUDLY at execution (a silent
    all-zero trust vector would read as "everything is spam").
    NULL-endpoint edges are dropped at the door like `pagerank`'s.
    Returns (node, rank_scaled)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e, nodes = _edges_and_nodes(edges, src, dst)
    sd = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .join(nodes, "node", "semi")
    )
    return _seeded_rank(e, nodes, sd, iterations)


def oracle_trustrank_sql(
    edges_cte: str, seeds_cte: str, *, iterations: int = 2
) -> str:
    """DuckDB CTE block re-deriving `trustrank` by unrolled iteration
    (``tr_edges/tr_base/tr_ns/tr_r0..tr_r{k}``; final ranks are
    ``SELECT node, r FROM tr_r{k}``). ``seeds_cte`` yields a `node`
    column; out-of-graph seeds are dropped like the operator does."""
    tele = (DAMPING_DEN - DAMPING_NUM) * SCALE
    parts = [
        f"tr_edges AS (SELECT * FROM ({edges_cte}) __e "
        "WHERE src IS NOT NULL AND dst IS NOT NULL)",
        f"tr_seeds AS ({seeds_cte})",
        """tr_base AS (
            SELECT nn.node, COALESCE(d.deg, 0) AS deg,
                   CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
            FROM (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM tr_edges
                    UNION ALL SELECT dst FROM tr_edges
                )
            ) nn
            LEFT JOIN (
                SELECT src, COUNT(*) AS deg FROM tr_edges GROUP BY src
            ) d ON d.src = nn.node
            LEFT JOIN (SELECT DISTINCT node FROM tr_seeds) s
                   ON s.node = nn.node
        )""",
        "tr_ns AS (SELECT SUM(is_seed) AS ns FROM tr_base)",
        f"tr_r0 AS (SELECT node, deg, is_seed,"
        f" CAST(is_seed * ({SCALE} // ns) AS BIGINT) AS r"
        " FROM tr_base, tr_ns)",
    ]
    for i in range(1, iterations + 1):
        p = f"tr_r{i - 1}"
        parts.append(
            f"""tr_c{i} AS (
            SELECT e.dst AS node, CAST(SUM(r.r // r.deg) AS BIGINT) AS c
            FROM tr_edges e JOIN {p} r ON r.node = e.src
            GROUP BY e.dst
        )"""
        )
        parts.append(
            f"""tr_d{i} AS (
            SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dm
            FROM {p} WHERE deg = 0
        )"""
        )
        parts.append(
            f"""tr_r{i} AS (
            SELECT b.node, b.deg, b.is_seed,
                   CAST(b.is_seed * ({tele} // ({DAMPING_DEN} * tr_ns.ns))
                        + {DAMPING_NUM} * (COALESCE(c.c, 0)
                          + b.is_seed * (tr_d{i}.dm // tr_ns.ns))
                          // {DAMPING_DEN}
                        AS BIGINT) AS r
            FROM tr_base b
            LEFT JOIN tr_c{i} c ON c.node = b.node, tr_ns, tr_d{i}
        )"""
        )
    return ",\n".join(parts)
