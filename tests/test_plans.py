"""Physical-plan assertions (the 100 TB design gate): predicates reach
the parquet scan, projections prune columns, dim joins broadcast, and
shuffle counts stay at the theoretical minimum. A query that merely
returns correct rows but full-scans or sort-merge-joins a dim table
fails HERE even though the oracle test passes."""

from __future__ import annotations

import re
from collections import Counter

from bigdatabowl2024_25_spark import suite

suite.load_all()

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def shuffles(plan: str) -> int:
    """Count shuffle Exchange nodes (excludes BroadcastExchange)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_q01_pushdown_and_pruning(spark):
    plan = plan_of(suite.QUERIES["q01_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 7 needed columns only — l_orderkey/l_partkey/
    # l_suppkey/l_shipdate must NOT be in the read schema payload
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    # partial aggregation (map-side combine) before the exchange
    assert "HashAggregate" in plan
    assert shuffles(plan) == 1  # the aggregation shuffle, nothing else


def test_q02_broadcasts_dim(spark):
    plan = plan_of(suite.QUERIES["q02_segment_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q03_all_dims_broadcast(spark):
    plan = plan_of(suite.QUERIES["q03_nation_revenue"](spark, SF))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 4
    assert "SortMergeJoin" not in plan
    # lineitem, the fact side, is never exchanged before the joins:
    # the only shuffle in the whole plan is the final aggregation
    assert shuffles(plan) == 1


def test_q04_semi_join_broadcast(spark):
    plan = plan_of(suite.QUERIES["q04_semi_anti_customers"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # semi + anti both broadcast the orders side: zero shuffle exchanges
    assert shuffles(plan) == 0


def test_q08_single_window_shuffle(spark):
    plan = plan_of(suite.QUERIES["q08_latest_order_per_customer"](spark, SF))
    # keep-first = one hash exchange for the window, nothing else
    assert shuffles(plan) == 1
    assert "Window" in plan


def test_q09_topk_never_global_sorts(spark):
    plan = plan_of(suite.QUERIES["q09_top10_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q20_window_chain_single_exchange(spark):
    """Five window families (dense_rank, running sum, group-min offset,
    conditional row_number, sessionize) off ONE exchange on user_id —
    the consolidation's stated plan shape."""
    plan = plan_of(suite.QUERIES["q20_event_windows"](spark, SF))
    assert shuffles(plan) == 1


def test_q22_branches_broadcast_join(spark):
    """Four per-user branches (crossing reads, first event, argmax,
    extremes) each exchange on user_id exactly once, then join via
    broadcast — no SortMergeJoin, no fifth exchange for the joins."""
    plan = plan_of(suite.QUERIES["q22_user_read_profile"](spark, SF))
    assert shuffles(plan) <= 4  # one per branch
    assert "SortMergeJoin" not in plan


def test_q32_pivot_no_distinct_job(spark):
    """The pivot branch of q32 (absorbed q44): explicit pivot values
    keep the plan a single aggregate pass — no extra distinct-values
    collection job."""
    df = suite.QUERIES["q32_unpivot_measures"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    # pivot = two-phase aggregate: (ids, pivot_col) partials, then the
    # ids-level pivot agg — exactly two shuffles, and no third job for
    # distinct pivot values (explicit values list). The melt branch
    # contributes zero shuffles (narrow transform).
    assert shuffles(plan) == 2


#: every physical node that runs Python: the row-at-a-time and Arrow
#: UDF evaluators (and their UDTF forms), the grouped/windowed Arrow
#: aggregates, and every MapIn*, FlatMapGroupsIn*, FlatMapCoGroupsIn*
#: and *InPandas form
_PYTHON_NODE = re.compile(
    r"\b(?:BatchEvalPython\w*|ArrowEvalPython\w*|ArrowAggregatePython"
    r"|ArrowWindowPython|\w*MapIn\w+|FlatMapGroupsIn\w+"
    r"|FlatMapCoGroupsIn\w+|\w+InPandas\w*)\b"
)

#: the sanctioned Python stages, by query. q64 has four:
#: - two ArrowEvalPython BPE encode stages, one per encode: char BPE
#:   ('bpe' / 'bpe_prod') and byte BPE ('bbpe' / 'bbpe_prod') each run
#:   ONE encode whose rows are emitted under both kinds, and its
#:   rank-indexed replay runs as ONE Arrow stage over the DISTINCT
#:   word/pre-token table — vocab-sized at any corpus scale; the
#:   corpus-scale side stays JVM, pinned in test_q64_bpe_encode_plan;
#: - two FlatMapGroupsInPandas next-fit packing walks
#:   (`text.pack_documents`, sequential by definition and run once per
#:   shard): the 'pack' branch and the 'seq' branch's
#:   `corpus.to_sequences`.
_SANCTIONED_PYTHON = {
    "q64_binary_plumbing": {"ArrowEvalPython": 2, "FlatMapGroupsInPandas": 2},
}


def test_no_python_udfs_in_relational_suite(spark):
    """Everything outside the numeric kernels stays JVM-side: no
    Python plan node of any form in any query, except the stages
    `_SANCTIONED_PYTHON` lists, each at exactly its listed count."""
    for name, fn in suite.QUERIES.items():
        if name.startswith("q9"):  # kernel queries are mapInPandas
            continue
        plan = plan_of(fn(spark, SF), mode="simple")
        found = Counter(_PYTHON_NODE.findall(plan))
        assert found == Counter(_SANCTIONED_PYTHON.get(name, {})), (
            name,
            dict(found),
        )


def test_q33_salted_agg_two_phase(spark):
    """Salted join + salted aggregation: partial agg on (key, salt)
    under ONE shuffle, final agg on key under a second — the hot key
    never lands on a single reducer in phase 1."""
    plan = plan_of(suite.QUERIES["q33_skew_salting"](spark, SF))
    assert plan.count("HashAggregate") >= 4  # 2 logical phases × partial/final
    assert "__salt" in plan
    assert shuffles(plan) == 2  # agg phases; the tiny dim join broadcasts


def test_q34_salted_join_partitions_on_salt(spark):
    """Salted join: no broadcast assumed — the join key must include
    the salt so the hot key spreads across reducers."""
    from bigdatabowl2024_25_spark.operators.skew import salted_join
    from bigdatabowl2024_25_spark.sources.io import load_table
    from pyspark.sql import functions as F

    hot = load_table(spark, SF, "events").select("event_id", "user_id")
    dim = load_table(spark, SF, "nation").select(
        F.col("n_nationkey").alias("user_id"), "n_name"
    )
    # disable auto-broadcast to force the shuffle path this operator
    # exists for, then check the exchange hashes on (key, salt)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(
            salted_join(hot, dim, ["user_id"], ["event_id"], buckets=8)
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    m = re.search(r"hashpartitioning\(user_id#\d+L?, __salt", plan)
    assert m, plan[:2000]


def test_q35_asof_single_shuffle_no_range_join(spark):
    """As-of join must be union-then-window: ONE shuffle on the key,
    never a range/cartesian join that explodes candidate pairs."""
    plan = plan_of(suite.QUERIES["q35_asof_click_view"](spark, SF))
    assert shuffles(plan) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q36_range_join_is_equi_join(spark):
    """Banded range join must plan as a hash equi-join on (key, band),
    never a nested-loop/cartesian range join."""
    plan = plan_of(suite.QUERIES["q36_range_join_signup_purchases"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_q80_neardup_is_bucket_join_not_all_pairs(spark):
    """The near-dup branch must plan as a hash equi-join on the LSH
    bucket key. q80's ONLY allowed nested-loops are the deliberate
    broadcast-small-side scorers: the topk branch's 8-query baseline
    (1), the sq8 branch's 1-row-scales joins + 8-query scoring pass
    (3), round 8's decon branch scoring the corpus against the
    8-vector broadcast benchmark (1), round 9's bm25 branch
    broadcasting its single-row stats table (1), the rrf branch's
    second read of the dense-scoring and bm25-stats subtrees (2 — the
    fused inputs are k-row rank lists; the underlying exchanges are
    reused, only the plan-tree nodes repeat), and round 10's knn
    branch broadcasting the 200-row labeled train set into its pair
    generator (2 — the k-set subtree is read twice, winner vote +
    boundary distance, so the node repeats the same way). An eleventh
    one (or any cartesian) means a corpus×corpus all-pairs scorer
    came back — the round-4 scale-killer."""
    import re

    plan = plan_of(suite.QUERIES["q80_cosine_search"](spark, SF))
    assert "CartesianProduct" not in plan
    # formatted mode lists each node twice (tree + details): count
    # numbered tree entries
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 10
    # every one must be a broadcast build (tree lines carry the build
    # side), never a shuffled cartesian
    tree = re.findall(r"BroadcastNestedLoopJoin (\w+ \w+) \(\d+\)", plan)
    assert len(tree) == 10
    assert all("Build" in b for b in tree)
    # the funnel's bucket equi-join must exist as a HASH join keyed
    # on the bucket column
    assert re.search(r"\(\d+\) (Broadcast|SortMerge|ShuffledHash)?HashJoin", plan)
    assert re.search(r"Left keys \[1\]: \[bucket#\d+\]", plan), plan[:2000]


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Partition-pruning at runtime — the scale feature that makes the
    partitionBy(gameId) layout pay off for dim-driven slices: a fact
    table partitioned on the join key, joined to a dim with a selective
    filter, must carry a `dynamicpruningexpression` in the fact scan's
    PartitionFilters, so only the dim-surviving partitions are read.

    Pinned heuristic (measured on Spark 4.1): DPP's `isLikelySelective`
    wants a comparison/IN/LIKE-shaped dim predicate — a bare boolean
    column filter (`F.col('keep')`) does NOT qualify and silently
    disables pruning. Production dims should filter with explicit
    comparisons; this test locks the qualifying shape in."""
    from bigdatabowl2024_25_spark.sources.io import load_table, write_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF, "lineitem")
    write_table(li, str(tmp_path / "li"), partition_by=["l_returnflag"])
    fact = spark.read.parquet(str(tmp_path / "li"))
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn(
            "status",
            F.when(F.col("l_returnflag") == "R", "returned").otherwise(
                "kept"
            ),
        )
    )
    write_table(dim, str(tmp_path / "dim"))
    dimr = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("status") == "returned"
    )
    j = (
        fact.join(dimr, ["l_returnflag"])
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    exe = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in exe.lower(), exe[:3000]
    # and the pruned query is still correct
    assert [r.l_returnflag for r in j.collect()] == ["R"]


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """Runtime bloom-filter join pruning — the shuffle-join complement
    to DPP: when a fact⋈fact join's one side carries a selective
    filter, Spark builds a bloom filter over its join keys and applies
    `might_contain` on the other side BEFORE the shuffle, so
    non-matching rows never cross the wire. Enabled by default
    (spark.sql.optimizer.runtime.bloomFilter.enabled=true) but gated
    on a 10 GB application-side scan — exactly the 100 TB regime; this
    test scales the gate to 0 to pin that our fact⋈fact shape
    qualifies (shuffle join + selective creation side), then restores
    the defaults."""
    from bigdatabowl2024_25_spark.sources.io import load_table
    from pyspark.sql import functions as F

    scan_gate = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    prev_gate = spark.conf.get(scan_gate)
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(scan_gate, "0")
        # force the shuffle-join regime (broadcast joins don't need
        # bloom filters — the build side IS the filter)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        exe = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in exe, exe[:3000]
        assert "might_contain" in exe, exe[:3000]
    finally:
        # restore the SESSION values (unset would fall back to Spark
        # defaults, not the factory's 64 MB broadcast threshold)
        spark.conf.set(scan_gate, prev_gate)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)


def test_registry_exactly_at_driver_cap():
    """The driver's correctness snapshot records the FIRST 50
    registered queries (observed r01: 73→50, r05: 53→50). The registry
    raises past 50; this pins that we also USE the whole budget — a
    shrinking registry silently narrows driver coverage."""
    from bigdatabowl2024_25_spark.suite.registry import DRIVER_QUERY_CAP

    assert len(suite.QUERIES) == DRIVER_QUERY_CAP == 50
    # every registered query now carries a full value-hash oracle
    missing = set(suite.QUERIES) - set(suite.ORACLE)
    assert not missing, f"queries without oracles: {sorted(missing)}"


def test_q70_decontam_broadcasts_benchmark_grams(spark):
    """Decontamination must broadcast the benchmark gram set and filter
    corpus grams map-side: no SortMergeJoin anywhere, and every shuffle
    exchange sits AFTER the broadcast filter (bench-side distinct + the
    two-phase countDistinct over matches only — all bounded by
    contamination volume, never by corpus volume). Asserted on the
    OPERATOR's plan (the q70 query now unions three more branches with
    their own legitimate exchanges)."""
    from pyspark.sql import functions as F

    from bigdatabowl2024_25_spark.operators.dedup import decontaminate
    from bigdatabowl2024_25_spark.suite.dedup import _corpus_df

    corpus = _corpus_df(spark, SF)
    dec = decontaminate(
        corpus.filter(F.col("doc_id") >= 40),
        corpus.filter(F.col("doc_id") < 40),
        "text",
        "doc_id",
        n=5,
    )
    plan = plan_of(dec)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # bench-side distinct + the two-phase countDistinct = 3. More
    # means a corpus-side shuffle crept in before the broadcast filter.
    assert shuffles(plan) <= 3


def test_q70_query_level_no_smj_and_bounded_exchanges(spark):
    """Query-level backstop for the whole five-branch q70 union: every
    join in every branch (decontam broadcast filter, LM scoring's
    broadcast model, incr anti-join/keep-min, incr_near band join)
    must stay off SortMergeJoin, and the total exchange count is
    pinned at its as-designed value of 23 (15 through round 7; +4 in
    round 8 for the incr_near branch's two banding funnels — per era:
    one shingle-hash distinct + one signature aggregate; +1 for the
    LM's lazy single-row vocab aggregate, which replaced an eager
    2 s driver collect at plan-build time; +3 in round 9 for the
    ExactSubstr branch: the (doc, pos) lead-fold window, the
    duplicated-window hash groupBy, and the per-doc loser-span
    collect — the loser join itself must stay broadcast) — a
    regression here means a corpus-side shuffle or join-strategy
    change crept into the suite wiring, which the operator-scoped test
    above cannot see.

    The cache is cleared first: a prior parity run of q70 in the same
    session leaves the LM's persisted count tables cached, and the
    InMemoryRelation substitution perturbs the exchange count — this
    test pins the COLD plan shape (order-dependent flake otherwise)."""
    spark.catalog.clearCache()
    plan = plan_of(suite.QUERIES["q70_corpus_hygiene"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert shuffles(plan) <= 23


def test_q38_query_level_no_smj_and_bounded_exchanges(spark):
    """The 15-branch sketch query stays join-light: every sketch
    build is its own small aggregate exchange (register tables are
    KBs), point-queries/containment checks join only BROADCAST
    register tables, and nothing should ever fall back to a
    SortMergeJoin. Measured shape at round-8 close: 21 exchanges,
    10 broadcasts — the bound leaves headroom for AQE variance, the
    zero-SMJ and zero-Python assertions are exact."""
    spark.catalog.clearCache()
    plan = plan_of(suite.QUERIES["q38_cms_point_counts"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert shuffles(plan) <= 25


def test_sketch_operator_plans(spark):
    """Round-8 sketch/corpus operators keep their claimed shapes:

    - kmv_build: TakeOrderedAndProject (per-partition heaps + k-row
      driver merge), NEVER a global Sort+Exchange;
    - hll_build: exactly one shuffle (the register groupBy);
    - decontaminate_embeddings: benchmark broadcasts, no SortMergeJoin,
      the only shuffle is the contamination-bounded final aggregate;
    - token_budget_sample: domain totals broadcast back, no SMJ."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        decontaminate_embeddings,
    )
    from bigdatabowl2024_25_spark.operators.sampling import (
        token_budget_sample,
    )
    from bigdatabowl2024_25_spark.operators.sketch import hll_build, kmv_build
    from bigdatabowl2024_25_spark.sources.io import load_table

    e = load_table(spark, SF, "events")

    kmv = plan_of(kmv_build(e, "user_id"))
    assert "TakeOrderedAndProject" in kmv
    assert re.search(r"\(\d+\) Sort\b", kmv) is None

    hll = plan_of(hll_build(e, "user_id"))
    assert shuffles(hll) == 1
    assert "HashAggregate" in hll  # map-side partial max

    # the grouped ledger pays the SAME single shuffle — `by` only
    # widens the groupBy key, it must not add a stage
    hllg = plan_of(hll_build(e, "event_id", by=["event_type"]))
    assert shuffles(hllg) == 1

    emb = load_table(spark, SF, "embeddings")
    dec = plan_of(
        decontaminate_embeddings(
            emb.filter("vec_id >= 8"),
            emb.filter("vec_id < 8"),
            "vec_id",
            "embedding",
            0.2,
        )
    )
    assert "SortMergeJoin" not in dec
    assert "BroadcastExchange" in dec
    assert shuffles(dec) == 1  # only the per-item hit aggregate

    bud = plan_of(
        token_budget_sample(
            e.selectExpr("event_id", "user_id AS dom", "value AS w"),
            "event_id", "dom", "w", {"1": 100.0},
        )
    )
    assert "SortMergeJoin" not in bud
    assert "BroadcastHashJoin" in bud
    # one shuffle: the tiny per-domain totals aggregate
    assert shuffles(bud) == 1


def test_merge_into_is_single_join_plan(spark):
    """q18 'merge': every clause must resolve inside ONE full-outer
    join — no second pass over the target, no extra target-side
    exchange beyond the join's own."""
    from pyspark.sql import functions as F

    from bigdatabowl2024_25_spark.operators.merge import merge_into

    t = spark.createDataFrame(
        [(1, 1.0)], "k bigint, v double"
    )
    s = spark.createDataFrame([(1, 2.0)], "k bigint, d double")
    out = merge_into(
        t, s, ["k"],
        update_set={"v": "t.v + s.d"},
        insert_values={"k": "s.k", "v": "s.d"},
    )
    plan = plan_of(out)
    assert "FullOuter" in plan
    # exactly one numbered join node: the merge join itself
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_pagerank_round_is_join_plus_agg(spark):
    """One pagerank round adds exactly one keyed shuffle join + one
    groupBy(dst) aggregate + the 1-row dangling aggregate — nothing
    quadratic, no cartesian product on the edge list."""
    from bigdatabowl2024_25_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    p1 = plan_of(pagerank(e, iterations=1))
    p3 = plan_of(pagerank(e, iterations=3))
    assert "CartesianProduct" not in p1 and "CartesianProduct" not in p3
    # per-round lazy localCheckpoint keeps the visible plan CONSTANT
    # per round (the previous lazy chain tripled: 3 refs -> 3^n)
    assert len(p3) < 1.5 * len(p1)


def test_bm25_topk_broadcasts_workload_and_stats(spark):
    """q80 'bm25': the matched-postings side must join the workload,
    df, and stats via broadcast — the corpus never shuffles before the
    (q,doc) aggregate."""
    from bigdatabowl2024_25_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [(0, "join hash"), (1, "scan scan")], "doc_id bigint, text string"
    )
    out = bm25_topk(df, "text", "doc_id", {0: ["join"], 1: ["scan"]}, k=2)
    plan = plan_of(out)
    assert plan.count("BroadcastExchange") >= 3  # qtable, df_t, stats
    assert "BatchEvalPython" not in plan
    # shuffles: df_t agg + (q,doc) agg + window on q (+AQE coalesces)
    assert shuffles(plan) <= 4


def test_gapfill_single_window_sort(spark):
    """All fills (zero/locf/interp) must share ONE sort per key — a
    second Sort node per policy would triple the window cost."""
    from bigdatabowl2024_25_spark.operators.rollup import gapfill

    df = spark.createDataFrame(
        [("a", 0, 1.0, 2)], "k string, b bigint, v double, n bigint"
    )
    out = gapfill(df, ["k"], "b", 10, {"v": "interp", "n": "zero"})
    plan = plan_of(out)
    # all policies + both frames fuse into ONE Window node (same
    # partitioning/ordering), so the fills share a single window sort;
    # the remaining Sorts belong to the grid SMJ, which broadcasts at
    # real sizes
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    # span agg + both join sides + the (k)-window exchange
    assert shuffles(plan) <= 4


def test_q71_query_level_dsir_plan(spark):
    """Query-level pin for the widened q71 (sig + dsir + dsirk +
    gopher): no SortMergeJoin anywhere, the Gumbel resample must be
    TakeOrderedAndProject (never a global sort), no Python, and the
    shuffle count stays bounded. Round 15 moved the DSIR model/scoring
    subtree behind a construction-time localCheckpoint (ONE feature
    explode serves both multinomials, one per-doc weights
    materialization serves dsir/dsirk/resample — the fused plan held
    22 Generates with zero reuse before), so the model's
    broadcast-join pin now lives in
    `test_dsir_weights_model_join_broadcasts` below, against the
    weights subplan itself."""
    spark.catalog.clearCache()
    plan = plan_of(suite.QUERIES["q71_signatures_and_selection"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffles(plan) <= 15


def test_dsir_weights_model_join_broadcasts(spark):
    """The DSIR scoring join (corpus features ⋈ dim-row model) must
    stay broadcast — a 100 TB corpus never shuffles for the model.
    Pinned against the operator subplan because q71 checkpoints the
    weights frame at construction (round 15), hiding the join from
    the fused query plan."""
    from bigdatabowl2024_25_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_model,
        dsir_weights,
    )
    from bigdatabowl2024_25_spark.sources.io import load_table

    d = load_table(spark, SF, "documents")
    model = dsir_model(
        dsir_bucket_counts(d.filter("lang = 'en'"), "text", dim=64),
        dsir_bucket_counts(d, "text", dim=64),
        dim=64,
    )
    plan = plan_of(dsir_weights(d, "text", "doc_id", model, dim=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_production_encode_id_guard_plan_neutral(spark):
    """Round 12: the encode_tokenizers id-collision tripwire must be
    plan-neutral — a projection-level assert_true, never an exchange:
    the guarded plan keeps the unguarded shape's five shuffles
    (distinct-word groupBy, both sides of the local mapping join, the
    per-doc reassembly groupBy and the corpus side of the reassembly
    join) and exactly ONE Arrow stage (the distinct-word encoder; the
    corpus side stays JVM)."""
    from bigdatabowl2024_25_spark.operators.bpe import (
        _ranked_pieces_udf,
        encode_tokenizers,
    )

    df = spark.createDataFrame(
        [(i, "low lower lowest new newer") for i in range(4)],
        "doc_id long, text string",
    )
    merges = [("l", "o"), ("lo", "w"), ("n", "e")]
    enc = _ranked_pieces_udf(merges, "</w>")
    guarded = encode_tokenizers(df, "text", "doc_id", {"toks": enc})
    assert shuffles(plan_of(guarded)) == 5
    simple = plan_of(guarded, mode="simple")
    assert len(re.findall(r"ArrowEvalPython", simple)) == 1
    assert "raise_error" in simple or "assert_true" in simple


def test_q64_bpe_encode_plan(spark):
    """The q64 'bpe' / 'bpe_prod' encode — `bpe_encode` through
    encode_tokenizers — must carry exactly ONE Arrow stage (the
    distinct-word replay encoder; the corpus-scale
    posexplode/join/reassembly side stays JVM) and no row-at-a-time
    Python anywhere."""
    from bigdatabowl2024_25_spark.operators.bpe import bpe_encode
    from bigdatabowl2024_25_spark.sources.io import load_table
    from bigdatabowl2024_25_spark.suite.text import _BPE_MERGES

    d = load_table(spark, SF, "documents")
    out = bpe_encode(d, "text", "doc_id", _BPE_MERGES)
    plan = plan_of(out, mode="simple")
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    # the word→pieces mapping is vocab-bounded → must BROADCAST onto
    # the posexploded corpus (the corpus-scale side never shuffles for
    # the mapping; the one legitimate SortMergeJoin is the final
    # per-doc reassembly join, corpus ⋈ corpus-keyed aggregate)
    assert re.search(r"BroadcastHashJoin \[word#\d+\]", plan)
