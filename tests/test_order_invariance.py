"""Partition/order-invariance properties (SURVEY.md §7 hard part #2).

The reference leans on physical row order in several places (A7 route
trees, W9 defender labels, P9 keep-first, A6 first/last). Every
replacement carries its own explicit total order, so results must be
IDENTICAL no matter how the input is partitioned or pre-shuffled.
These tests run each order-sensitive operator over adversarial input
layouts — single partition, many partitions, reversed pre-sort — and
require bit-identical results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators import aggregates, relational, windows
from bigdatabowl2024_25_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return (
        load_table(spark, SF, "events")
        .select("event_id", "user_id", "event_type", "value", "ts_us")
        .cache()
    )


def layouts(df):
    """Adversarial physical layouts of the same logical relation."""
    return [
        df.coalesce(1),
        df.repartition(13),
        df.repartition(7, "event_type"),
        df.orderBy(F.col("event_id").desc()),
    ]


def assert_layout_invariant(build, df):
    base = None
    for i, layout in enumerate(layouts(df)):
        got = sorted(map(tuple, build(layout).collect()))
        if base is None:
            base = got
        else:
            assert got == base, f"layout {i} diverged"
    assert base  # non-empty


def test_a7_ordered_string_agg(events):
    assert_layout_invariant(
        lambda df: aggregates.ordered_string_agg(
            df, ["user_id"], "event_id", "event_type", "tree"
        ),
        events,
    )


def test_a6_first_last_by(events):
    assert_layout_invariant(
        lambda df: aggregates.first_last_by(
            df, ["user_id"], "event_id", "value"
        ),
        events,
    )


def test_p9_keep_first(events):
    assert_layout_invariant(
        lambda df: relational.keep_first(
            df, ["user_id"], [F.col("event_id").asc()]
        ),
        events,
    )


def test_w1_dense_rank(events):
    assert_layout_invariant(
        lambda df: windows.dense_rank_id(
            df, ["user_id"], ["event_id"], "rk"
        ).select("event_id", "rk"),
        events,
    )


def test_w2_running_sum_decimal(events):
    """Float cumsum depends on addition order per prefix — but each
    prefix is defined by the total order, so equal prefixes must give
    equal sums; decimal value keeps it bit-stable."""
    assert_layout_invariant(
        lambda df: windows.running_sum(
            df.withColumn("dv", F.col("value").cast("decimal(25,6)")),
            ["user_id"],
            ["event_id"],
            "dv",
            "cum",
        ).select("event_id", "cum"),
        events,
    )


def test_w7_argmax_row(events):
    assert_layout_invariant(
        lambda df: windows.argmax_row(
            df, ["user_id"], [F.col("value").desc(), F.col("event_id").asc()]
        ).select("user_id", "event_id"),
        events,
    )


def test_w9_stable_label(events):
    assert_layout_invariant(
        lambda df: windows.row_number_by(
            df, ["user_id"], ["event_id"], "lbl"
        ).select("event_id", "lbl"),
        events,
    )


def test_lsh_near_dup_layout_invariant(spark):
    """The near-dup funnel (q80 'neardup') must emit identical
    (pair, cosine) rows under any partitioning/row order: bucket
    signs and cosines are int64 arithmetic, so no layout may flip
    a near-zero sign or perturb a score."""
    from bigdatabowl2024_25_spark.operators.similarity import lsh_near_dup
    from bigdatabowl2024_25_spark.sources.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = None
    for layout in (
        e.coalesce(1),
        e.repartition(13),
        e.repartition(7, "label"),
        e.orderBy(F.col("vec_id").desc()),
    ):
        got = sorted(
            map(
                tuple,
                lsh_near_dup(
                    layout, "vec_id", "embedding", threshold=0.2
                ).collect(),
            )
        )
        if base is None:
            base = got
        else:
            assert got == base
    assert base


@pytest.mark.slow
def test_min_label_cc_layout_invariant(spark, monkeypatch):
    """Min-label connected-component labels are min-reductions —
    layout-free by construction; pin it on the distributed loop (the
    changed-label convergence check must not be perturbed by
    partitioning either)."""
    from bigdatabowl2024_25_spark.operators import components

    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)]
        + [(100 + i, 100 + (i + 1) % 6) for i in range(6)],
        "id_a long, id_b long",
    )
    base = None
    for layout in (
        edges.coalesce(1),
        edges.repartition(13),
        edges.orderBy(F.col("id_b").desc()),
    ):
        got = sorted(
            map(tuple, components.connected_components(layout).collect())
        )
        if base is None:
            base = got
        else:
            assert got == base
    assert dict(base) == {i: 0 for i in range(31)} | {
        100 + i: 100 for i in range(6)
    }
