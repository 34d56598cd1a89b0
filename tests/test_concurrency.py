"""`concurrency.build_concurrently` — the round-15 construction-
overlap primitive used by q64/q74/q95. Its contract is small but
load-bearing: results keyed + ordered like the input (union branch
order is part of a query's shape), exceptions propagate to the
caller, and concurrent Spark actions return the same values as
serial ones."""

from __future__ import annotations

import time

import pytest

from bigdatabowl2024_25_spark.concurrency import build_concurrently


def test_results_keyed_and_ordered_like_input():
    out = build_concurrently(
        {"b": lambda: 2, "a": lambda: 1, "c": lambda: 3}
    )
    assert out == {"b": 2, "a": 1, "c": 3}
    assert list(out) == ["b", "a", "c"]  # insertion order preserved


def test_single_builder_runs_inline():
    out = build_concurrently({"only": lambda: 42})
    assert out == {"only": 42}


def test_builder_exception_propagates():
    def boom():
        raise ValueError("builder failed")

    with pytest.raises(ValueError, match="builder failed"):
        build_concurrently({"ok": lambda: 1, "bad": boom})


def test_builders_actually_overlap():
    """Two 0.3 s sleeps must finish in well under 0.6 s serial time —
    the helper's entire reason to exist."""
    t0 = time.perf_counter()
    build_concurrently(
        {"x": lambda: time.sleep(0.3), "y": lambda: time.sleep(0.3)}
    )
    assert time.perf_counter() - t0 < 0.5


def test_concurrent_spark_actions_match_serial(spark):
    """Concurrent driver-thread jobs (incl. an eager localCheckpoint,
    the construction-time shape q74 overlaps) return the same values
    as the serial equivalents."""
    from pyspark.sql import functions as F

    def agg():
        return (
            spark.range(10_000)
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
            .orderBy("k")
            .collect()
        )

    def ckpt():
        return (
            spark.range(100)
            .select(F.sum("id").alias("s"))
            .localCheckpoint()
            .collect()
        )

    serial = {"agg": agg(), "ckpt": ckpt()}
    parallel = build_concurrently({"agg": agg, "ckpt": ckpt})
    assert parallel == serial


def test_builders_inherit_caller_local_properties(spark):
    """Builder threads run with the caller's Spark local properties
    (job description, job group, any label), nested calls included,
    and the wrap emits no "Spark session is not provided" warning."""
    import warnings

    sc = spark.sparkContext

    def label():
        return sc.getLocalProperty("bdb.test.label")

    sc.setLocalProperty("bdb.test.label", "caller")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            out = build_concurrently(
                {
                    "a": label,
                    "b": label,
                    "nested": lambda: build_concurrently(
                        {"c": label, "d": label}
                    ),
                }
            )
    finally:
        sc.setLocalProperty("bdb.test.label", None)
    assert out == {
        "a": "caller",
        "b": "caller",
        "nested": {"c": "caller", "d": "caller"},
    }
