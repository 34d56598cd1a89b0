"""merge_into / latest_changes / scd2_build semantics.

Parity query: q18 'merge' / 'scd2' branches (suite/relational2.py)
oracle the same operators against DuckDB full-outer-join / LAG-LEAD
re-derivations at sf0.01; these tests pin the clause semantics on
hand-built rows where every fate is known.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from bigdatabowl2024_25_spark.operators.merge import (
    latest_changes,
    merge_into,
    scd2_build,
)


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k bigint, name string, bal double",
    )


def test_merge_update_delete_insert_fates(spark):
    src = spark.createDataFrame(
        [(2, 5.0, "upd"), (3, 0.0, "del"), (4, 7.0, "ins")],
        "k bigint, delta double, op string",
    )
    out = merge_into(
        _target(spark),
        src,
        ["k"],
        update_set={"bal": F.col("t.bal") + F.col("s.delta")},
        delete_condition=F.col("s.op") == "del",
        insert_values={
            "k": F.col("s.k"),
            "name": F.lit("NEW"),
            "bal": F.col("s.delta"),
        },
    )
    rows = {r.k: (r.name, r.bal) for r in out.collect()}
    assert rows == {
        1: ("a", 10.0),  # target-only: untouched
        2: ("b", 25.0),  # matched: updated
        4: ("NEW", 7.0),  # source-only: inserted
    }  # 3 deleted


def test_merge_update_condition_and_update_only(spark):
    src = spark.createDataFrame(
        [(1, 100.0, "x"), (2, 1.0, "x"), (9, 9.0, "x")],
        "k bigint, delta double, op string",
    )
    out = merge_into(
        _target(spark),
        src,
        ["k"],
        update_set={"bal": "t.bal + s.delta"},
        update_condition="s.delta > 50",
        # no insert_values: update-only merge drops source-only rows
    )
    rows = {r.k: r.bal for r in out.collect()}
    assert rows == {1: 110.0, 2: 20.0, 3: 30.0}


def test_merge_duplicate_source_key_raises(spark):
    src = spark.createDataFrame(
        [(2, 1.0, "x"), (2, 2.0, "x")], "k bigint, delta double, op string"
    )
    out = merge_into(
        _target(spark), src, ["k"], update_set={"bal": "s.delta"}
    )
    with pytest.raises(Exception, match="multiple rows for merge key"):
        out.collect()
    # compacting the batch first is the documented fix
    ok = merge_into(
        _target(spark),
        latest_changes(src, ["k"], "delta"),
        ["k"],
        update_set={"bal": "s.delta"},
    )
    assert {r.k: r.bal for r in ok.collect()}[2] == 2.0


def test_merge_output_schema_is_target_schema(spark):
    src = spark.createDataFrame([(2, 5.0, "x")], "k bigint, delta double, op string")
    out = merge_into(
        _target(spark), src, ["k"], update_set={"bal": "s.delta"}
    )
    assert out.columns == ["k", "name", "bal"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "string",
        "double",
    ]


def test_latest_changes_latest_wins_and_partition_invariance(spark):
    rows = [(1, i, f"v{i}") for i in range(50)] + [(2, 7, "only")]
    df = spark.createDataFrame(rows, "k bigint, seq bigint, val string")
    for parts in (1, 7):
        got = {
            r.k: (r.seq, r.val)
            for r in latest_changes(
                df.repartition(parts), ["k"], "seq"
            ).collect()
        }
        assert got == {1: (49, "v49"), 2: (7, "only")}


def test_scd2_compress_and_effective_ranges(spark):
    log = spark.createDataFrame(
        [
            (1, 10, "bronze"),
            (1, 20, "bronze"),  # no-op restatement: compressed away
            (1, 30, "gold"),
            (1, 40, "bronze"),  # back to bronze: NEW version (order matters)
            (2, 5, "silver"),
        ],
        "user bigint, seq bigint, tier string",
    )
    out = scd2_build(log, ["user"], "seq", ["tier"])
    got = sorted(
        (r.user, r.tier, r.eff_from, r.eff_to, r.is_current)
        for r in out.collect()
    )
    assert got == [
        (1, "bronze", 10, 30, False),
        (1, "bronze", 40, None, True),
        (1, "gold", 30, 40, False),
        (2, "silver", 5, None, True),
    ]


def test_scd2_no_compress_keeps_restatements(spark):
    log = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "a")], "user bigint, seq bigint, tier string"
    )
    out = scd2_build(log, ["user"], "seq", ["tier"], compress=False)
    assert out.count() == 2


def test_snapshot_diff_ops_and_roundtrip(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k bigint, name string, bal double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (3, "c", 1.0), (4, "d", 4.0)],
        "k bigint, name string, bal double",
    )
    from bigdatabowl2024_25_spark.operators.merge import snapshot_diff

    diff = snapshot_diff(old, new, ["k"])
    got = {r.k: (r.op, r.name, r.bal) for r in diff.collect()}
    assert got == {
        2: ("update", "b", 25.0),
        3: ("update", "c", 1.0),  # NULL -> value IS an update
        4: ("insert", "d", 4.0),
    }  # row 1 unchanged: absent

    old2 = spark.createDataFrame(
        [(1, "a", 1.0), (9, "z", 9.0)], "k bigint, name string, bal double"
    )
    d2 = snapshot_diff(old2, new, ["k"])
    assert {r.k: r.op for r in d2.collect()}[9] == "delete"

    # the defining invariant: merge_into(old, diff) == new, exactly
    applied = merge_into(
        old2,
        d2,
        ["k"],
        update_set={"name": "s.name", "bal": "s.bal"},
        delete_condition="s.op = 'delete'",
        insert_values={"k": "s.k", "name": "s.name", "bal": "s.bal"},
    )
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_merge_null_keys_never_match_by_default(spark):
    """ANSI/Delta equality: a NULL merge key matches nothing — the
    NULL-keyed source row is NOT MATCHED (inserted), the NULL-keyed
    target row is target-only (kept). Round-10 fix: the default used
    to be eqNullSafe, silently pairing the two."""
    target = spark.createDataFrame(
        [(1, "a", 10.0), (None, "nul", 99.0)],
        "k bigint, name string, bal double",
    )
    src = spark.createDataFrame(
        [(None, 7.0, "x")], "k bigint, delta double, op string"
    )
    out = merge_into(
        target,
        src,
        ["k"],
        update_set={"bal": "t.bal + s.delta"},
        insert_values={"k": "s.k", "name": "'NEW'", "bal": "s.delta"},
    )
    got = sorted((r.name, r.bal) for r in out.collect())
    # target NULL row untouched (99.0, not 106.0), source NULL row inserted
    assert got == [("NEW", 7.0), ("a", 10.0), ("nul", 99.0)]


def test_merge_null_safe_keys_opt_in(spark):
    target = spark.createDataFrame(
        [(None, "nul", 99.0)], "k bigint, name string, bal double"
    )
    src = spark.createDataFrame(
        [(None, 1.0, "x")], "k bigint, delta double, op string"
    )
    out = merge_into(
        target,
        src,
        ["k"],
        update_set={"bal": "t.bal + s.delta"},
        insert_values={"k": "s.k", "name": "'NEW'", "bal": "s.delta"},
        null_safe_keys=True,
    )
    assert [(r.name, r.bal) for r in out.collect()] == [("nul", 100.0)]


def test_merge_duplicate_null_source_keys_multi_insert(spark):
    """Two NULL-key source rows can't both match any target row under
    plain equality, so they're plain multi-inserts — legal, no
    cardinality violation."""
    src = spark.createDataFrame(
        [(None, 1.0, "x"), (None, 2.0, "y")],
        "k bigint, delta double, op string",
    )
    out = merge_into(
        _target(spark),
        src,
        ["k"],
        insert_values={"k": "s.k", "name": "s.op", "bal": "s.delta"},
    )
    assert out.count() == 5  # 3 target + 2 inserts


def test_merge_null_clause_conditions_do_not_apply(spark):
    """ANSI: WHEN MATCHED AND cond — a NULL cond means the clause does
    not fire. Round-10 ADVICE fix: a NULL delete_condition used to
    propagate through the keep filter and silently DROP the row."""
    # op is NULL for k=2 -> delete clause must not fire, update must
    # not fire either (its condition is also NULL): row kept verbatim.
    src = spark.createDataFrame(
        [(2, 5.0, None), (3, 6.0, "del"), (4, 7.0, None)],
        "k bigint, delta double, op string",
    )
    out = merge_into(
        _target(spark),
        src,
        ["k"],
        update_set={"bal": "t.bal + s.delta"},
        update_condition="s.op = 'upd'",
        delete_condition="s.op = 'del'",
        insert_values={"k": "s.k", "name": "'NEW'", "bal": "s.delta"},
        insert_condition="s.op <> 'del'",  # NULL op -> no insert
    )
    rows = {r.k: (r.name, r.bal) for r in out.collect()}
    # 2: matched, both conditions NULL -> kept unchanged (not deleted!)
    # 3: matched + delete fires; 4: source-only, NULL insert cond -> dropped
    assert rows == {1: ("a", 10.0), 2: ("b", 20.0)}


def test_snapshot_diff_null_key_roundtrip_needs_null_safe_merge(spark):
    """snapshot_diff matches keys null-safely (a NULL-keyed row in
    both snapshots is the same row); merge_into's ANSI default does
    not. The diff feed for a NULL-keyed update therefore only
    roundtrips with null_safe_keys=True — pinned both ways so the
    documented pairing stays true."""
    from bigdatabowl2024_25_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(None, "x", 1.0), (1, "a", 10.0)], "k bigint, name string, bal double"
    )
    new = spark.createDataFrame(
        [(None, "x", 2.0), (1, "a", 10.0)], "k bigint, name string, bal double"
    )
    d = snapshot_diff(old, new, ["k"])
    assert [(r.k, r.op) for r in d.collect()] == [(None, "update")]

    kwargs = dict(
        update_set={"name": "s.name", "bal": "s.bal"},
        delete_condition="s.op = 'delete'",
        insert_values={"k": "s.k", "name": "s.name", "bal": "s.bal"},
    )
    key = lambda rows: sorted((tuple(r) for r in rows), key=repr)
    ok = merge_into(old, d, ["k"], null_safe_keys=True, **kwargs)
    assert key(ok.collect()) == key(new.collect())
    # ANSI default: the NULL-key 'update' row can't match -> it inserts,
    # duplicating the NULL-key row (4 rows, not 2)
    bad = merge_into(old, d, ["k"], **kwargs)
    assert bad.count() == 3


def test_latest_changes_and_scd2_null_seq_raise(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, None, "a"), (1, 2, "b")], "k bigint, seq bigint, val string"
    )
    with pytest.raises(Exception, match="NULL 'seq'"):
        latest_changes(df, ["k"], "seq").collect()
    with pytest.raises(Exception, match="NULL 'seq'"):
        scd2_build(df, ["k"], "seq", ["val"]).collect()
