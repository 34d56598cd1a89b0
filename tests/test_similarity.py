"""ANN quality: the LSH path must recover a meaningful fraction of the
exact top-k, and its scores must be real cosines (agree with the exact
scorer on overlapping pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators.similarity import (
    lsh_topk,
    pairwise_cosine,
    topk_per_query,
)
from bigdatabowl2024_25_spark.sources.io import load_table
from conftest import job_group

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def frames(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = (
        topk_per_query(
            pairwise_cosine(q, e, "vec_id", "embedding").filter(
                F.col("q_id") != F.col("d_id")
            ),
            k=5,
        )
        .select("q_id", "d_id")
        .collect()
    )
    approx = (
        lsh_topk(q, e, "vec_id", "embedding", k=5, planes=3, tables=4, dims=64)
        .filter(F.col("q_id") != F.col("d_id"))
        .select("q_id", "d_id")
        .collect()
    )
    return set(map(tuple, exact)), set(map(tuple, approx))


def test_lsh_recall(frames):
    exact, approx = frames
    recall = len(exact & approx) / len(exact)
    # 4 hyperplanes on near-orthogonal synthetic vectors: candidates
    # shrink ~16x; recall must stay well above chance
    assert recall >= 0.3, f"LSH recall too low: {recall:.2f}"


def test_lsh_is_deterministic(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    a = lsh_topk(q, e, "vec_id", "embedding", k=3, planes=3, tables=4, dims=64).collect()
    b = lsh_topk(q, e, "vec_id", "embedding", k=3, planes=3, tables=4, dims=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_recall_and_determinism(spark):
    """Exact IVF with the first 16 vectors as centroids and nprobe=8 of
    16 lists scans ~half the corpus; on the near-orthogonal synthetic
    vectors recall vs exact top-5 must be high, every surfaced cosine
    must equal the brute-force value, and a rerun must reproduce the
    rows exactly."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        ivf_assign_exact,
        ivf_topk,
        nearest_lists_exact,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    brute = {
        (r.q_id, r.d_id): r.cosine
        for r in pairwise_cosine(q, e, "vec_id", "embedding").collect()
    }
    exact = set(
        map(
            tuple,
            topk_per_query(
                pairwise_cosine(q, e, "vec_id", "embedding").filter(
                    F.col("q_id") != F.col("d_id")
                ),
                k=5,
            )
            .select("q_id", "d_id")
            .collect(),
        )
    )
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("__list"), "embedding"
    )

    def run():
        assigned = ivf_assign_exact(e, cents, "vec_id", "embedding")
        probes = nearest_lists_exact(
            q, cents, "vec_id", "embedding", nprobe=8
        )
        return sorted(
            map(
                tuple,
                ivf_topk(probes, assigned, "vec_id", "embedding", k=5)
                .filter(F.col("q_id") != F.col("d_id"))
                .collect(),
            )
        )

    rows = run()
    got = {(r[0], r[1]) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    assert all(brute[(qi, di)] == cos for qi, di, cos, _rank in rows)
    assert run() == rows


def test_lsh_near_dup_funnel(spark):
    """Near-dup funnel (q80 neardup branch): every emitted pair must be
    a true >= threshold pair (precision 1.0 — the exact verify), pairs
    are canonical (q_id < d_id) and deduped across tables, recall vs
    the all-pairs baseline is pinned, and the whole thing is
    deterministic across runs (md5 planes, no RNG)."""
    from bigdatabowl2024_25_spark.operators.similarity import lsh_near_dup

    e = load_table(spark, SF, "embeddings")
    exact_pairs = {
        (r.q_id, r.d_id): r.cosine
        for r in pairwise_cosine(e, e, "vec_id", "embedding")
        .filter((F.col("q_id") < F.col("d_id")) & (F.col("cosine") >= 0.2))
        .collect()
    }
    got = lsh_near_dup(e, "vec_id", "embedding", threshold=0.2).collect()
    got_pairs = {(r.q_id, r.d_id): r.cosine for r in got}
    assert len(got_pairs) == len(got), "pairs not deduped"
    assert all(q < d for q, d in got_pairs), "pairs not canonical"
    # exact verify => precision 1.0 and bit-identical cosines
    for k, v in got_pairs.items():
        assert k in exact_pairs and v == exact_pairs[k]
    recall = len(got_pairs) / len(exact_pairs)
    assert recall >= 0.05, f"funnel recall collapsed: {recall:.3f}"
    # determinism
    rerun = {
        (r.q_id, r.d_id): r.cosine
        for r in lsh_near_dup(e, "vec_id", "embedding", threshold=0.2).collect()
    }
    assert rerun == got_pairs


def test_lsh_near_dup_runs_no_job_when_called(spark):
    """Calling `lsh_near_dup` only builds a plan: no Spark job starts
    (so nothing is pinned in executor storage either), on an in-memory
    input and on q80's parquet input with q80's parameters. The
    banded corpus is shared by both sides of the bucket self-join: the
    executed plan reads one exchange twice (ReusedExchange)."""
    import random

    from bigdatabowl2024_25_spark.operators.similarity import lsh_near_dup

    rng = random.Random(3)
    mem = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    q80 = load_table(spark, SF, "embeddings")
    for n, e in enumerate((mem, q80)):
        with job_group(spark.sparkContext, f"test_lsh_call_{n}") as jobs:
            out = lsh_near_dup(
                e, "vec_id", "embedding", threshold=0.2,
                planes=6, tables=4, dims=64,
            )
        assert jobs() == []
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan


def test_pq_adc_recall_codes_and_plan(spark):
    """IVF-PQ/ADC (q83 'pq' branch): recall vs the exact top-5 must
    beat chance on the near-orthogonal synthetic corpus (a 16-codeword
    8×8 codebook is a coarse sketch — 0.33 measured; the contract is
    the deterministic funnel, not high recall at toy scale), codes must
    sit in the [0, K) envelope with one code per subspace, results must
    reproduce exactly across runs, and encoding must be a pure
    projection: no Exchange in the codes subtree (the corpus is never
    shuffled to be compressed)."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        _pq_codes_sql,
        pq_adc_topk,
        pq_codebooks,
        quantized,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("__list"), "embedding"
    )
    exact = set(
        map(
            tuple,
            topk_per_query(
                pairwise_cosine(q, e, "vec_id", "embedding").filter(
                    F.col("q_id") != F.col("d_id")
                ),
                k=5,
            )
            .select("q_id", "d_id")
            .collect(),
        )
    )
    out = pq_adc_topk(q, e, cents, "vec_id", "embedding", k=5, nprobe=4)
    rows = out.filter(F.col("q_id") != F.col("d_id")).collect()
    got = {(r.q_id, r.d_id) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.2, f"PQ recall below chance band: {recall:.2f}"
    # ADC scores are approximations but must still be valid cosines
    assert all(-1.001 <= r.cosine <= 1.001 for r in rows)
    # determinism: the whole funnel is int64-exact, no RNG
    rerun = {
        (r.q_id, r.d_id, r.cosine)
        for r in pq_adc_topk(
            q, e, cents, "vec_id", "embedding", k=5, nprobe=4
        )
        .filter(F.col("q_id") != F.col("d_id"))
        .collect()
    }
    assert rerun == {(r.q_id, r.d_id, r.cosine) for r in rows}
    # codes envelope: 8 subspaces, every code in [0, 16)
    cb = pq_codebooks(cents, "embedding", m=8, dsub=8)
    assert len(cb) == 8 and all(len(s) == 16 for s in cb)
    codes_df = e.select(
        quantized(F.col("embedding")).alias("__iv")
    ).select(F.expr(_pq_codes_sql("__iv", cb)).alias("codes"))
    env = codes_df.select(
        F.max(F.size("codes")).alias("m"),
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert env.m == 8 and env.lo >= 0 and env.hi < 16
    # encoding is shuffle-free: pure projection over the scan
    plan = codes_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_ivf_index_persisted_with_partition_pruning(spark, tmp_path):
    """The IVF scale story end-to-end: persist the assigned corpus
    `partitionBy("__list")` (the index), probe it through a join whose
    dim side carries a selective predicate — the scan must carry a
    `dynamicpruningexpression` (only the probed lists' partitions are
    read), and the pruned probe must score identically to the
    in-memory probe path."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        ivf_assign_exact,
        ivf_topk,
        nearest_lists_exact,
    )
    from bigdatabowl2024_25_spark.sources.io import load_table, write_table

    e = load_table(spark, SF, "embeddings")
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("__list"), "embedding"
    )
    assigned = ivf_assign_exact(e, cents, "vec_id", "embedding")
    write_table(assigned, str(tmp_path / "index"), partition_by=["__list"])
    index = spark.read.parquet(str(tmp_path / "index"))
    q = e.filter(F.col("vec_id") < 2)
    probes = nearest_lists_exact(q, cents, "vec_id", "embedding", nprobe=4)
    write_table(probes, str(tmp_path / "probes"))
    pr = spark.read.parquet(str(tmp_path / "probes")).filter(
        F.col("vec_id") >= 0  # comparison-shaped: qualifies for DPP
    )

    def score(idx, probe_side):
        return ivf_topk(probe_side, idx, "vec_id", "embedding", k=5)

    pruned = score(index, pr)
    exe = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in exe.lower(), exe[:3000]
    got = sorted(map(tuple, pruned.collect()))
    want = sorted(map(tuple, score(assigned, probes).collect()))
    assert got == want and len(got) > 0


def test_sq8_recall_and_exactness(spark):
    """SQ8 compressed-domain search: top-5 in the int8-quantized
    domain must nearly coincide with the float-exact top-5 (the
    quantization error is ~1/127 relative — ranking flips only for
    near-ties), its cosines must track the exact ones closely, and
    the quantized vectors must stay inside the int8 envelope."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        sq8_quantized,
        sq8_scales,
        sq8_topk,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = topk_per_query(
        pairwise_cosine(q, e, "vec_id", "embedding").filter(
            F.col("q_id") != F.col("d_id")
        ),
        k=5,
    )
    sq8 = sq8_topk(q, e, "vec_id", "embedding", k=5, exclude_self=True)
    ex = {(r.q_id, r.d_id): r.cosine for r in exact.collect()}
    got = {(r.q_id, r.d_id): r.cosine for r in sq8.collect()}
    recall = len(ex.keys() & got.keys()) / len(ex)
    assert recall >= 0.8, f"SQ8 recall too low: {recall:.2f}"
    for pair in ex.keys() & got.keys():
        assert abs(ex[pair] - got[pair]) < 0.05, (pair, ex[pair], got[pair])
    # int8 envelope: every quantized component in [-127, 127]
    scales = sq8_scales(e, "embedding", 64)
    bounds = (
        e.crossJoin(F.broadcast(scales))
        .select(
            sq8_quantized(F.col("embedding"), F.col("__sv")).alias("qv")
        )
        .select(
            F.max(F.array_max("qv")).alias("hi"),
            F.min(F.array_min("qv")).alias("lo"),
        )
        .collect()[0]
    )
    assert bounds.hi <= 127 and bounds.lo >= -127


def test_incremental_ivf_near_dup_two_day_replay(spark):
    """The embedding daily-crawl loop (round 9): day-1 corpus becomes
    IVF state; day 2 brings exact clones (must pair with their
    originals), a fresh orthogonal-ish vector (must pair with
    nothing), and a batch-internal clone pair (must pair within the
    batch). Ghost rule: only KEPT docs' rows enter the next state, so
    day 3's re-send of a dropped clone still collides with the
    ORIGINAL, not a ghost."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        incremental_ivf_near_dup,
        ivf_assign_exact,
        quantized,
    )

    dims = 8

    def vec(seed):
        return [float((seed * (i + 3)) % 7 - 3) + 0.25 for i in range(dims)]

    day1 = spark.createDataFrame(
        [(i, vec(i + 1)) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    cents = day1.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("__list"), "embedding"
    )
    state = ivf_assign_exact(day1, cents, "vec_id", "embedding").select(
        F.col("vec_id").alias("doc"),
        "__list",
        quantized(F.col("embedding")).alias("iv"),
    )
    # day 2: clones of 0 and 3 (ids 100/103), one fresh vector (110),
    # and an internal clone pair (120, 121). vec() is periodic mod 7,
    # so fresh/internal vectors are explicit — not vec(seed) — to
    # guarantee they differ from every day-1 vector
    fresh = [9.0, 0.0, -7.0, 0.5, 0.0, 3.0, 0.0, -1.0]
    internal = [0.0, 8.0, 0.0, -6.0, 1.5, 0.0, -2.0, 0.0]
    day2 = spark.createDataFrame(
        [
            (100, vec(1)),
            (103, vec(4)),
            (110, fresh),
            (120, internal),
            (121, internal),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs, new_rows = incremental_ivf_near_dup(
        day2, state, cents, "vec_id", "embedding", threshold=0.999
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 100) in got
    assert (3, 103) in got
    assert (120, 121) in got
    assert not any(110 in p for p in got)
    # never history x history
    assert not any(a < 100 and b < 100 for a, b in got)
    # ghost rule: drop the greater id of each pair, append kept only
    losers = {b for _a, b in got}
    kept_rows = new_rows.filter(~F.col("doc").isin(list(losers)))
    state2 = state.unionByName(kept_rows)
    assert {r.doc for r in kept_rows.collect()} == {110, 120}
    # day 3 re-sends the dropped clone of 0: it must pair with the
    # ORIGINAL doc 0 (still in state), not with a ghost of 100
    day3 = spark.createDataFrame(
        [(200, vec(1))], "vec_id long, embedding array<float>"
    )
    pairs3, _ = incremental_ivf_near_dup(
        day3, state2, cents, "vec_id", "embedding", threshold=0.999
    )
    got3 = {(r.id_a, r.id_b) for r in pairs3.collect()}
    assert (0, 200) in got3
    assert not any(a == 100 or b == 100 for a, b in got3 if b == 200)


def test_rrf_fuse_reference_and_outer_join(spark):
    """RRF fusion vs a hand-walked reference, incl. a query present in
    only one list (full-outer degradation) and a doc in both lists."""
    from bigdatabowl2024_25_spark.operators.similarity import rrf_fuse

    dense = spark.createDataFrame(
        # q0: docs 10,11,12; q1: doc 20; q2 absent from dense
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
        "q_id long, d_id long, rank long",
    )
    lexical = spark.createDataFrame(
        # q0: doc 11 (also dense) + doc 99 (lexical-only); q2 lexical-only
        [(0, 11, 1), (0, 99, 2), (2, 30, 1)],
        "q_id long, d_id long, rank long",
    )
    got = {
        (r.q_id, r.d_id): (r.rrf_score, r.rank)
        for r in rrf_fuse(dense, lexical).collect()
    }
    # doc 11 fuses both lists; doc 10 dense-only; doc 99 lexical-only
    assert got[(0, 11)][0] == 1.0 / 62 + 1.0 / 61
    assert got[(0, 10)][0] == 1.0 / 61
    assert got[(0, 99)][0] == 1.0 / 62
    # fused order for q0: 11 (both) > 10 (dense r1) > 12/99 (r3 dense vs
    # r2 lexical: 1/63 < 1/62 so 99 before 12)
    ranks = {d: got[(0, d)][1] for d in (10, 11, 12, 99)}
    assert ranks == {11: 1, 10: 2, 99: 3, 12: 4}
    # single-list queries degrade to that list's ranking
    assert got[(1, 20)] == (1.0 / 61, 1)
    assert got[(2, 30)] == (1.0 / 61, 1)


def test_semantic_dedup_paper_rule_and_determinism(spark):
    """SemDeDup on a hand-built world: two clusters around orthogonal
    centroids. Cluster 0 holds a prototype near the centroid, an
    extreme point, and an exact clone pair; cluster 1 holds two
    near-orthogonal members (no dups). The paper rule must remove the
    CLOSER-to-centroid member of each duplicate pair (keep the
    extreme), and clone ties must fall to the higher id."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        semantic_dedup,
    )

    d = 8

    def vec(*pairs):
        v = [0.0] * d
        for i, x in pairs:
            v[i] = x
        return v

    cents = spark.createDataFrame(
        [(0, vec((0, 1.0))), (1, vec((1, 1.0)))],
        "__list int, embedding array<float>",
    )
    rows = [
        # cluster 0: 10 = prototype (cos_c≈1), 11 = tilted twin of 10
        # (cos(10,11) high, cos_c(11) < cos_c(10) → 10 removed, 11 kept)
        (10, vec((0, 1.0))),
        (11, vec((0, 1.0), (2, 0.35))),
        # exact clones 12/13 far from centroid: tie on cos_c → 13 (the
        # higher id) removed, 12 kept
        (12, vec((0, 0.5), (3, 0.8))),
        (13, vec((0, 0.5), (3, 0.8))),
        # cluster 1: near-orthogonal pair, below threshold → both kept
        (20, vec((1, 1.0))),
        (21, vec((1, 0.3), (4, 0.9))),
    ]
    data = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    removed = semantic_dedup(
        data, cents, "vec_id", "embedding", threshold=0.9
    )
    got = {r.vec_id: r for r in removed.collect()}
    assert set(got) == {10, 13}
    # 10 dominated only by 11; 13 only by its clone 12
    assert got[10].n_dups == 1 and got[10]["__list"] == 0
    assert got[13].n_dups == 1
    assert got[13].max_dup_cos == pytest.approx(1.0, abs=1e-5)
    # removal is partitioning-independent: same set under a skewed layout
    again = semantic_dedup(
        data.repartition(7), cents, "vec_id", "embedding", threshold=0.9
    )
    assert {r.vec_id for r in again.collect()} == {10, 13}
    # survivors = anti-join, the documented contract
    kept = data.join(removed, "vec_id", "left_anti")
    assert {r.vec_id for r in kept.collect()} == {11, 12, 20, 21}


def test_knn_classify_votes_ties_and_small_train(spark):
    """Hand-built kNN world: majority vote wins, vote ties fall to the
    smaller label, the k-set tie-breaks on (d2, train id), and a train
    set smaller than k just votes over what exists."""
    from bigdatabowl2024_25_spark.operators.similarity import knn_classify

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    train = spark.createDataFrame(
        [
            # three label-1 points near (1, 0); two label-0 near (0, 1)
            (0, vec(1.0, 0.0), 1),
            (1, vec(1.1, 0.0), 1),
            (2, vec(0.9, 0.0), 1),
            (3, vec(0.0, 1.0), 0),
            (4, vec(0.0, 1.1), 0),
            # distant decoy with the high label
            (5, vec(5.0, 5.0), 9),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    queries = spark.createDataFrame(
        [
            (100, vec(1.0, 0.05)),   # 3×label-1 + 2×label-0 in k=5 → 1
            (101, vec(0.0, 1.05)),   # 2-2 vote tie at k=4 → smaller label 0
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.pred_label, r.votes)
        for r in knn_classify(
            queries, train, "vec_id", "embedding", "label", k=5, dims=8
        ).collect()
    }
    assert got[100] == (1, 3)
    g4 = {
        r.vec_id: (r.pred_label, r.votes)
        for r in knn_classify(
            queries, train, "vec_id", "embedding", "label", k=4, dims=8
        ).collect()
    }
    assert g4[101] == (0, 2)  # 2 votes each for 0 and 1 → label 0 wins
    # train smaller than k: vote over all 2 rows
    tiny = train.filter(F.col("vec_id") >= 4)
    gt = {
        r.vec_id: (r.pred_label, r.votes)
        for r in knn_classify(
            queries, tiny, "vec_id", "embedding", "label", k=5, dims=8
        ).collect()
    }
    assert gt[101] == (0, 1)
    # exact-clone distance: kth_d2 is the boundary distance and a
    # query sitting ON a train point at k=1 reports d2 == 0
    g1 = knn_classify(
        queries.filter(F.col("vec_id") == 100).select(
            "vec_id", F.lit(vec(1.0, 0.0)).alias("embedding")
        ),
        train, "vec_id", "embedding", "label", k=1, dims=8,
    ).collect()[0]
    assert g1.pred_label == 1 and g1.kth_d2 == 0.0


def test_knn_classify_null_and_ragged_vectors(spark):
    """Round-10 hardening: a NULL distance sorts FIRST under the
    ascending k-set window, so one NULL/ragged train vector would
    occupy rank 1 of EVERY query's k-set — bad train rows (and
    NULL labels) must be excluded from the index, and unscorable
    queries must come back (NULL, 0, NULL) instead of being silently
    labeled by tid order."""
    from bigdatabowl2024_25_spark.operators.similarity import knn_classify

    tr = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [0.9, 0.1], "a"),
            (3, [0.0, 1.0], "b"),
            (4, None, "z"),          # NULL vector
            (5, [1.0], "w"),         # ragged vector
            (6, [0.5, 0.5], None),   # NULL label
        ],
        "vec_id long, embedding array<double>, label string",
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.05]), (11, None), (12, [3.0])],
        "vec_id long, embedding array<double>",
    )
    clean_tr = tr.filter("size(embedding) = 2 AND label IS NOT NULL")
    got = {
        r.vec_id: (r.pred_label, r.votes, r.kth_d2)
        for r in knn_classify(
            q, tr, "vec_id", "embedding", "label", k=2, dims=2
        ).collect()
    }
    # scorable query: votes from the two nearest REAL 'a' rows
    assert got[10] == ("a", 2, got[10][2]) and got[10][2] is not None
    # identical to pre-cleaned train input
    want10 = {
        r.vec_id: (r.pred_label, r.votes, r.kth_d2)
        for r in knn_classify(
            q, clean_tr, "vec_id", "embedding", "label", k=2, dims=2
        ).collect()
    }[10]
    assert got[10] == want10
    # unscorable queries: explicit non-answers
    assert got[11] == (None, 0, None)
    assert got[12] == (None, 0, None)


def test_jl_projection_and_topk(spark):
    """Round 10 q82 'rp' branch: the JL ±1 sign projection must be a
    pure zero-shuffle map, preserve enough geometry at 64→16 for the
    shortlist to recover most of the exact top-5 (JL bound), and the
    two-stage funnel must reproduce exactly across runs (md5 signs,
    no RNG)."""
    from bigdatabowl2024_25_spark.operators.similarity import (
        jl_sign_rows,
        jl_topk,
        random_project,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 8)

    # sign matrix: ±1 only, deterministic, distinct rows
    rows = jl_sign_rows(16, 64)
    assert len(rows) == 16 and all(len(r) == 64 for r in rows)
    assert {v for r in rows for v in r} == {-1, 1}
    assert rows == jl_sign_rows(16, 64)
    assert len({tuple(r) for r in rows}) == 16

    # projection is a shuffle-free map over the scan
    proj = random_project(e, "embedding", 16, 64)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert proj.select(F.min(F.size("jl_iv"))).first()[0] == 16

    exact = set(
        map(
            tuple,
            topk_per_query(
                pairwise_cosine(q, e, "vec_id", "embedding").filter(
                    F.col("q_id") != F.col("d_id")
                ),
                k=5,
            )
            .select("q_id", "d_id")
            .collect(),
        )
    )
    got_rows = (
        jl_topk(q, e, "vec_id", "embedding", k=5, shortlist=24)
        .filter(F.col("q_id") != F.col("d_id"))
        .collect()
    )
    got = {(r.q_id, r.d_id) for r in got_rows}
    recall = len(exact & got) / len(exact)
    # 16 dims => JL distortion eps ~ sqrt(ln n / k) ~ 0.6: on the
    # NEAR-ORTHOGONAL synthetic corpus the exact top-5 are separated
    # by far less than eps, so shortlist hit-rate is bounded (0.425
    # measured; same toy-scale band as the PQ sketch). The contract
    # is the deterministic funnel + exact rescoring, not toy recall.
    assert recall >= 0.35, f"JL recall too low: {recall:.2f}"
    # exact rescoring: every surfaced cosine must equal the brute value
    brute = {
        (r.q_id, r.d_id): r.cosine
        for r in pairwise_cosine(q, e, "vec_id", "embedding").collect()
    }
    assert all(brute[(r.q_id, r.d_id)] == r.cosine for r in got_rows)
    # determinism
    rerun = {
        (r.q_id, r.d_id, r.cosine, r.rank)
        for r in jl_topk(
            q, e, "vec_id", "embedding", k=5, shortlist=24
        )
        .filter(F.col("q_id") != F.col("d_id"))
        .collect()
    }
    assert rerun == {(r.q_id, r.d_id, r.cosine, r.rank) for r in got_rows}


@pytest.mark.slow
def test_jl_topk_fuzz_vs_python_reference(spark):
    """Fuzz the WHOLE two-stage JL funnel against an independent
    from-scratch Python implementation (exact ints, same tie-breaks)
    on adversarial random vectors — including duplicate vectors (cos
    ties → d_id tie-break) and negative components."""
    import math
    import random

    from bigdatabowl2024_25_spark.operators.similarity import (
        jl_sign_rows,
        jl_topk,
    )

    rng = random.Random(404)
    DIMS, OUT, K, SHORT = 8, 4, 3, 5
    signs = jl_sign_rows(OUT, DIMS)

    def ref(vecs, qids):
        iv = {
            i: [math.floor(x * 1_000_000.0) for x in v]
            for i, v in vecs.items()
        }
        proj = {
            i: [sum(s * x for s, x in zip(row, iv[i])) for row in signs]
            for i in iv
        }

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            den = math.sqrt(float(sum(x * x for x in a))) * math.sqrt(
                float(sum(x * x for x in b))
            )
            return float(num) / den

        out = []
        for q in qids:
            short = sorted(
                proj, key=lambda d: (-cos(proj[q], proj[d]), d)
            )[:SHORT]
            ranked = sorted(
                short, key=lambda d: (-cos(iv[q], iv[d]), d)
            )[:K]
            out.extend(
                (q, d, cos(iv[q], iv[d]), r + 1)
                for r, d in enumerate(ranked)
            )
        return sorted(out)

    for trial in range(6):
        n = rng.randint(6, 14)
        vecs = {
            i: [rng.uniform(-2, 2) for _ in range(DIMS)]
            for i in range(n)
        }
        if trial % 2:  # force exact duplicates -> cosine ties
            vecs[n] = list(vecs[0])
            vecs[n + 1] = list(vecs[0])
        qids = sorted(vecs)[:2]
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )
        got = sorted(
            tuple(r)
            for r in jl_topk(
                df.filter(F.col("vec_id").isin(qids)),
                df,
                "vec_id",
                "embedding",
                k=K,
                shortlist=SHORT,
                out_dim=OUT,
                dims=DIMS,
            ).collect()
        )
        assert got == ref(vecs, qids), f"trial {trial} diverged"


def test_jl_topk_drops_null_and_ragged_vectors(spark):
    """A NULL projected cosine sorts engine-dependently under the
    desc shortlist window (Spark: NULLs last on desc; DuckDB: NULL
    largest) — bad vectors must be dropped from both sides, and an
    unscorable query yields NO rows (not d_id-ordered noise)."""
    from bigdatabowl2024_25_spark.operators.similarity import jl_topk

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, None),
        (5, [1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    clean = df.filter("size(embedding) = 4")
    q = df.filter(F.col("vec_id").isin(1, 4, 5))
    got = jl_topk(
        q, df, "vec_id", "embedding", k=2, shortlist=3, out_dim=2, dims=4
    ).collect()
    # only query 1 is scorable; its neighbors exclude the bad rows
    assert {r.q_id for r in got} == {1}
    want = jl_topk(
        clean.filter("vec_id = 1"), clean, "vec_id", "embedding",
        k=2, shortlist=3, out_dim=2, dims=4,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_semantic_dedup_degenerate_vectors(spark):
    """NULL/zero data vectors have undefined cosines: they can never
    be PROVEN semantic duplicates, so they SURVIVE (and never evict a
    real row) — previously a cryptic codegen DIVIDE_BY_ZERO. A broken
    centroid raises a labeled error instead."""
    import pytest

    from bigdatabowl2024_25_spark.operators.similarity import (
        semantic_dedup,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "__list long, embedding array<double>",
    )
    data = spark.createDataFrame(
        [
            (1, [1.0, 0.05]),
            (2, [1.0, 0.05]),   # exact clone of 1 -> one removed
            (3, None),
            (4, [0.0, 0.0]),
            (5, [0.0, 0.0]),    # zero twin of 4: still not removable
        ],
        "vec_id long, embedding array<double>",
    )
    removed = {
        r.vec_id
        for r in semantic_dedup(
            data, cents, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    assert removed == {2}

    bad_cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])],
        "__list long, embedding array<double>",
    )
    with pytest.raises(Exception, match="semantic_dedup: centroid"):
        semantic_dedup(
            data, bad_cents, "vec_id", "embedding", threshold=0.9
        ).collect()


@pytest.mark.slow
def test_semantic_dedup_max_cluster_size_guard(spark):
    """Round-11 VERDICT item 3: the degenerate hot cluster — 200
    exact clones in ONE cluster (mass-produced spam, the exact thing
    SemDeDup targets) — must not go O(c²). With max_cluster_size=16
    every member ranks against ≤16 hash-sampled representatives
    (n_dups ≤ 16 proves the pair fan-in is capped, vs 199 uncapped),
    a UserWarning names the fallback, the cluster still collapses to
    a handful of survivors, and the global lowest id (the clone
    nothing can out-rank) always survives. Clusters at or under the
    cap are bit-identical to the uncapped path."""
    import warnings

    from bigdatabowl2024_25_spark.operators.similarity import (
        semantic_dedup,
    )

    n = 200
    clone = [1.0, 0.5, 0.0, 0.25]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "__list int, embedding array<float>"
    )
    data = spark.createDataFrame(
        [(i, clone) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    # uncapped control: the worst victim ranked against every better
    # clone — the quadratic signature
    uncapped = semantic_dedup(
        data, cents, "vec_id", "embedding", threshold=0.99
    ).collect()
    assert max(r.n_dups for r in uncapped) == n - 1

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = semantic_dedup(
            data, cents, "vec_id", "embedding", threshold=0.99,
            max_cluster_size=16,
        ).collect()
    assert any("max_cluster_size=16" in str(x.message) for x in w)
    assert max(r.n_dups for r in capped) <= 16  # fan-in bounded
    removed = {r.vec_id for r in capped}
    survivors = set(range(n)) - removed
    assert 0 in survivors            # nothing can dominate the lowest id
    assert len(survivors) <= 32      # the clone pile still collapses
    # determinism: same removal set on a skewed layout
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        again = semantic_dedup(
            data.repartition(7), cents, "vec_id", "embedding",
            threshold=0.99, max_cluster_size=16,
        ).collect()
    assert {r.vec_id for r in again} == removed

    # a small cluster under the cap: identical to the uncapped result
    small = spark.createDataFrame(
        [(i, clone) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        got_small = semantic_dedup(
            small, cents, "vec_id", "embedding", threshold=0.99,
            max_cluster_size=16,
        ).collect()
    # no fallback, no semantic_dedup warning (other libs may warn)
    assert not [x for x in w2 if "semantic_dedup" in str(x.message)]
    want_small = semantic_dedup(
        small, cents, "vec_id", "embedding", threshold=0.99
    ).collect()
    assert sorted(map(tuple, got_small)) == sorted(map(tuple, want_small))


def test_semantic_dedup_cap_exact_boundary(spark):
    """Round-12 edge audit (VERDICT item 6): a cluster with EXACTLY
    max_cluster_size members must stay on the exact pairwise path —
    no fallback warning, results bit-equal to uncapped, and the worst
    victim's n_dups reaching cap−1 (every better-ranked clone counts).
    One member more trips the fallback, and n_dups stays ≤ cap."""
    import warnings

    from bigdatabowl2024_25_spark.operators.similarity import (
        semantic_dedup,
    )

    cap = 16
    clone = [1.0, 0.5, 0.0, 0.25]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "__list int, embedding array<float>"
    )
    at_cap = spark.createDataFrame(
        [(i, clone) for i in range(cap)],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = semantic_dedup(
            at_cap, cents, "vec_id", "embedding", threshold=0.99,
            max_cluster_size=cap,
        ).collect()
    assert not [x for x in w if "semantic_dedup" in str(x.message)]
    want = semantic_dedup(
        at_cap, cents, "vec_id", "embedding", threshold=0.99
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # exact-tie clones dominate by lower id: the worst victim saw
    # every better clone — n_dups == cap − 1, the uncapped signature
    assert max(r.n_dups for r in got) == cap - 1

    over = spark.createDataFrame(
        [(i, clone) for i in range(cap + 1)],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        got_over = semantic_dedup(
            over, cents, "vec_id", "embedding", threshold=0.99,
            max_cluster_size=cap,
        ).collect()
    assert any(f"max_cluster_size={cap}" in str(x.message) for x in w2)
    # fan-in bounded by the rep count even one past the boundary; the
    # worst victim ranks against at most all `cap` representatives
    assert cap - 1 <= max(r.n_dups for r in got_over) <= cap
    # the global lowest id still survives
    assert 0 not in {r.vec_id for r in got_over}


def test_semantic_dedup_cap_null_ids_inert_and_deterministic(spark):
    """NULL-id rows are inert in the pairwise stage (the xid != yid
    filter drops their pairs) — under max_cluster_size they must also
    be EXCLUDED from rep slots, or ties on the tag-only hash would
    make rep selection (and thus removals) layout-dependent."""
    import warnings

    from bigdatabowl2024_25_spark.operators.similarity import (
        semantic_dedup,
    )

    clone = [1.0, 0.5, 0.0, 0.25]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "__list int, embedding array<float>"
    )
    rows = [(i, clone) for i in range(40)] + [(None, clone)] * 10
    data = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        a = {r.vec_id for r in semantic_dedup(
            data, cents, "vec_id", "embedding", threshold=0.99,
            max_cluster_size=4,
        ).collect()}
        b = {r.vec_id for r in semantic_dedup(
            data.repartition(9), cents, "vec_id", "embedding",
            threshold=0.99, max_cluster_size=4,
        ).collect()}
    assert a == b            # layout-deterministic despite NULL ids
    assert None not in a     # NULL-id rows never removed (inert)
    assert len(a) >= 30      # the clone pile still collapses
