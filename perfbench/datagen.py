"""Seeded generators for the benchmark's inputs.

`write_star` writes the ten TPC-H-ish tables the parity queries read
(`sources.io.TESTDATA_TABLES`), one parquet file each, with the column
names, physical types and value distributions of the repository's
fixed test tables: the same schema at any `scale` (1.0 ~ sf1, so 0.01
gives 60k lineitem rows), drawn from `seed`.

`write_world` writes a BDB-shaped star schema (tracking, plays,
players, player_play) for `pipelines.dag.run_dag`, with the column
layout of the q91 parity world but seeded positions and speeds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_DUP_FRAC = 0.05  # near-dup docs: an earlier doc's text + " dup"
_DOC_BASE_SEED = 20240926
_EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024_US = 19723 * _DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(2, int(10_000 * scale)),
        "part": max(10, int(200_000 * scale)),
        "orders": max(50, int(1_500_000 * scale)),
        "lineitem": max(200, int(6_000_000 * scale)),
        "events": max(100, int(1_000_000 * scale)),
        "users": max(10, int(15_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def write_star(
    out_dir: str, scale: float, seed: int, documents: int | None = None
) -> None:
    """Write the ten star-schema tables under `out_dir`. `documents`
    overrides the document and embedding counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = star_sizes(scale)
    if documents is not None:
        n["documents"] = n["embeddings"] = documents
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    nk = np.arange(25)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk, i32),
        "n_name": pa.array([f"NATION_{k}" for k in nk]),
        "n_regionkey": pa.array(nk % 5, i32),
    })
    ck = np.arange(n["customer"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck, i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, ck.size)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, ck.size)),
    })
    sk = np.arange(n["supplier"])
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk, i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, sk.size)),
    })
    pk = np.arange(n["part"])
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    price = np.round(900.0 + (pk % 1000) / 10.0, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(rng.choice(names, pk.size)),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, pk.size)]),
        "p_type": pa.array(rng.choice(_PTYPES, pk.size)),
        "p_size": pa.array(rng.integers(1, 51, pk.size), i32),
        "p_retailprice": pa.array(price),
    })
    ok = np.arange(n["orders"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, ck.size, ok.size), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], ok.size)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, ok.size)),
        "o_orderdate": _days_ts(_EPOCH_1995 + rng.integers(0, 2400, ok.size)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, ok.size)),
    })
    m = n["lineitem"]
    l_part = rng.integers(0, pk.size, m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ok.size, m), i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, sk.size, m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * price[l_part] * rng.uniform(0.9, 1.1, m), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": _days_ts(_EPOCH_1995 + 1 + rng.integers(0, 2500, m)),
    })
    e = n["events"]
    gaps = np.maximum(rng.exponential(26e6, e).astype(np.int64), 1)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(_EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, e)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    # Which documents near-duplicate which, and every document's length,
    # come from a fixed generator, so every seed gives the dedup funnel
    # the same candidate structure (and the same amount of work); `seed`
    # relabels the vocabulary with a random bijection.
    d = n["documents"]
    base = np.random.default_rng(_DOC_BASE_SEED)
    words = rng.permutation(_VOCAB)
    doc_words: list[list[str]] = []
    for i in range(d):
        if i > 10 and base.random() < _DUP_FRAC:
            doc_words.append(doc_words[int(base.integers(0, i))] + ["dup"])
        else:
            picks = base.integers(0, len(words), int(base.integers(10, 101)))
            doc_words.append([words[k] for k in picks])
    texts = [" ".join(w) for w in doc_words]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, d, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    v = n["embeddings"]
    x = rng.standard_normal((v, _EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    })


#: roster slots per play, as in the q91 parity world: 0 football, 1 QB,
#: 2-6 route runners, 7-13 defenders, 14 an offensive player who runs
#: no route.
_SLOTS = 15
_ROUTES = {2: "GO", 3: "SLANT", 4: "OUT", 5: "POST", 6: "CROSS"}
_COVERAGES = ["Cover-1", "Cover-2", "Cover-3", "Quarters"]
_WORLD_BASE_SEED = 20240925


def write_world(
    out_dir: str, games: int, plays: int, frames: int, seed: int
) -> None:
    """Write tracking/plays/players/player_play under `out_dir`.

    Rosters, events and labels follow the q91 world's modular layout, so
    every stage of `run_dag` has rows to work on; positions, speeds,
    accelerations and headings are seeded straight runs inside the field.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i64, f64 = pa.int64(), pa.float64()
    n = games * plays * frames * _SLOTS
    idx = np.arange(n)
    g = idx // (plays * frames * _SLOTS)
    p = (idx // (frames * _SLOTS)) % plays
    f = (idx // _SLOTS) % frames + 1
    lid = idx % _SLOTS
    nfl = g * 100 + lid

    # one straight run per (game, play, slot). The runs themselves come
    # from a fixed generator so every seed scores the same amount of
    # openness-kernel work; `seed` permutes them among the slots of each
    # role, shifts every play a little and jitters speeds and positions.
    base = np.random.default_rng(_WORLD_BASE_SEED)
    walks = games * plays * _SLOTS
    x0 = base.uniform(10.0, 110.0, walks)
    y0 = base.uniform(5.0, 48.0, walks)
    heading = base.uniform(0.0, 360.0, walks)
    speed = base.uniform(0.5, 8.0, walks)
    slot = np.arange(walks) % _SLOTS
    order = np.arange(walks)
    for role in ([2, 3, 4, 5, 6], [7, 8, 9, 10, 11, 12, 13]):
        members = np.flatnonzero(np.isin(slot, role))
        order[members] = rng.permutation(members)
    x0, y0, heading = x0[order], y0[order], heading[order]
    speed = speed[order] * rng.uniform(0.98, 1.02, walks)
    shift = np.repeat(rng.uniform(-3.0, 3.0, (games * plays, 2)), _SLOTS, axis=0)
    x0, y0 = x0 + shift[:, 0], y0 + shift[:, 1]
    w = (g * plays + p) * _SLOTS + lid
    step = (f - 1) * 0.1 * speed[w]
    rad = np.radians(heading[w])
    x = np.clip(x0[w] + step * np.cos(rad) + rng.normal(0, 0.05, n), 0.0, 120.0)
    y = np.clip(y0[w] + step * np.sin(rad) + rng.normal(0, 0.05, n), 0.0, 53.3)
    s = np.clip(speed[w] + rng.normal(0, 0.05, n), 0.0, 12.0)
    a = rng.uniform(0.0, 2.0, n)
    d = (heading[w] + rng.normal(0, 2.0, n)) % 360.0

    offense = np.isin(lid, [1, 2, 3, 4, 5, 6, 14])
    club = np.where(lid == 0, "BALL", np.where(offense, "OFF", "DEF"))
    pq.write_table(pa.table({
        "gameId": pa.array(g, i64),
        "playId": pa.array(p, i64),
        "nflId": pa.array(nfl, i64),
        "frameId": pa.array(f, i64),
        "frameType": pa.array(np.where(f >= 3, "AFTER_SNAP", "BEFORE_SNAP")),
        "event": pa.array(
            [("pass_forward" if fr == 10 + (gg + pp) % 5 else None)
             for fr, gg, pp in zip(f, g, p)], pa.string()),
        "club": pa.array(club),
        "displayName": pa.array(
            [("football" if l == 0 else f"P{k}") for l, k in zip(lid, nfl)]),
        "x": pa.array(x, f64),
        "y": pa.array(y, f64),
        "s": pa.array(s, f64),
        "a": pa.array(a, f64),
        "dir": pa.array(d, f64),
    }), os.path.join(out_dir, "tracking.parquet"))

    gp = np.arange(games * plays)
    gg, pp = gp // plays, gp % plays
    pq.write_table(pa.table({
        "gameId": pa.array(gg, i64),
        "playId": pa.array(pp, i64),
        "defensiveTeam": pa.array(["DEF"] * gp.size),
        "possessionTeam": pa.array(["OFF"] * gp.size),
        "isDropback": pa.array(~((gg == 1) & (pp == 2))),
        "dropbackDistance": pa.array(np.round(rng.uniform(1.0, 9.0, gp.size), 2)),
        "dropbackType": pa.array(np.where(pp == 3, "QB_SNEAK", "TRADITIONAL")),
        "down": pa.array(pp % 4 + 1, i64),
        "yardsToGo": pa.array(rng.integers(1, 16, gp.size), i64),
        "absoluteYardlineNumber": pa.array(rng.integers(1, 100, gp.size), i64),
        "preSnapHomeScore": pa.array(rng.integers(0, 35, gp.size), i64),
        "preSnapVisitorScore": pa.array(rng.integers(0, 28, gp.size), i64),
        "pff_passCoverage": pa.array(
            [(None if (gi + pi) % 9 == 8 else _COVERAGES[(gi + pi) % 4])
             for gi, pi in zip(gg, pp)], pa.string()),
    }), os.path.join(out_dir, "plays.parquet"))

    gl = np.arange(games * (_SLOTS - 1))
    pg, pl = gl // (_SLOTS - 1), gl % (_SLOTS - 1) + 1
    pid = pg * 100 + pl
    pq.write_table(pa.table({
        "nflId": pa.array(pid, i64),
        "position": pa.array(np.where(pl == 1, "QB", np.where(
            np.isin(pl, [2, 3, 4, 5, 6, 14]), "WR", "CB"))),
        "displayName": pa.array([f"P{k}" for k in pid]),
    }), os.path.join(out_dir, "players.parquet"))

    gpl = np.arange(games * plays * (_SLOTS - 1))
    g3 = gpl // (plays * (_SLOTS - 1))
    p3 = (gpl // (_SLOTS - 1)) % plays
    l3 = gpl % (_SLOTS - 1) + 1
    runner = (l3 >= 2) & (l3 <= 6)
    defender = (l3 >= 7) & (l3 <= 13)
    pq.write_table(pa.table({
        "gameId": pa.array(g3, i64),
        "playId": pa.array(p3, i64),
        "nflId": pa.array(g3 * 100 + l3, i64),
        "wasRunningRoute": pa.array(runner),
        "routeRan": pa.array([_ROUTES.get(int(k)) for k in l3], pa.string()),
        "pff_primaryDefensiveCoverageMatchupNflId": pa.array(
            np.where(runner, g3 * 100 + l3 + 5, 0), i64,
            mask=~runner),
        "pff_defensiveCoverageAssignment": pa.array(
            [(("MAN" if (k + gi) % 2 == 0 else "ZONE") if dd else None)
             for k, gi, dd in zip(l3, g3, defender)], pa.string()),
        "wasTargettedReceiver": pa.array(l3 == 2 + (g3 + p3) % 5),
    }), os.path.join(out_dir, "player_play.parquet"))
