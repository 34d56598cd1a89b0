"""Numeric kernels X1/X2 (SURVEY.md §2.9): reachable-radius and
Monte-Carlo openness.

Reference semantics (re-derived, not ported):
- X1 `partial_radius(player_speed, x, y, ball_speed, bx, by)`
  (`radius_model.R:9-79`): for each of 360 headings, the largest
  radius the player can cover before the ball arrives at that point.
  The reference solves a 2-var L-BFGS-B problem per heading
  (`radius_model.R:47-54`); the same boundary is the positive root of
  a quadratic (Apollonius interception circle), solved here in closed
  form — one numpy broadcast over rows × 360 headings, ~10⁴× cheaper
  with identical semantics. (The optimizer path existed only because R
  had no closed form at hand.)
- X2 `overlap(...)` → `open_count` (`radius_model.R:97-199`): Monte
  Carlo openness — bound a box by the max radius ∩ the field
  (0-120 × 0-53.3, `radius_model.R:114-123`), sample `area×density`
  uniform points (`:127-131`), per point: ball flight time (`:134`),
  defender reachability (`:138-146`), offensive reachability via the
  X1 radius indexed by angle (`:149-166`), +0.2 direction bonus within
  π/8 of the player's heading (`:168-182`); score 1+0.2·dir if no
  defender reaches, −0.2·count if >1, else 0 (`:186-192`); summed.

Determinism: the reference used `future.seed=TRUE`
(`radius_model.R:249`) — partition-layout-dependent. Here the RNG seed
derives from row identity (gameId, playId, nflId, frameId), so results
are identical under ANY partitioning/cluster size — a requirement for
oracle replays at 100 TB.

The public entry is `score_openness(df, ...)`: a mapInPandas operator
taking defenders as an array<struct<x,y,s>> column (the idiomatic
Spark signature; `wide_to_defender_array` adapts the reference's
x_1…s_11 wide layout, `radius_model.R:226-230`).
"""

from __future__ import annotations

import functools
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

FIELD_X = 120.0
FIELD_Y = 53.3
N_ANGLES = 360
#: radius cap when the player outruns the ball (bs <= s): field diagonal
R_CAP = math.hypot(FIELD_X, FIELD_Y)


@functools.lru_cache(maxsize=None)
def _headings(n_angles: int) -> tuple[np.ndarray, np.ndarray]:
    """(1, n_angles) cos and sin of the equally spaced headings θ, computed
    once per `n_angles`; read-only, since every call shares them."""
    theta = np.linspace(0.0, 2.0 * np.pi, n_angles, endpoint=False)[None, :]
    ux, uy = np.cos(theta), np.sin(theta)
    ux.flags.writeable = uy.flags.writeable = False
    return ux, uy


def partial_radius(
    player_speed: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
    ball_speed: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    n_angles: int = N_ANGLES,
) -> np.ndarray:
    """X1, closed form. Inputs are 1-D arrays of N rows; returns
    (N, n_angles) reachable radii.

    Boundary condition per heading u(θ): r/s = |p0 + r·u − b|/bs.
    With w = p0 − b this is the positive root of
    (bs² − s²)·r² − 2s²(u·w)·r − s²|w|² = 0.

    The reference's iterative-solver path (`radius_model.R:47-54`) is
    `partial_radius_optimizer`, the parity tests' reference per SURVEY
    §7; this closed form is ~10⁴× cheaper with identical semantics
    (pinned by tests/test_kernels parity)."""
    s = np.asarray(player_speed, dtype=np.float64)[:, None]
    bs = np.asarray(ball_speed, dtype=np.float64)[:, None]
    wx = (np.asarray(px, dtype=np.float64) - np.asarray(bx, dtype=np.float64))[
        :, None
    ]
    wy = (np.asarray(py, dtype=np.float64) - np.asarray(by, dtype=np.float64))[
        :, None
    ]
    ux, uy = _headings(n_angles)

    a = bs * bs - s * s
    b = -2.0 * s * s * (ux * wx + uy * wy)
    c = -(s * s) * (wx * wx + wy * wy)

    disc = np.maximum(b * b - 4.0 * a * c, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = (-b + np.sqrt(disc)) / (2.0 * a)
    # player at least as fast as the ball → every radius reachable
    r = np.where(a <= 0.0, R_CAP, r)
    return np.clip(r, 0.0, R_CAP)


def partial_radius_optimizer(
    player_speed: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
    ball_speed: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    n_angles: int = N_ANGLES,
    iters: int = 80,
) -> np.ndarray:
    """X1 via the reference's OPTIMIZER path (`radius_model.R:47-54`),
    kept as the parity tests' reference per SURVEY §7 (no production
    caller). The reference
    runs L-BFGS-B per heading over (time, ball_angle) to find the
    interception point — at the optimum the ball flies straight at the
    player's position, so the problem reduces to the 1-D boundary
    condition g(r) = s·|w + r·u| − bs·r = 0 (w = p0 − b), the same
    root the closed form extracts from the quadratic. This function
    solves g by VECTORIZED BISECTION (pure numpy — no scipy in the
    runtime), an iterative numeric path wholly independent of the
    quadratic algebra: `iters`=80 halvings of [0, R_CAP] reach ~1e-22
    radius precision, far below the parity test's 1e-6 gate.

    Semantics shared with `partial_radius` (the adjudicated kernel):
    when the player is at least as fast as the ball (bs ≤ s) every
    radius is reachable → R_CAP, applied as the same post-override so
    the two paths differ only in HOW the a > 0 root is computed.
    Why bisection is valid there: for bs > s, g(0) = s·|w| ≥ 0 and
    g(R) < 0 for R ≥ s·|w|/(bs − s) ≥ the positive root (the root
    pair has product −s²|w|²/a ≤ 0, so exactly one root is positive);
    g is continuous, so the sign change brackets it. Roots above
    R_CAP clip to R_CAP exactly as the closed form does."""
    s = np.asarray(player_speed, dtype=np.float64)[:, None]
    bs = np.asarray(ball_speed, dtype=np.float64)[:, None]
    wx = (np.asarray(px, dtype=np.float64) - np.asarray(bx, dtype=np.float64))[
        :, None
    ]
    wy = (np.asarray(py, dtype=np.float64) - np.asarray(by, dtype=np.float64))[
        :, None
    ]
    ux, uy = _headings(n_angles)

    def g(r):
        return s * np.hypot(wx + r * ux, wy + r * uy) - bs * r

    lo = np.zeros((s.shape[0], n_angles))
    hi = np.full_like(lo, R_CAP)
    # no sign change inside [0, R_CAP] → the root (if any) lies beyond
    # the cap → the clipped answer is R_CAP, which `hi` already is
    capped = g(hi) >= 0.0
    for _ in range(iters):
        mid = 0.5 * (lo + hi)
        gm = g(mid)
        lo = np.where(gm > 0.0, mid, lo)
        hi = np.where(gm > 0.0, hi, mid)
    r = np.where(capped, R_CAP, hi)
    r = np.where(bs <= s, R_CAP, r)  # the shared a ≤ 0 override
    return np.clip(r, 0.0, R_CAP)


def row_seed(game_id: int, play_id: int, nfl_id: int, frame_id: int) -> int:
    """Partition-independent RNG seed from row identity."""
    h = (
        (int(game_id) * 1_000_003 + int(play_id)) * 1_000_003
        + int(nfl_id)
    ) * 1_000_003 + int(frame_id)
    return h % (2**63)


def overlap(
    o_speed: float,
    o_dir_deg: float,
    ox: float,
    oy: float,
    defenders: np.ndarray,  # (k, 3) columns x, y, s
    ball_speed: float,
    bx: float,
    by: float,
    density: float = 100.0,
    seed: int = 0,
) -> float:
    """X2 for a single row. `density` = MC points per square yard
    (reference: 100, `radius_model.R:127`).

    Bit-identical to the plain (m, k)-matrix formulation, which
    `tests/test_kernels.py` keeps as its reference: every per-point
    value is the same IEEE operations on the same operands in the same
    order, so the score array, and with it `score.sum()`, cannot move.
    Only the numpy work that carries those operations is smaller:
    - the draws: `Generator.uniform(low, high)` computes
      `low + (high - low)·u` per element, consuming the stream in C
      order; `random((n, 2))` yields the same u in the same order, and
      the same subtraction, multiply and add follow;
    - the reach test compares against a squared-radius table, the same
      squares as `radii[idx]**2`, computed once per angle;
    - the defender count loops over the k ≤ 11 defenders, adding each
      one's 0/1 reach test into a count vector: each test is the same
      multiply-compare as its matrix cell, and an integer count does
      not depend on the order it is summed in. No (m, k) temporaries
      and no strided `.sum(axis=1)`;
    - the direction bonus is evaluated only where it is read, and the
      two `% N` / `% 2π` passes whose operands are already in range are
      replaced by what they compute there (see the comments)."""
    radii = partial_radius(
        np.array([o_speed]),
        np.array([ox]),
        np.array([oy]),
        np.array([ball_speed]),
        np.array([bx]),
        np.array([by]),
    )[0]
    rmax = float(radii.max())
    if rmax <= 0.0:
        return 0.0
    x0, x1 = max(ox - rmax, 0.0), min(ox + rmax, FIELD_X)
    y0, y1 = max(oy - rmax, 0.0), min(oy + rmax, FIELD_Y)
    area = max(x1 - x0, 0.0) * max(y1 - y0, 0.0)
    n = int(area * density)
    if n <= 0:
        return 0.0

    # the uniform box draw, as `uniform((x0, y0), (x1, y1))` computes it
    u = np.random.default_rng(seed).random((n, 2))
    px = x0 + (x1 - x0) * u[:, 0]
    py = y0 + (y1 - y0) * u[:, 1]

    # offensive reachability FIRST (O(n), no defender dimension): only
    # reachable points contribute to the score, so the O(n·k) defender
    # pass below runs on the reachable subset only. Bit-identical to
    # evaluating everything — same RNG draws, same summands in the
    # same order — but skips the ~40-60% of box points outside the
    # (angle-dependent) radius. The box∩circle waste is inherent to
    # the reference's sample-the-box design (`radius_model.R:114-131`).
    dox, doy = px - ox, py - oy
    # `% 2π` on arctan2's range [−π, π]: fmod(a, 2π) is a itself and
    # numpy's remainder adds 2π once when it is negative; this is that
    # add without the fmod. (remainder maps −0.0 to +0.0, where keeps
    # −0.0; the floor below and the heading difference read both alike.)
    ang = np.arctan2(doy, dox)
    ang = np.where(ang < 0.0, ang + 2.0 * np.pi, ang)
    # ang/step floors to 0..N_ANGLES, and bin N_ANGLES (ang rounded up to
    # 2π) is heading 0: the squared-radius table repeats bin 0 at its end
    # instead of an integer `% N_ANGLES` pass over every point
    idx = np.floor(ang / (2.0 * np.pi / N_ANGLES)).astype(np.int64)
    r2 = radii**2
    # squared comparison: d ≤ r ⟺ d² ≤ r² for d,r ≥ 0 — no sqrt
    o_reach = (dox * dox + doy * doy) <= np.append(r2, r2[0])[idx]

    # one index gather per column: cheaper than three boolean masks
    sel = np.flatnonzero(o_reach)
    rx, ry = px[sel], py[sel]
    m = len(sel)
    if m == 0:
        return 0.0
    dbx, dby = rx - bx, ry - by
    d_ball2 = dbx * dbx + dby * dby

    # t_def ≤ t_ball ⟺ d_def²·bs² ≤ d_ball²·s_def² (all ≥ 0): no sqrt
    # or divide. One pass per defender; its 0/1 tests (a bool array is
    # bytes of 0 and 1) add into a counter of the smallest unsigned type
    # that holds k, so no pass widens them first
    k = len(defenders)
    n_reach = np.zeros(m, dtype=np.min_scalar_type(k))
    if k:
        bs2 = ball_speed * ball_speed
        sdef2 = np.maximum(defenders[:, 2], 1e-9) ** 2
        for dfx, dfy, s2 in zip(defenders[:, 0], defenders[:, 1], sdef2):
            dx, dy = rx - dfx, ry - dfy
            n_reach += ((dx * dx + dy * dy) * bs2 <= d_ball2 * s2).view(np.uint8)

    # score: 1 + 0.2·dir if no defender reaches, −0.2·count if more than
    # one, else 0. The direction bonus is computed for the free points
    # only, the one branch that reads it
    score = np.where(n_reach > 1, -0.2 * n_reach, 0.0)
    free = np.flatnonzero(n_reach == 0)
    dir_rad = math.radians(o_dir_deg)
    dang = np.abs((ang[sel[free]] - dir_rad + np.pi) % (2.0 * np.pi) - np.pi)
    score[free] = 1.0 + 0.2 * (dang <= (np.pi / 8.0))
    return float(score.sum())


def wide_to_defender_array(df, n_defenders: int = 11):
    """Adapter: the reference's wide x_1…x_11/y_*/s_* defender layout
    (`radius_model.R:226-230`) → array<struct<x,y,s>>."""
    from pyspark.sql import functions as F

    structs = [
        F.struct(
            F.col(f"x_{i}").alias("x"),
            F.col(f"y_{i}").alias("y"),
            F.col(f"s_{i}").alias("s"),
        )
        for i in range(1, n_defenders + 1)
    ]
    return df.withColumn(
        "defenders",
        F.filter(F.array(*structs), lambda d: d["x"].isNotNull()),
    )


OPENNESS_SCHEMA = (
    "gameId long, playId long, nflId long, frameId long, open_count double"
)


def score_openness(df, density: float = 100.0):
    """X2 as a distributed operator: mapInPandas over Arrow batches.

    Expects columns: gameId, playId, nflId, frameId, s, dir, x, y,
    ball_speed, fx, fy, defenders (array<struct<x,y,s>>). Replaces the
    reference's manual 50k-row chunking + process pool
    (`radius_model.R:210-255`) — Spark's task scheduler IS the chunker,
    and Arrow replaces the worker serialization.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = np.empty(len(pdf), dtype=np.float64)
            for i, row in enumerate(pdf.itertuples(index=False)):
                defs_raw = row.defenders
                if defs_raw is None or len(defs_raw) == 0:
                    defs = np.empty((0, 3))
                else:
                    defs = np.array(
                        [[d["x"], d["y"], d["s"]] for d in defs_raw],
                        dtype=np.float64,
                    )
                out[i] = overlap(
                    row.s,
                    row.dir,
                    row.x,
                    row.y,
                    defs,
                    row.ball_speed,
                    row.fx,
                    row.fy,
                    density=density,
                    seed=row_seed(row.gameId, row.playId, row.nflId, row.frameId),
                )
            yield pd.DataFrame(
                {
                    "gameId": pdf["gameId"],
                    "playId": pdf["playId"],
                    "nflId": pdf["nflId"],
                    "frameId": pdf["frameId"],
                    "open_count": out,
                }
            )

    return df.mapInPandas(batches, schema=OPENNESS_SCHEMA)
