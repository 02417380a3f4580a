"""Matrix profile + discord discovery (Yeh et al., ICDM 2016 "Matrix
Profile I"; Zhu et al. 2016 "Matrix Profile II" STOMP — public).

The matrix profile ``MP[i]`` is the z-normalized Euclidean distance
from window ``i`` to its nearest non-trivial neighbor window.  High MP
= the window is unlike every other window = a DISCORD — the classic
shape-anomaly notion that pointwise detectors (z-score/MAD/SR) miss:
a normal-valued but wrong-SHAPED day scores high here and nowhere else.

Implementation per series (one grouped-map kernel call) — STOMP:

- Row 0's sliding dot products by direct correlation (O(n·m), m is
  small), then each subsequent row from the previous via the O(k)
  vectorized recurrence
  ``QT[i, 1:] = QT[i-1, :-1] - x[i-1]·x[:k-1] + x[i+m-1]·x[m:m+k-1]``
  — O(n²) total work but one numpy pass per row, no n×n matrix and no
  FFT batches (at m ≪ n the FFT constant loses to the recurrence).
- Rolling mean/std via cumulative sums; z-norm distance from the
  dot-product identity
  ``d² = 2m (1 - (qt - m·μ_q·μ_t) / (m·σ_q·σ_t))``.
- Trivial-match exclusion zone of ``m/2`` around the diagonal.

Degenerate (near-constant) windows — σ below a RELATIVE tolerance —
are special-cased explicitly rather than σ-clamped (clamping divides
the recurrence's accumulated rounding error by ~1e-12 and manufactures
spurious zero-distance neighbors on low-variance data): constant vs
constant compares as distance 0, constant vs non-constant as
``sqrt(2m)`` (the ρ=0 limit), the STUMPY-style convention.

Scale: series are independent tasks; state is O(k) (one row of the
profile), never O(k²).  For 100 TB the documented path for very long
series is per-segment profiles with boundary overlap merged by min —
same output schema, same task shape.

Rows-only gate (sequential recurrence, non-SQL); the unit test plants
a shape discord in a periodic series and asserts it ranks first, and
cross-checks the profile against a naive O(n²·m) reference.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._partition import each_series, per_series

MP_SCHEMA = (
    "series_id string, rn long, mp double, nn_idx long, is_discord int"
)

EPS = 1e-12
# relative σ tolerance marking a window as (near-)constant — the scale
# guard is max(1, |μ|) so tiny-mean series don't flip to absolute units
CONST_TOL = 1e-7


def _rolling_stats(x: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    c = np.cumsum(np.concatenate([[0.0], x]))
    c2 = np.cumsum(np.concatenate([[0.0], x * x]))
    s1 = c[m:] - c[:-m]
    s2 = c2[m:] - c2[:-m]
    mu = s1 / m
    var = np.maximum(s2 / m - mu * mu, 0.0)
    return mu, np.sqrt(var)


def matrix_profile_one(x: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Return (mp, nn_idx) for all n-m+1 windows of one series (STOMP)."""
    n = len(x)
    k = n - m + 1
    mu, sig = _rolling_stats(x, m)
    const = sig <= CONST_TOL * np.maximum(1.0, np.abs(mu))
    sig_safe = np.where(const, 1.0, sig)
    excl = max(1, m // 2)

    mp = np.empty(k)
    nn = np.empty(k, dtype=np.int64)

    # row 0: direct sliding dot products (m << n makes this cheap)
    qt = np.correlate(x, x[:m], mode="valid")  # length k
    qt_first = qt.copy()  # QT[i, 0] = QT[0, i] by symmetry
    for i in range(k):
        if i > 0:
            qt[1:] = qt[:-1] - x[i - 1] * x[: k - 1] + x[i + m - 1] * x[m : m + k - 1]
            qt[0] = qt_first[i]
        if const[i]:
            # constant query: 0 to other constant windows, sqrt(2m)
            # (ρ=0 limit) to everything else — never divide by σ
            dist2 = np.where(const, 0.0, 2.0 * m)
        else:
            dist2 = 2.0 * m * (
                1.0 - (qt - m * mu[i] * mu) / (m * sig_safe[i] * sig_safe)
            )
            dist2[const] = 2.0 * m
        dist2[max(0, i - excl) : i + excl + 1] = np.inf
        j = int(np.argmin(dist2))
        nn[i] = j
        mp[i] = np.sqrt(max(dist2[j], 0.0)) if np.isfinite(dist2[j]) else np.inf
    return mp, nn


def _top_discords(mp: np.ndarray, m: int, top_discords: int) -> np.ndarray:
    """``is_discord``: the ``top_discords`` highest finite profile
    values, greedy, with an m-wide exclusion between picks."""
    k = len(mp)
    discord = np.zeros(k, dtype=np.int32)
    masked = mp.copy()
    masked[~np.isfinite(masked)] = -np.inf
    for _ in range(top_discords):
        i = int(np.argmax(masked))
        if not np.isfinite(masked[i]) or masked[i] < 0:
            break
        discord[i] = 1
        lo, hi = max(0, i - m), min(k, i + m + 1)
        masked[lo:hi] = -np.inf
    return discord


def matrix_profile_kernel(g: pd.DataFrame, m: int = 24,
                          top_discords: int = 3) -> pd.DataFrame:
    """:func:`matrix_profile_scores` on one series ``g`` in ``rn``
    order: one row per window start (none below ``2m`` points)."""
    x = g["value"].to_numpy(dtype=np.float64)
    n = len(x)
    if n < 2 * m:
        return pd.DataFrame(
            columns=["series_id", "rn", "mp", "nn_idx", "is_discord"]
        ).astype(
            {
                "series_id": "object", "rn": "int64", "mp": "float64",
                "nn_idx": "int64", "is_discord": "int32",
            }
        )
    mp, nn = matrix_profile_one(x, m)
    k = len(mp)
    return pd.DataFrame(
        {
            "series_id": g["series_id"].to_numpy()[:k],
            "rn": g["rn"].to_numpy()[:k],
            "mp": np.where(np.isfinite(mp), mp, -1.0),
            "nn_idx": nn + 1,  # report as 1-based rn of the neighbor
            "is_discord": _top_discords(mp, m, top_discords),
        }
    )


def matrix_profile_scores(
    df: DataFrame, m: int = 24, top_discords: int = 3
) -> DataFrame:
    """Per-series matrix profile over ``(series_id, rn, value)``;
    ``is_discord`` marks the ``top_discords`` highest-profile windows
    (greedy, with an m-wide exclusion between picks)."""
    return per_series(
        df.select("series_id", "rn", "value"),
        MP_SCHEMA,
        each_series(partial(matrix_profile_kernel, m=m, top_discords=top_discords)),
    )


def _cross_tile_kernel(
    xa: np.ndarray,
    xb: np.ndarray,
    a0: int,
    b0: int,
    ka: int,
    kb: int,
    m: int,
):
    """Exact AB-join between tile A's ``ka`` windows (absolute starts
    ``a0..``) and tile B's ``kb`` windows (``b0..``): returns
    (min-dist over B per A window, argmin abs start, and the B-side
    pair).  BLAS matmul computes the QT matrix (O(ka·kb·m), m is a
    small constant); distances via the same z-norm identity and
    constant-window conventions as :func:`matrix_profile_one`; the
    m/2 trivial-match exclusion applies on ABSOLUTE indices, so
    adjacent-tile boundaries are handled exactly."""
    mu_a, sig_a = _rolling_stats(xa, m)
    mu_b, sig_b = _rolling_stats(xb, m)
    mu_a, sig_a = mu_a[:ka], sig_a[:ka]
    mu_b, sig_b = mu_b[:kb], sig_b[:kb]
    const_a = sig_a <= CONST_TOL * np.maximum(1.0, np.abs(mu_a))
    const_b = sig_b <= CONST_TOL * np.maximum(1.0, np.abs(mu_b))
    sa = np.where(const_a, 1.0, sig_a)
    sb = np.where(const_b, 1.0, sig_b)

    wa = np.lib.stride_tricks.sliding_window_view(xa, m)[:ka]
    wb = np.lib.stride_tricks.sliding_window_view(xb, m)[:kb]
    excl = max(1, m // 2)
    jb = b0 + np.arange(kb)

    # A-side blocking bounds kernel memory at BLOCK x kb doubles no
    # matter how large the tile knob is (a 4096-tile unblocked kernel
    # buffer is 134 MB/task and thrashes local[32]); maxes reduce per
    # block.  The kernel works in SCORE space — S = (qt − m·μμ)/(σσ),
    # so dist² = 2m − 2S and argmin(dist²) ≡ argmax(S) — which drops
    # three full elementwise passes over the buffer vs forming dist²
    # (the kernel is memory-bound: the buffer is ~20x the input
    # slices), converting only the per-row/col winners to distances.
    BLOCK = 512
    a_best = np.empty(ka)
    a_arg = np.empty(ka, dtype=np.int64)
    b_score = np.full(kb, -np.inf)
    b_arg = np.zeros(kb, dtype=np.int64)
    ra_inv = 1.0 / sa
    rb_inv = 1.0 / sb
    any_const_b = bool(const_b.any())
    for s in range(0, ka, BLOCK):
        e = min(s + BLOCK, ka)
        sc = wa[s:e] @ wb.T
        sc -= np.outer(m * mu_a[s:e], mu_b)
        sc *= np.outer(ra_inv[s:e], rb_inv)
        # constant-window conventions (see module docstring):
        # dist 2m ⇔ S = 0, dist 0 ⇔ S = m
        ca = const_a[s:e]
        if ca.any() or any_const_b:
            sc[ca, :] = 0.0
            sc[:, const_b] = 0.0
            sc[np.ix_(ca, const_b)] = float(m)
        # trivial-match exclusion on absolute window starts — only
        # blocks whose index ranges can reach the diagonal pay for it
        lo_i, hi_i = a0 + s, a0 + e - 1
        if b0 + kb - 1 >= lo_i - excl and b0 <= hi_i + excl:
            ia = a0 + np.arange(s, e)
            sc[np.abs(ia[:, None] - jb[None, :]) <= excl] = -np.inf

        amax = np.argmax(sc, axis=1)
        arow = sc[np.arange(e - s), amax]
        a_best[s:e] = np.where(
            np.isfinite(arow), 2.0 * m - 2.0 * arow, np.inf
        )
        a_arg[s:e] = b0 + amax
        bmax = np.argmax(sc, axis=0)
        bcol = sc[bmax, np.arange(kb)]
        upd = bcol > b_score
        b_score[upd] = bcol[upd]
        b_arg[upd] = a0 + s + bmax[upd]
    b_best = np.where(
        np.isfinite(b_score), 2.0 * m - 2.0 * b_score, np.inf
    )
    return (a_best, a_arg), (b_best, b_arg)


def mp_tile_pair_kernel(g: pd.DataFrame, m: int = 24) -> pd.DataFrame:
    """One ``(series_id, pair_id)`` group of :func:`matrix_profile_tiled`
    in ``rn`` order: the AB-join of its two tiles (``role`` A and B; a
    self pair has only A), as per-window partial minima
    ``series_id, rn, mp_part, nn_part``."""
    sid = g["series_id"].iloc[0]
    ta = int(g["ta"].iloc[0])
    tb = int(g["tb"].iloc[0])
    k = int(g["__k"].iloc[0])
    tw = int(g["__tile"].iloc[0])  # per-series effective tile
    xa = g.loc[g["role"] == "A", "value"].to_numpy(np.float64)
    a0 = ta * tw
    ka = min(tw, k - a0)
    if ta == tb:
        xb, b0, kb = xa, a0, ka
    else:
        xb = g.loc[g["role"] == "B", "value"].to_numpy(np.float64)
        b0 = tb * tw
        kb = min(tw, k - b0)
    (a_best, a_nn), (b_best, b_nn) = _cross_tile_kernel(xa, xb, a0, b0, ka, kb, m)
    rows = {"series_id": [], "rn": [], "mp_part": [], "nn_part": []}

    def emit(start, best, nn_abs, always):
        fin = np.isfinite(best)
        keep = fin | always
        idx = np.nonzero(keep)[0]
        rows["series_id"].extend([sid] * len(idx))
        rows["rn"].extend((start + idx + 1).tolist())
        rows["mp_part"].extend(np.where(fin[idx], best[idx], np.inf).tolist())
        rows["nn_part"].extend(nn_abs[idx].tolist())

    # self pair emits EVERY window (the fallback contribution for
    # all-excluded windows); cross pairs emit only finite mins
    emit(a0, a_best, a_nn, always=(ta == tb))
    if ta != tb:
        emit(b0, b_best, b_nn, always=False)
    return pd.DataFrame(rows)


def mp_merge_kernel(g: pd.DataFrame, m: int = 24, top_discords: int = 3) -> dict:
    """The last step of :func:`matrix_profile_tiled` on one series'
    min-merged squared profile ``g["__mp"]``/``g["__nn"]`` in ``rn``
    order."""
    mp = g["__mp"].to_numpy(np.float64)
    nn = g["__nn"].to_numpy(np.int64)
    fin = np.isfinite(mp)
    mp = np.where(fin, np.sqrt(np.maximum(mp, 0.0)), np.inf)
    return {
        "mp": np.where(np.isfinite(mp), mp, -1.0),
        "nn_idx": np.where(fin, nn + 1, 1),
        "is_discord": _top_discords(mp, m, top_discords),
    }


def matrix_profile_tiled(
    df: DataFrame, m: int = 24, tile: int = 512, top_discords: int = 3
) -> DataFrame:
    """The documented 100 TB path of :func:`matrix_profile_scores`,
    implemented: SCAMP-style tile decomposition (Zimmerman et al.,
    SoCC 2019 — public).  A length-n series becomes T = ⌈k/tile⌉
    tiles; every tile PAIR is an independent AB-join task whose state
    is two (tile+m−1)-length slices — never the whole series — and
    the per-window profile is the min-merge of its pair
    contributions.  Parallelism axis: T(T+1)/2 tasks per series ×
    series count, vs one task per series for the monolithic STOMP;
    data movement is the O(T·n) slice replication every distributed
    exact matrix profile pays.

    Same output schema and (up to fp rounding in the tile kernel's
    BLAS order) the same profile as ``matrix_profile_scores`` — the
    parity test pins agreement and identical discord ranking.

    Spark shape: broadcast per-series tile counts → pair/role
    explode → ONE exchange keyed by (series, pair) for the kernels →
    min-merge aggregate → profile-sized greedy discord pass.
    """
    m_, tile_, td_ = int(m), int(tile), int(top_discords)
    if tile_ < m_:
        raise ValueError("tile must be >= m")

    # Auto-widen the tile per series so SHORT series don't pay the
    # T(T+1)/2 pair fan for free parallelism they can't use (r07
    # verdict: at sf0.1 a 20k-point series split into T=40 tiles made
    # the tiled profile 1.8x its monolithic twin purely on task/
    # shuffle constants).  `tile` is the MINIMUM tile: it grows until
    # a series has at most TARGET_T tiles, capped at TILE_CAP so the
    # kernel's BLOCK x tile working set stays ~16 MB — beyond the cap
    # T grows again, which is exactly the long-series scale path.
    TARGET_T = 8
    TILE_CAP = 4096
    eff_tile = F.least(
        F.greatest(
            F.lit(tile_), F.ceil(F.col("__k") / F.lit(TARGET_T))
        ),
        F.greatest(F.lit(TILE_CAP), F.lit(tile_)),
    ).cast("int")
    nn_tbl = (
        df.groupBy("series_id")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2 * m_)
        .withColumn("__k", F.col("__n") - m_ + 1)
        .withColumn("__tile", eff_tile)
        .withColumn(
            "__T", F.ceil(F.col("__k") / F.col("__tile")).cast("int")
        )
    )
    pairs = (
        nn_tbl.select(
            "series_id", "__k", "__tile",
            F.explode(
                F.sequence(F.lit(0), F.col("__T") - 1)
            ).alias("ta"),
            "__T",
        )
        .select(
            "series_id", "__k", "__tile", "ta",
            F.explode(
                F.sequence(F.col("ta"), F.col("__T") - 1)
            ).alias("tb"),
        )
        .withColumn("pair_id", F.concat_ws("_", "ta", "tb"))
    )
    ra = pairs.select(
        "series_id", "pair_id", "__k", "__tile", "ta", "tb",
        F.col("ta").alias("tile"), F.lit("A").alias("role"),
    )
    rb = pairs.filter(F.col("tb") != F.col("ta")).select(
        "series_id", "pair_id", "__k", "__tile", "ta", "tb",
        F.col("tb").alias("tile"), F.lit("B").alias("role"),
    )
    roles = ra.unionByName(rb)

    p = F.col("rn") - 1
    t_main = F.floor(p / F.col("__tile")).cast("int")
    member = (
        df.select("series_id", "rn", "value")
        .join(
            F.broadcast(nn_tbl.select("series_id", "__T", "__tile")),
            "series_id",
        )
        .withColumn("__t1", F.least(t_main, F.col("__T") - 1))
        .withColumn(
            "__t2",
            F.when(
                (p % F.col("__tile") <= F.lit(m_ - 2))
                & (t_main <= F.col("__T") - 1)
                & (t_main >= 1),
                t_main - 1,
            ),
        )
        .select(
            "series_id", "rn", "value",
            F.explode(
                F.array_compact(F.array("__t1", "__t2"))
            ).alias("tile"),
        )
    )
    tagged = member.join(roles, ["series_id", "tile"])

    parts = per_series(
        tagged,
        "series_id string, rn long, mp_part double, nn_part long",
        each_series(partial(mp_tile_pair_kernel, m=m_)),
        ("series_id", "pair_id"),
    )
    merged = parts.groupBy("series_id", "rn").agg(
        F.min("mp_part").alias("__mp"),
        F.min_by("nn_part", F.struct("mp_part", "nn_part")).alias("__nn"),
    )
    return per_series(
        merged, MP_SCHEMA, each_series(partial(mp_merge_kernel, m=m_, top_discords=td_))
    )
