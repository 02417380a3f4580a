"""Monotonic-trend diagnostics: Mann-Kendall test + Theil-Sen slope.

The reference's notebooks eyeball trend in the decomposition panels
(``src/decomposition.py``; STL trend component) but publish no formal
trend decision.  This operator adds the standard nonparametric pair:

- **Mann-Kendall S**: ``S = sum_{i<j} sign(x_j - x_i)`` with the
  tie-corrected variance ``var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]
  / 18`` and the continuity-corrected normal score ``z`` (Mann 1945,
  Kendall 1975 — public formulas).
- **Theil-Sen slope**: the median of all pairwise slopes
  ``(x_j - x_i) / (j - i)`` — the robust trend-rate estimate.

Execution model — one grouped-map kernel call per series:

- ``S`` is EXACT at every n via the Kendall inversion identity
  ``S = n(n-1)/2 - T - 2·Q`` (T = tied pairs, Q = strict inversions),
  with Q from a Fenwick-tree count over rank-compressed values —
  O(n log n), no pair materialization ever.
- The Theil-Sen median materializes the full n(n-1)/2 slope multiset
  only while it fits the ``max_exact_pairs`` budget (default 8M pairs
  ⇒ exact for n ≤ 4000, which covers the correctness-gate SF).  Longer
  series switch to a DETERMINISTIC lag-strided subset of the same
  budget (every g-th lag, g chosen to fit) — the standard bounded-
  compute Sen estimator; same knob philosophy as
  ``mad_scores(approx_accuracy=...)``: the gate regime is exact, the
  100 TB regime is explicitly approximate and documented.
- The median itself comes from ``np.partition`` (introselect, O(m)) on
  the two middle order statistics — a full sort of the pair set would
  dominate the runtime and is never needed.

Cross-engine determinism (hash gate): S, n, and the tie term are exact
integers; tau/z/slope use the same literal float algebra as the DuckDB
oracle (see ``plans/queries/stattests.py o_trend_test``), and the
median is the explicit two-order-statistic average, which matches the
oracle's ``sum(slope)/count(*)`` over ranks ``(m+1)//2, (m+2)//2``
bit for bit (a+b then one exact scale by 2).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions._partition import each_series, per_series

MK_SCHEMA = (
    "series_id string, n long, s_stat long, tau double, "
    "var_s double, z double, sen_slope double, trend string"
)

MAX_EXACT_PAIRS = 8_000_000


def _inversions(x: np.ndarray) -> int:
    """Strict inversions (#pairs i<j with x_i > x_j) via a Fenwick
    tree over rank-compressed values — O(n log n)."""
    _, ranks = np.unique(x, return_inverse=True)
    size = int(ranks.max()) + 2
    tree = [0] * size
    inv = 0
    seen = 0
    for r in ranks:
        # count seen values with rank <= r, subtract from seen so far
        i = int(r) + 1
        le = 0
        while i > 0:
            le += tree[i]
            i -= i & (-i)
        inv += seen - le
        i = int(r) + 1
        while i < size:
            tree[i] += 1
            i += i & (-i)
        seen += 1
    return inv


def _sen_slopes(x: np.ndarray, max_pairs: int) -> np.ndarray:
    """Pairwise slopes over all lags, or a deterministic every-g-th-lag
    subset when the full pair set exceeds ``max_pairs``."""
    n = len(x)
    m_full = n * (n - 1) // 2
    g = 1
    while m_full // g > max_pairs:
        g += 1
    lags = range(1, n, g)
    m = sum(n - d for d in lags)
    slopes = np.empty(m, dtype=np.float64)
    pos = 0
    for d in lags:
        k = n - d
        out = slopes[pos : pos + k]
        np.subtract(x[d:], x[:-d], out=out)
        out /= float(d)
        pos += k
    return slopes


def _mann_kendall_one(pdf: pd.DataFrame) -> pd.DataFrame:
    """:func:`mann_kendall_frame` on one series in ``rn`` order."""
    x = pdf["value"].to_numpy(dtype=np.float64)
    n = len(x)
    if n < 2:
        return pd.DataFrame(
            [[pdf["series_id"].iloc[0], n, 0, 0.0, 0.0, 0.0, 0.0, "no trend"]],
            columns=[
                "series_id", "n", "s_stat", "tau",
                "var_s", "z", "sen_slope", "trend",
            ],
        )

    total = n * (n - 1) // 2
    _, counts = np.unique(x, return_counts=True)
    tie_pairs = int(sum(int(t) * (t - 1) // 2 for t in counts if t > 1))
    s_stat = total - tie_pairs - 2 * _inversions(x)

    # tie-corrected variance (exact integer arithmetic up to /18)
    tie_term = int(sum(int(t) * (t - 1) * (2 * t + 5) for t in counts if t > 1))
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0

    if s_stat > 0:
        z = (s_stat - 1) / np.sqrt(var_s) if var_s > 0 else 0.0
    elif s_stat < 0:
        z = (s_stat + 1) / np.sqrt(var_s) if var_s > 0 else 0.0
    else:
        z = 0.0
    tau = s_stat / (0.5 * n * (n - 1))

    # explicit two-order-statistic median: identical algebra to the
    # oracle's sum/count over ranks (m+1)//2 and (m+2)//2 (1-indexed)
    slopes = _sen_slopes(x, MAX_EXACT_PAIRS)
    m = len(slopes)
    k1 = (m + 1) // 2
    k2 = (m + 2) // 2
    part = np.partition(slopes, [k1 - 1, k2 - 1])
    if k1 == k2:
        sen = float(part[k1 - 1])
    else:
        sen = (float(part[k1 - 1]) + float(part[k2 - 1])) / 2.0

    trend = "increasing" if z > 1.96 else ("decreasing" if z < -1.96 else "no trend")
    return pd.DataFrame(
        [[pdf["series_id"].iloc[0], n, int(s_stat), tau, var_s, float(z), sen, trend]],
        columns=[
            "series_id", "n", "s_stat", "tau",
            "var_s", "z", "sen_slope", "trend",
        ],
    )


def mann_kendall_frame(df: DataFrame) -> DataFrame:
    """Per-series Mann-Kendall test + Theil-Sen slope.

    Input: ``(series_id, rn, value)``; output one row per series.
    """
    return per_series(
        df.select("series_id", "rn", "value"), MK_SCHEMA, each_series(_mann_kendall_one)
    )


SMK_SCHEMA = (
    "series_id string, n long, period int, s_stat long, tau double, "
    "var_s double, z double, sen_slope double, trend string"
)


def _seasonal_mk_one(
    pdf: pd.DataFrame, period: int, max_pairs: int
) -> pd.DataFrame:
    """:func:`seasonal_mann_kendall_frame` on one series in ``rn``
    order."""
    x = pdf["value"].to_numpy(dtype=np.float64)
    r = pdf["rn"].to_numpy(dtype=np.int64)
    n = len(x)
    sid = pdf["series_id"].iloc[0]
    if n < 2:
        return pd.DataFrame(
            [[sid, n, period, 0, 0.0, 0.0, 0.0, 0.0, "no trend"]],
            columns=[
                "series_id", "n", "period", "s_stat", "tau",
                "var_s", "z", "sen_slope", "trend",
            ],
        )

    s_stat = 0
    var_num = 0  # exact integer; divide by 18 ONCE (hash-stable)
    d_pairs = 0
    slope_chunks = []
    # projected same-season pair count decides the exact-vs-strided
    # Sen path, same budget philosophy as _sen_slopes
    proj = sum(
        int(c) * (int(c) - 1) // 2
        for c in np.bincount(((r - 1) % period).astype(np.int64))
    )
    exact = proj <= max_pairs
    for g in range(period):
        mask = ((r - 1) % period) == g
        v = x[mask]
        rr = r[mask].astype(np.float64)
        ng = len(v)
        if ng < 2:
            continue
        total = ng * (ng - 1) // 2
        _, counts = np.unique(v, return_counts=True)
        tie_pairs = int(
            sum(int(t) * (t - 1) // 2 for t in counts if t > 1)
        )
        s_stat += total - tie_pairs - 2 * _inversions(v)
        var_num += ng * (ng - 1) * (2 * ng + 5) - int(
            sum(int(t) * (t - 1) * (2 * t + 5) for t in counts if t > 1)
        )
        d_pairs += total
        if exact:
            iu, ju = np.triu_indices(ng, 1)
            slope_chunks.append((v[ju] - v[iu]) / (rr[ju] - rr[iu]))
        else:
            # documented approximate path for extreme lengths: strided
            # subseries slopes rescaled to per-rn units (the gate
            # regime is always exact)
            slope_chunks.append(
                _sen_slopes(v, max(1, max_pairs // period)) / float(period)
            )
    var_s = var_num / 18.0
    if s_stat > 0:
        z = (s_stat - 1) / np.sqrt(var_s) if var_s > 0 else 0.0
    elif s_stat < 0:
        z = (s_stat + 1) / np.sqrt(var_s) if var_s > 0 else 0.0
    else:
        z = 0.0
    tau = s_stat / (0.5 * d_pairs) if d_pairs else 0.0
    slopes = (
        np.concatenate(slope_chunks) if slope_chunks else np.zeros(1)
    )
    m = len(slopes)
    k1 = (m + 1) // 2
    k2 = (m + 2) // 2
    part = np.partition(slopes, [k1 - 1, k2 - 1])
    if k1 == k2:
        sen = float(part[k1 - 1])
    else:
        sen = (float(part[k1 - 1]) + float(part[k2 - 1])) / 2.0
    trend = (
        "increasing" if z > 1.96
        else ("decreasing" if z < -1.96 else "no trend")
    )
    return pd.DataFrame(
        [[sid, n, period, int(s_stat), tau, var_s, float(z), sen, trend]],
        columns=[
            "series_id", "n", "period", "s_stat", "tau",
            "var_s", "z", "sen_slope", "trend",
        ],
    )


def seasonal_mann_kendall_frame(
    df: DataFrame, period: int = 48, max_pairs: int = MAX_EXACT_PAIRS
) -> DataFrame:
    """Seasonal (Hirsch-Slack 1984) Mann-Kendall + seasonal Sen slope:
    the trend test for SEASONAL series — plain MK reads a diurnal
    cycle as alternating micro-trends and loses power, the seasonal
    form compares each observation only against its own season
    position (``(rn−1) mod period``), sums the per-season S and
    tie-corrected variances, and takes the Sen median over
    same-season pairwise slopes in original-rn units.

    Exactness: S and the variance NUMERATOR are exact integers (the
    Fenwick inversion identity per season; one /18 at the end), the
    slope set is the literal ``Δv/Δrn`` doubles the oracle
    materializes, and the median is the two-order-statistic average —
    the same hash-stability recipe as ``mann_kendall_frame``.  One
    grouped-map task per series; same ``max_pairs`` budget with a
    documented strided fallback for extreme lengths.
    """
    return per_series(
        df.select("series_id", "rn", "value"),
        SMK_SCHEMA,
        each_series(partial(_seasonal_mk_one, period=int(period), max_pairs=int(max_pairs))),
    )
