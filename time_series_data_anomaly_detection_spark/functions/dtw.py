"""Dynamic Time Warping distance between series pairs — the classic
elastic similarity measure (Sakoe & Chiba 1978; Berndt & Keogh's
time-series data-mining framing), completing the engine's similarity
family: rolling_corr / cross_correlation (linear, lag-rigid),
sax_mindist (symbolic lower bound), matrix_profile (subsequence
self-similarity) — DTW is the alignment-elastic whole-series
distance the others bound or approximate.

Semantics: banded DTW (Sakoe-Chiba radius ``band``) on the
z-normalized series, optionally PAA-downsampled first (``seg_len`` >
1 — "PDTW", Keogh & Pazzani 2000) which is the standard scale move:
O(n²/s² · band-fraction) instead of O(n²).  The DP is exact within
the band on the (possibly downsampled) representation; the parity
test pins it against an unconstrained full-matrix reference on
inputs where the band is inactive.

Spark shape: the |series|² pair frame is API-bounded by the
cross_correlation guard; each pair's two series are assembled in ONE
grouped-map task (broadcast pair table tags rows; one exchange keyed
by pair), per-pair state = the two downsampled series — the
matrix_profile/PELT worker contract, with the same tiling note at
extreme lengths.

Rows-only gate by declared design (the DP recursion has no SQL
expression); declared in tests/test_gate_coverage.py ROWS_ONLY.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._partition import each_series, per_series


def dtw_banded(x: np.ndarray, y: np.ndarray, band: int) -> float:
    """Exact Sakoe-Chiba-banded DTW with squared-difference local
    cost; returns sqrt of the accumulated cost (the standard
    Euclidean-flavored DTW distance)."""
    n, m = len(x), len(y)
    if n == 0 or m == 0:
        return float("nan")
    w = max(int(band), abs(n - m))  # band must cover the diagonal
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    cur = np.empty(m + 1)
    for i in range(1, n + 1):
        cur[:] = np.inf
        lo = max(1, i - w)
        hi = min(m, i + w)
        d = x[i - 1] - y[lo - 1 : hi]
        cost = d * d
        # cur[j] = cost + min(prev[j], prev[j-1], cur[j-1]) — the
        # cur[j-1] term is a running scan, kept as a tight loop over
        # the band only (≤ 2·band+1 cells per row)
        pj = prev[lo : hi + 1]
        pjm1 = prev[lo - 1 : hi]
        base = np.minimum(pj, pjm1)
        acc = np.inf
        for k in range(hi - lo + 1):
            acc = cost[k] + min(base[k], acc)
            cur[lo + k] = acc
        prev, cur = cur, prev
    return float(np.sqrt(prev[m]))


def dtw_full(x: np.ndarray, y: np.ndarray) -> float:
    """Unconstrained O(n·m) DTW — the parity reference."""
    n, m = len(x), len(y)
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            d = x[i - 1] - y[j - 1]
            D[i, j] = d * d + min(
                D[i - 1, j], D[i, j - 1], D[i - 1, j - 1]
            )
    return float(np.sqrt(D[n, m]))


DTW_SCHEMA = (
    "series_a string, series_b string, n_a long, n_b long, "
    "band int, dtw double"
)


def _prep(vals: np.ndarray, seg_len: int) -> np.ndarray:
    """z-normalize then PAA-downsample (ragged tail keeps its own
    mean — same convention as operators/sax.py)."""
    sd = vals.std(ddof=1) if len(vals) > 1 else 0.0
    z = (vals - vals.mean()) / (sd + 1e-9)
    if seg_len <= 1:
        return z
    k = int(np.ceil(len(z) / seg_len))
    out = np.empty(k)
    for i in range(k):
        out[i] = z[i * seg_len : (i + 1) * seg_len].mean()
    return out


def dtw_pair_kernel(g: pd.DataFrame, band: int = 12,
                    seg_len: int = 4) -> pd.DataFrame:
    """:func:`dtw_distance` on one ``pair`` group ``g`` (the rows of
    both series, in ``rn`` order): one row."""
    a, b = g["pair"].iloc[0].split("\x00")
    xa = g.loc[g["series_id"] == a, "value"].to_numpy(float)
    xb = g.loc[g["series_id"] == b, "value"].to_numpy(float)
    b_, s_ = int(band), int(seg_len)
    return pd.DataFrame(
        {
            "series_a": [a],
            "series_b": [b],
            "n_a": [len(xa)],
            "n_b": [len(xb)],
            "band": [b_],
            "dtw": [dtw_banded(_prep(xa, s_), _prep(xb, s_), b_)],
        }
    )


def dtw_distance(
    df: DataFrame,
    value_col: str = "value",
    band: int = 12,
    seg_len: int = 4,
    series_subset=None,
    max_pairs: int = 64,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """One row per series pair: ``(series_a, series_b, n_a, n_b,
    band, dtw)`` where ``dtw`` is the banded DTW distance on the
    z-normalized, PAA-downsampled series."""
    from ..operators.acf import _guard_pair_explosion

    df = _guard_pair_explosion(
        df, series_subset, max_pairs, allow_all_pairs, "dtw_distance"
    )
    sids = [r[0] for r in df.select("series_id").distinct().collect()]
    sids.sort()
    pairs = [
        (f"{a}\x00{b}", a, b)
        for i, a in enumerate(sids)
        for b in sids[i + 1 :]
    ]
    if not pairs:
        return df.sparkSession.createDataFrame([], DTW_SCHEMA)
    pt = df.sparkSession.createDataFrame(
        [(p, s) for p, a, b in pairs for s in (a, b)],
        "pair string, series_id string",
    )
    tagged = df.select("series_id", "rn", F.col(value_col).alias("value")).join(
        F.broadcast(pt), "series_id"
    )
    return per_series(
        tagged, DTW_SCHEMA, each_series(partial(dtw_pair_kernel, band=band, seg_len=seg_len)),
        ("pair",),
    )
