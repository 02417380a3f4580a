"""Gaussian-process forecaster (SURVEY §2.9 M4), pure numpy.

Reference: sklearn ``GaussianProcessRegressor`` with the composite
kernel ``C*RBF + C*ExpSineSquared(period=48) [+ weekly ExpSineSquared]
+ WhiteKernel`` over the row index, trained on the LAST 1000 train rows
(O(n³) cost control, ``src/run_gp.py:61-67``), predicting per-step
``(mean, std)``.

sklearn is unavailable; this is a from-scratch numpy GP with the same
kernel family and the same train-subsample semantics.  Hyperparameters
are FIXED (no marginal-likelihood optimization) so results are
deterministic — the reference's ``n_restarts_optimizer`` path is a
stochastic fit checked at metric tolerance anyway (SURVEY §5).

Spark shape: scoring cost is O(n·m²) per series (n points × m≤1000
train rows), far heavier than the O(m³/3) fit, so parallelism must not
be capped at the series count (5 series × 20k rows would use 5 of 32
cores; a 3-series × 1B-row cluster job would use 3 executors).  The
plan chunks each series' prediction rows into ``chunk``-row buckets,
replicates the (≤1000-row) train slice to every bucket, and fits+scores
per ``(series_id, bucket)`` group.  Re-running the small Cholesky per
bucket (~15% extra flops) buys bucket-level parallelism and avoids
shuffling an O(m²)=8 MB factor per series as binary state.  Results are
bit-identical across bucketings: the fit sees the same train rows in
every bucket.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._partition import each_series, per_series

GP_SCHEMA = (
    "series_id string, timestamp timestamp, value double, rn long, "
    "pred_mean double, pred_std double"
)


def _kernel(xa: np.ndarray, xb: np.ndarray, amp2: float, ls: float,
            period: float, pamp2: float, pls: float,
            period2: float | None = None, pamp2_2: float = 1.0,
            pls2: float = 1.0) -> np.ndarray:
    """RBF + periodic kernel(s). The feature is the (integer) row index,
    and the kernel is stationary, so k(x_i, x_j) = g(i−j) takes only
    |range(i−j)| ≤ n+m distinct values: evaluate g on the lag grid
    once and GATHER, instead of 2·n·m transcendental calls (the naive
    20k×1000 build was ~4 s/series; the gather is ~0.2 s).

    ``period2`` adds the reference's second (weekly) ExpSineSquared
    component (``src/run_gp.py:33-34``) — one more term on the SAME lag
    grid, so the gather trick extends for free."""
    da = xa.astype(np.int64)
    db = xb.astype(np.int64)
    dmin = int(da.min()) - int(db.max())
    dmax = int(da.max()) - int(db.min())
    lags = np.arange(dmin, dmax + 1, dtype=float)
    g = amp2 * np.exp(-(lags**2) / (2 * ls**2)) + pamp2 * np.exp(
        -2 * np.sin(np.pi * np.abs(lags) / period) ** 2 / pls**2
    )
    if period2:
        g = g + pamp2_2 * np.exp(
            -2 * np.sin(np.pi * np.abs(lags) / period2) ** 2 / pls2**2
        )
    idx = (da[:, None] - db[None, :]) - dmin
    return g[idx]


def _select_hyperparams(
    x_tr: np.ndarray,
    yn: np.ndarray,
    period: float,
    period2: float | None,
    length_scale: float,
    noise: float,
    lml_rows: int = 256,
) -> tuple[float, float]:
    """Bounded hyperparameter selection by log marginal likelihood.

    The reference MLE-fits kernel hyperparameters inside bounds
    (``src/run_gp.py:28-37``: RBF length scale in (10, 200), noise in
    (1e-5, 1e5)) with ``n_restarts_optimizer=1`` — a stochastic
    L-BFGS.  Here: a deterministic candidate grid around the caller's
    values, scored by exact LML on the last ``lml_rows`` train rows
    (LML cost is O(m³) per candidate; 256 rows ≈ 10 ms each, so the
    selection adds ~no wall-clock while replacing the fixed-params
    guess).  Grid order breaks ties, so results are reproducible.
    Returns ``(length_scale, noise²)``.
    """
    xs = x_tr[-lml_rows:]
    ys = yn[-lml_rows:]
    m = len(xs)
    best, best_lml = (length_scale, noise**2), -np.inf
    for ls_c in (0.5 * length_scale, length_scale, 2.0 * length_scale):
        for n2_c in (0.01, noise**2, 0.5):
            K = _kernel(xs, xs, 1.0, ls_c, period, 1.0, 1.0, period2)
            K[np.diag_indices_from(K)] += n2_c
            sign, logdet = np.linalg.slogdet(K)
            if sign <= 0:
                continue
            lml = -0.5 * float(ys @ np.linalg.solve(K, ys)) - 0.5 * logdet - (
                m / 2.0
            ) * np.log(2.0 * np.pi)
            if lml > best_lml + 1e-9:
                best, best_lml = (ls_c, n2_c), lml
    return best


def train_subsample(
    df: DataFrame, train_frac: float = 0.5, max_train: int = 1000
) -> DataFrame:
    """P5 as a standalone operator: the tail-of-train window the GP
    fits on — keep only the LAST ``max_train`` rows of the train
    fraction (``src/run_gp.py:61-67``, ``src/run_hybrid.py:47-50``).
    Pure column algebra (one window pass), so it carries a hard oracle;
    ``gp_forecast`` fuses the same selection into its bucketing exprs.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("series_id")
    pts = (
        df.select("series_id", "rn", "value")
        .withColumn("__n", F.count("*").over(w))
        .withColumn("__rn0", F.min("rn").over(w))
    )
    pos = F.col("rn") - F.col("__rn0")
    n_train = F.greatest(
        F.floor(F.col("__n") * F.lit(float(train_frac))).cast("long"), F.lit(2)
    )
    lo = F.greatest(n_train - F.lit(int(max_train)), F.lit(0))
    return (
        pts.filter((pos >= lo) & (pos < n_train))
        .drop("__n", "__rn0")
    )


def gp_select_hp_kernel(g: pd.DataFrame, period: float = 24.0,
                        period2: float | None = None,
                        length_scale: float = 50.0,
                        noise: float = 0.1) -> pd.DataFrame:
    """The ``optimize`` step of :func:`gp_forecast` on one series' train
    slice ``g`` in ``rn`` order: one row ``series_id, __ls, __n2``."""
    y = g["value"].to_numpy(float)
    x = g["__pos"].to_numpy(float)
    mu, sd = float(y.mean()), float(y.std()) or 1.0
    ls_fit, noise2 = _select_hyperparams(
        x, (y - mu) / sd, period, period2, length_scale, noise
    )
    return pd.DataFrame(
        {"series_id": [g["series_id"].iloc[0]], "__ls": [ls_fit], "__n2": [noise2]}
    )


def gp_forecast_kernel(g: pd.DataFrame, period: float = 24.0,
                       length_scale: float = 50.0, noise: float = 0.1,
                       period2: float | None = None,
                       optimize: bool = False) -> pd.DataFrame:
    """:func:`gp_forecast` on one ``(series_id, __bucket)`` group ``g``
    in ``rn`` order: fit on its train copies (``__role`` 1), predict
    its own rows (``__role`` 0)."""
    tr = g[g["__role"] == 1]
    pr = g[g["__role"] == 0].reset_index(drop=True)
    x_tr = tr["__pos"].to_numpy(float)
    y_tr = tr["value"].to_numpy(float)
    mu, sd = float(y_tr.mean()), float(y_tr.std()) or 1.0
    yn = (y_tr - mu) / sd
    amp2, pamp2, pls = 1.0, 1.0, 1.0
    pamp2_2 = 1.0 if period2 else 0.0
    if optimize:
        # pre-selected per series by gp_select_hp_kernel, constant
        # within every bucket of the series
        ls_fit, noise2 = float(g["__ls"].iloc[0]), float(g["__n2"].iloc[0])
    else:
        ls_fit, noise2 = length_scale, noise**2
    K = _kernel(x_tr, x_tr, amp2, ls_fit, period, pamp2, pls, period2)
    K[np.diag_indices_from(K)] += noise2
    x_star = pr["__pos"].to_numpy(float)
    Ks = _kernel(x_star, x_tr, amp2, ls_fit, period, pamp2, pls, period2)
    # one LU factorization serves both the mean (K⁻¹y) and the
    # variance (K⁻¹Ksᵀ) — ~2× fewer flops than inv() + dense GEMM
    sol = np.linalg.solve(K, np.column_stack([yn, Ks.T]))
    mean = Ks @ sol[:, 0]
    var = (amp2 + pamp2 + pamp2_2 + noise2) - np.einsum(
        "ij,ji->i", Ks, sol[:, 1:]
    )
    var = np.maximum(var, 1e-12)
    return pr.assign(pred_mean=mean * sd + mu, pred_std=np.sqrt(var) * sd)


def gp_forecast(
    df: DataFrame,
    train_frac: float = 0.5,
    max_train: int = 1000,
    period: float = 24.0,
    length_scale: float = 50.0,
    noise: float = 0.1,
    chunk: int = 2048,
    period2: float | None = None,
    optimize: bool = False,
) -> DataFrame:
    """M4: per-series GP regression on the row index.

    Fits on the last ``max_train`` rows of the train fraction (the
    reference's subsample trick — kept as explicit app logic since it
    changes results, SURVEY §4), predicts mean/std for ALL rows.
    Output: ``pred_mean, pred_std`` columns.  ``period2`` enables the
    reference's weekly ExpSineSquared kernel component (daily 48 +
    weekly 336 on half-hourly NAB data, ``src/run_gp.py:26-44``);
    ``optimize`` selects (length_scale, noise²) by marginal likelihood
    over a bounded grid (the deterministic analogue of the reference's
    in-bounds MLE restarts).  Selection sees only the train slice —
    identical in every bucket, so outputs stay bit-identical across
    bucketings.
    """
    from pyspark.sql import Window

    # per-series extent via a window over the series partition — ONE
    # pass over the input (a separate agg + join re-ran the upstream
    # lineage a second time; a union of pred/train branches ran it a
    # third)
    w = Window.partitionBy("series_id")
    pts = df.select("series_id", "timestamp", "value", "rn").withColumn(
        "__n", F.count("*").over(w)
    ).withColumn("__rn0", F.min("rn").over(w))
    pos = F.col("rn") - F.col("__rn0")  # 0-based position in the series
    n_train = F.greatest(
        F.floor(F.col("__n") * F.lit(float(train_frac))).cast("long"), F.lit(2)
    )
    lo = F.greatest(n_train - F.lit(int(max_train)), F.lit(0))
    last_bucket = F.floor((F.col("__n") - F.lit(1)) / F.lit(int(chunk)))
    # every row is a prediction target in its own bucket (role 0);
    # train-slice rows are ALSO replicated to every bucket (role 1) so
    # each group is self-contained (≤ max_train extra rows per bucket —
    # a bounded ~1.5× increase in the one shuffle this op needs).  One
    # explode emits both roles in a single pass.
    own = F.array(F.struct(F.floor(pos / F.lit(int(chunk))).alias("b"), F.lit(0).alias("r")))
    train_copies = F.transform(
        F.sequence(F.lit(0), last_bucket),
        lambda b: F.struct(b.alias("b"), F.lit(1).alias("r")),
    )
    assignments = F.when(
        (pos >= lo) & (pos < n_train), F.concat(own, train_copies)
    ).otherwise(own)
    both = (
        pts.withColumn("__a", F.explode(assignments))
        .withColumn("__bucket", F.col("__a.b"))
        .withColumn("__role", F.col("__a.r"))
        .withColumn("__pos", (F.col("rn") - F.col("__rn0")).cast("long"))
        .drop("__a")
    )

    if optimize:
        # hyperparameter selection depends ONLY on the train slice —
        # hoisted to one tiny per-series grouped-map (≤ max_train rows
        # per group) and broadcast into the bucketed fit, instead of
        # re-running the 9-candidate LML grid in every (series, bucket)
        # group (~15% of gp_forecast wall-clock at 10 buckets/series)
        tr_only = pts.filter((pos >= lo) & (pos < n_train)).select(
            "series_id",
            "rn",
            (F.col("rn") - F.col("__rn0")).cast("long").alias("__pos"),
            "value",
        )
        hp = per_series(
            tr_only,
            "series_id string, __ls double, __n2 double",
            each_series(partial(gp_select_hp_kernel, period=period, period2=period2,
                                length_scale=length_scale, noise=noise)),
        )
        both = both.join(F.broadcast(hp), "series_id")

    return per_series(
        both,
        GP_SCHEMA,
        each_series(partial(gp_forecast_kernel, period=period, length_scale=length_scale,
                            noise=noise, period2=period2, optimize=optimize)),
        ("series_id", "__bucket"),
    )
