"""S7 residual-diagnostic FRAMES — the data behind the reference's
plot panels (``src/plotting.py:8-50``), minus the pixels:

- :func:`qq_frame` — the (theoretical, sample) quantile pairs of
  ``scipy.stats.probplot(residuals, dist="norm")``: sorted residuals
  against the normal PPF of Filliben's order-statistic medians.
- :func:`histogram_fit_frame` — ``plt.hist(residuals, bins=50,
  density=True)`` bin counts/densities plus the ``stats.norm.fit``
  (MLE: mean, population std) overlay evaluated at bin centers, and
  the Fisher kurtosis from the panel title.

Both are pure column algebra, so each is hash-gated against a DuckDB
oracle.  The cross-engine contract: every float formula here is
emitted as SHARED SQL TEXT, evaluated via ``F.expr`` on the Spark side
and spliced verbatim into the oracle — identical expression trees over
bit-identical inputs give bit-identical doubles (see ``_exact.py``).
Two text conventions make that hold:

- float literals are written in e-notation (``5e-1``, not ``0.5``):
  BOTH engines parse e-notation as DOUBLE, while plain decimal
  literals become DECIMAL and silently change the algebra;
- integer columns are explicitly ``CAST(... AS DOUBLE)`` before mixed
  arithmetic (DuckDB would otherwise promote through DECIMAL).

The normal PPF is Acklam's rational approximation (|err| < 1.15e-9;
the same algebra as ``functions.shesd._norm_ppf``) — scipy is not
available in either engine, and a closed form keeps the whole query
inside whole-stage codegen instead of a Python UDF.

At scale: one window pass per series for ranking (QQ), two grouped
aggregates + one 50-row-per-series explode (histogram); all joins on
series_id ride broadcast (the per-series stats frame is tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._exact import DEC

# Acklam PPF coefficients — e-notation strings shared by both engines.
_PPF_A = [
    "-3.969683028665376e+01", "2.209460984245205e+02",
    "-2.759285104469687e+02", "1.383577518672690e+02",
    "-3.066479806614716e+01", "2.506628277459239e+00",
]
_PPF_B = [
    "-5.447609879822406e+01", "1.615858368580409e+02",
    "-1.556989798598866e+02", "6.680131188771972e+01",
    "-1.328068155288572e+01",
]
_PPF_C = [
    "-7.784894002430293e-03", "-3.223964580411365e-01",
    "-2.400758277161838e+00", "-2.549732539343734e+00",
    "4.374664141464968e+00", "2.938163982698783e+00",
]
_PPF_D = [
    "7.784695709041462e-03", "3.224671290700398e-01",
    "2.445134137142996e+00", "3.754408661907416e+00",
]

SQRT_2PI = "2.5066282746310002e0"  # repr(math.sqrt(2*math.pi))


def _horner(coeffs: list[str], var: str) -> str:
    expr = coeffs[0]
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + {c})"
    return expr


def _ppf_tail(var: str) -> str:
    """The C/D rational evaluated at a tail argument sqrt(-2 ln p)."""
    return (
        f"({_horner(_PPF_C, var)} / "
        f"({_horner(_PPF_D, var)} * {var} + 1e0))"
    )


def norm_ppf_sql(p: str) -> str:
    """Acklam inverse normal CDF of column/expression ``p`` as shared
    SQL text (valid and bit-identical in Spark SQL and DuckDB)."""
    lo = f"sqrt(-2e0 * ln({p}))"
    hi = f"sqrt(-2e0 * ln(1e0 - {p}))"
    q = f"({p} - 5e-1)"
    r = f"({q} * {q})"
    central = (
        f"({_horner(_PPF_A, r)} * {q} / "
        f"({_horner(_PPF_B, r)} * {r} + 1e0))"
    )
    return (
        f"(CASE WHEN {p} < 2.425e-2 THEN {_ppf_tail(lo)} "
        f"WHEN {p} <= 9.7575e-1 THEN {central} "
        f"ELSE -{_ppf_tail(hi)} END)"
    )


def filliben_sql(i: str, n: str) -> str:
    """Filliben's order-statistic medians (scipy probplot's positions):
    m_n = 0.5^(1/n), m_1 = 1 - m_n, else (i - 0.3175)/(n + 0.365)."""
    pn = f"power(5e-1, 1e0 / CAST({n} AS DOUBLE))"
    return (
        f"(CASE WHEN {i} = {n} THEN {pn} "
        f"WHEN {i} = 1 THEN 1e0 - {pn} "
        f"ELSE (CAST({i} AS DOUBLE) - 3.175e-1) "
        f"/ (CAST({n} AS DOUBLE) + 3.65e-1) END)"
    )


def hist_center_sql(rmin: str, bin_: str, width: str) -> str:
    return f"({rmin} + (CAST({bin_} AS DOUBLE) + 5e-1) * {width})"


def normal_pdf_sql(x: str, mu: str, sigma: str) -> str:
    # sigma floor: a constant-residual series has sigma = 0, and the
    # 0/0 path diverges between engines (Spark NaN, DuckDB NULL); the
    # floor is 6 orders below the rounding quantum, so non-degenerate
    # values are untouched.  Shared text -> both engines get the same
    # formula by construction.
    s = f"greatest({sigma}, 1e-12)"
    z = f"(({x} - {mu}) / {s})"
    return f"(exp(-{z} * {z} / 2e0) / ({s} * {SQRT_2PI}))"


def qq_frame(df: DataFrame, col: str = "resid") -> DataFrame:
    """Normal QQ pairs per series (``stats.probplot``,
    ``src/plotting.py:17-23``): rank the residuals, map ranks to
    Filliben medians, medians through the normal PPF.

    Output: (series_id, qq_i, theoretical_q, sample_q) — unrounded;
    callers quantize.  Ties in ``col`` may permute ranks between runs,
    but the (rank, value) multiset is invariant, so the frame is
    deterministic as a set.
    """
    ranked = (
        df.select("series_id", F.col(col).alias("sample_q"))
        .withColumn(
            "qq_i",
            F.row_number()
            .over(Window.partitionBy("series_id").orderBy("sample_q"))
            .cast("long"),
        )
        .withColumn(
            "qq_n", F.count("*").over(Window.partitionBy("series_id"))
        )
    )
    pos = ranked.withColumn("qq_m", F.expr(filliben_sql("qq_i", "qq_n")))
    return pos.select(
        "series_id",
        "qq_i",
        F.expr(norm_ppf_sql("qq_m")).alias("theoretical_q"),
        "sample_q",
    )


def histogram_fit_frame(
    df: DataFrame, col: str = "resid", bins: int = 50
) -> DataFrame:
    """Density histogram + normal-fit overlay per series
    (``src/plotting.py:25-40``): ``bins`` equal-width bins over
    [min, max] (top edge closed, as ``np.histogram``), density =
    count/(n·width); ``norm.fit`` MLE (mean, POPULATION std) and its
    pdf at each bin center; Fisher kurtosis (``stats.kurtosis``:
    m4/m2² − 3, biased) from the panel title.

    Empty bins are emitted with n_bin = 0 (the plot draws them), via a
    per-series 0..bins-1 explode — no cross join.  Output unrounded.
    """
    rcol = F.col(col)
    top = bins - 1
    h0 = df.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum(rcol.cast(DEC)).cast("double").alias("s1"),
        F.min(rcol).alias("rmin"),
        F.max(rcol).alias("rmax"),
    )
    # np.histogram widens a degenerate range (all values equal) to
    # [x-0.5, x+0.5]; without this the width is 0 and the bin index
    # becomes 0/0 — which Spark (NaN) and DuckDB (NULL) then disagree on
    h1 = h0.selectExpr(
        "series_id", "n", "s1 / n AS mu",
        "CASE WHEN rmax = rmin THEN rmin - 0.5e0 ELSE rmin END AS rmin",
        "CASE WHEN rmax = rmin THEN rmax + 0.5e0 ELSE rmax END AS rmax",
    ).selectExpr(
        "series_id", "n", "mu", "rmin", "rmax",
        f"(rmax - rmin) / {bins}e0 AS width",
    )
    j = df.select("series_id", rcol.alias("resid")).join(
        F.broadcast(h1), "series_id"
    )
    hm = j.groupBy("series_id").agg(
        F.sum(F.expr("(resid - mu) * (resid - mu)").cast(DEC))
        .cast("double")
        .alias("m2s"),
        F.sum(
            F.expr(
                "((resid - mu) * (resid - mu))"
                " * ((resid - mu) * (resid - mu))"
            ).cast(DEC)
        )
        .cast("double")
        .alias("m4s"),
    )
    cnts = (
        j.selectExpr(
            "series_id",
            f"CAST(least(floor((resid - rmin) / width), {top}) AS BIGINT)"
            " AS bin",
        )
        .groupBy("series_id", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    grid = (
        h1.join(hm, "series_id")
        .withColumn("bin", F.explode(F.sequence(F.lit(0), F.lit(top))))
        .withColumn("bin", F.col("bin").cast("long"))
    )
    pre = grid.join(F.broadcast(cnts), ["series_id", "bin"], "left").selectExpr(
        "series_id",
        "bin",
        f"{hist_center_sql('rmin', 'bin', 'width')} AS bin_center",
        "coalesce(cnt, 0) AS cnt",
        "n",
        "width",
        "mu",
        "sqrt(m2s / n) AS sigma",
        "(m4s / n) / ((m2s / n) * (m2s / n)) - 3e0 AS kurtosis",
    )
    return pre.selectExpr(
        "series_id",
        "bin",
        "bin_center",
        "CAST(cnt AS BIGINT) AS n_bin",
        "CAST(cnt AS DOUBLE) / (CAST(n AS DOUBLE) * width) AS density",
        "mu",
        "sigma",
        "kurtosis",
        f"{normal_pdf_sql('bin_center', 'mu', 'sigma')} AS normal_pdf",
    )


def seasonal_strength_frame(
    df: DataFrame, period: int = 48, value_col: str = "value"
) -> DataFrame:
    """Seasonal-strength diagnostic: period-position variance
    decomposition, ``F_s = max(0, 1 - Var(resid)/Var(x))`` where
    ``resid = x - mean(x | rn mod period)``.

    The number the reference reads off its STL panels by eye
    (``src/utils.py:5-29`` trend/seasonal/resid plots; period 48 is its
    NAB daily cycle) as one hash-gated row per series: F_s near 1 says
    fit a seasonal model (M3/M4's seasonal blocks), near 0 says the
    level-only models (M2) suffice.

    Purely native: two aggregates over the series partition (one keyed
    by period position, one per series), a broadcast join of the tiny
    position-mean table, exact DECIMAL sums throughout so the oracle's
    identical algebra matches bit for bit.  Grows as a scan + two
    small aggregates at 100 TB.
    """
    from .._exact import DEC

    v = F.col(value_col)
    pos = ((F.col("rn") - F.lit(1)) % F.lit(int(period))).alias("__pos")
    base = df.select("series_id", "rn", v.alias("__v"), pos)
    pos_means = base.groupBy("series_id", "__pos").agg(
        (
            F.sum(F.col("__v").cast(DEC)).cast("double")
            / F.count("__v")
        ).alias("__pm")
    )
    resid = (
        base.join(F.broadcast(pos_means), ["series_id", "__pos"])
        .withColumn("__r", F.col("__v") - F.col("__pm"))
    )
    agg = resid.groupBy("series_id").agg(
        F.count("__v").alias("n"),
        F.sum(F.col("__v").cast(DEC)).cast("double").alias("__s1"),
        F.sum((F.col("__v") * F.col("__v")).cast(DEC))
        .cast("double")
        .alias("__s2"),
        F.sum(F.col("__r").cast(DEC)).cast("double").alias("__r1"),
        F.sum((F.col("__r") * F.col("__r")).cast(DEC))
        .cast("double")
        .alias("__r2"),
    )
    n = F.col("n")
    var_tot = (F.col("__s2") - F.col("__s1") * F.col("__s1") / n) / (
        n - F.lit(1)
    )
    var_res = (F.col("__r2") - F.col("__r1") * F.col("__r1") / n) / (
        n - F.lit(1)
    )
    return agg.select(
        "series_id",
        n.alias("n"),
        var_tot.alias("var_total"),
        var_res.alias("var_resid"),
        F.greatest(
            F.lit(0.0), F.lit(1.0) - var_res / var_tot
        ).alias("seasonal_strength"),
    )


def detect_period_frame(
    df: DataFrame, max_lag: int = 60, min_lag: int = 2,
    value_col: str = "value",
) -> DataFrame:
    """Dominant-period auto-detection: argmax of the per-lag ACF over
    ``[min_lag, max_lag]`` — the knob the reference hard-codes
    (``seasonal_periods=[48, 336]`` at ``src/run_final_benchmark.py``)
    read off the data instead, feeding STL/BSTS/Holt-Winters configs.

    Uses the statsmodels ACF convention (global mean, constant
    denominator).  Two-phase plan (r06 — replaces the max_lag-fold
    stacked frame, measured ~6 s at max_lag=60/sf0.1, with ~2 s):

    1. CANDIDATES (float, O(n log n) per series): the FFT ACF
       (``acf_fft``) scores every lag in one pass; keep the top-4 per
       series.  FFT and exact sums agree to ~1e-12, so the true
       argmax is in the top-4 unless four distinct lags tie within
       2e-12 — not a thing on real signals, and a tie at that width
       is below the r6 hash quantum anyway.
    2. RESCORE (exact decimal, O(n·4)): recompute the candidate lags'
       numerators with the same order-independent decimal algebra as
       ``acf_statsmodels`` (pairing via a keyed (series, rn+lag)
       self-join instead of window ``lag()`` — the lag is per-series
       data now, not a literal), then argmax on the EXACT values with
       the same (acf desc, lag asc) tie rule.  Output is therefore
       bit-identical to the all-lags decimal oracle.
    """
    from pyspark.sql import Window

    from .._exact import DEC
    from .acf import acf_fft

    n_cand = 4
    cand = acf_fft(df, max_lag=max_lag, value_col=value_col).filter(
        F.col("lag") >= int(min_lag)
    )
    wc = Window.partitionBy("series_id").orderBy(F.desc("acf"), F.asc("lag"))
    top = (
        cand.withColumn("__rk", F.row_number().over(wc))
        .filter(F.col("__rk") <= n_cand)
        .select("series_id", F.col("lag").cast("int").alias("lag"))
    )

    v = F.col(value_col)
    mo = df.groupBy("series_id").agg(
        F.count(value_col).alias("__n"),
        F.sum(v.cast(DEC)).cast("double").alias("__s1"),
    )
    mu = (F.col("__s1") / F.col("__n")).alias("__mu")
    base = df.join(F.broadcast(mo.select("series_id", mu)), "series_id")
    den = base.groupBy("series_id").agg(
        F.sum(((v - F.col("__mu")) * (v - F.col("__mu"))).cast(DEC))
        .cast("double")
        .alias("__den")
    )
    left = base.select(
        "series_id", "rn", v.alias("__x"), F.col("__mu")
    )
    right = base.join(F.broadcast(top), "series_id").select(
        "series_id",
        "lag",
        (F.col("rn") + F.col("lag")).alias("rn"),
        v.alias("__prev"),
    )
    num = (
        left.join(right, ["series_id", "rn"])
        .groupBy("series_id", "lag")
        .agg(
            F.sum(
                (
                    (F.col("__x") - F.col("__mu"))
                    * (F.col("__prev") - F.col("__mu"))
                ).cast(DEC)
            )
            .cast("double")
            .alias("__num")
        )
    )
    a = num.join(F.broadcast(den), "series_id").select(
        "series_id", "lag", (F.col("__num") / F.col("__den")).alias("acf")
    )
    w = Window.partitionBy("series_id").orderBy(F.desc("acf"), F.asc("lag"))
    return (
        a.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "series_id",
            F.col("lag").alias("period"),
            F.col("acf").alias("peak_acf"),
        )
    )


def gap_stats_frame(df: DataFrame) -> DataFrame:
    """Time-grid gap report: per series, the modal sampling step (in
    seconds), how many inter-row deltas exceed it, the largest
    gap, and the estimated count of missing rows — the data-quality
    report that decides whether ``fill_gaps`` must run before the
    windowed detectors (whose row frames assume a complete grid).

    Integer second arithmetic end to end (exact sums, no float
    summation); the modal step is a (count desc, step asc) rank over
    the per-series delta histogram — dimension-sized.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("series_id").orderBy("rn")
    t = df.select(
        "series_id",
        "rn",
        # NTZ -> TS -> long: with the session tz pinned UTC (loader)
        # this is floor-epoch-seconds, matching the oracle's
        # CAST(floor(epoch(ts)) AS BIGINT) on naive timestamps
        F.col("timestamp").cast("timestamp").cast("long").alias("__ts"),
    )
    d = t.withColumn(
        "__d", F.col("__ts") - F.lag("__ts").over(w)
    ).filter(F.col("__d").isNotNull())
    freq = d.groupBy("series_id", "__d").agg(F.count("*").alias("__c"))
    wr = Window.partitionBy("series_id").orderBy(
        F.desc("__c"), F.asc("__d")
    )
    step = (
        freq.withColumn("__rk", F.row_number().over(wr))
        .filter(F.col("__rk") == 1)
        .select("series_id", F.col("__d").alias("__step"))
    )
    j = d.join(F.broadcast(step), "series_id")
    gap = F.col("__d") > F.col("__step")
    return j.groupBy("series_id").agg(
        (F.count("*") + F.lit(1)).alias("n_rows"),
        F.max("__step").alias("step_s"),
        F.sum(gap.cast("int")).cast("long").alias("n_gaps"),
        F.max("__d").alias("max_gap_s"),
        F.coalesce(
            F.sum(
                F.when(
                    gap,
                    F.floor(
                        F.col("__d") * F.lit(1.0) / F.col("__step")
                    ).cast("long")
                    - F.lit(1),
                )
            ),
            F.lit(0),
        ).cast("long").alias("missing_rows_est"),
    )


def split_drift_frame(
    df: DataFrame, train_frac: float = 0.5, value_col: str = "value"
) -> DataFrame:
    """Train/test distribution drift: bin the test half by the TRAIN
    half's exact deciles and report total-variation distance — the
    retrain trigger ("has the value distribution moved since the model
    was fit?"), P3's split composed with a drift score.

    Deliberately transcendental-free (a PSI needs log; TVD doesn't):
    per-bin deviations are computed on INTEGER cross-products
    ``|c_train_i·n_test − c_test_i·n_train|`` (decimal-exact sums), so
    the score is bit-stable cross-engine.  One decile aggregate per
    series broadcast back, one binning scan, one small aggregate.

    Output per series: ``n_train, n_test, tvd, max_bin_dev``.
    """
    from .splits import fractional_split

    DEC0 = "decimal(38,0)"
    s = fractional_split(df, train_frac=train_frac, val_frac=None)
    v = F.col(value_col)
    edges = (
        s.filter(F.col("split") == "Train")
        .groupBy("series_id")
        .agg(
            F.expr(
                f"percentile({value_col}, array(0.1, 0.2, 0.3, 0.4, "
                "0.5, 0.6, 0.7, 0.8, 0.9))"
            ).alias("__edges")
        )
    )
    binned = s.join(F.broadcast(edges), "series_id").withColumn(
        "__bin", F.size(F.filter(F.col("__edges"), lambda e: v > e))
    )
    cnt = binned.groupBy("series_id", "__bin").agg(
        F.sum((F.col("split") == "Train").cast("int")).alias("__ct"),
        F.sum((F.col("split") == "Test").cast("int")).alias("__cq"),
    )
    tot = binned.groupBy("series_id").agg(
        F.sum((F.col("split") == "Train").cast("int")).alias("n_train"),
        F.sum((F.col("split") == "Test").cast("int")).alias("n_test"),
    )
    j = cnt.join(F.broadcast(tot), "series_id")
    dev = F.abs(
        F.col("__ct").cast(DEC0) * F.col("n_test")
        - F.col("__cq").cast(DEC0) * F.col("n_train")
    )
    agg = j.groupBy("series_id").agg(
        F.max("n_train").alias("n_train"),
        F.max("n_test").alias("n_test"),
        F.sum(dev).alias("__sdev"),
        F.max(dev).alias("__mdev"),
    )
    denom = (
        F.col("n_train").cast("double") * F.col("n_test").cast("double")
    )
    return agg.select(
        "series_id",
        "n_train",
        "n_test",
        (
            F.lit(0.5) * F.col("__sdev").cast("double") / denom
        ).alias("tvd"),
        (F.col("__mdev").cast("double") / denom).alias("max_bin_dev"),
    )
