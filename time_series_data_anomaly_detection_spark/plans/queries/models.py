"""State-space and learned models: Kalman, BSTS, Holt-Winters, Gaussian-
process and LSTM forecasters, with their fixed-parameter hash-gated
twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..._exact import dsum as _dsum
from ._shared import R, SQL_S, _last_w, _let, _q8, _rnd, _series


_KF_Z = "1.959963986120195"  # repr(_norm_ppf(0.975)), shared constant


# sin²(π·r/24) for r = 0..23 as shared 12-decimal literals — the GP
# twin's periodic kernel component sin²(π|d|/24) has period 24 in the
# INTEGER lag d, so the one risky transcendental (sin) never runs
# inside either engine (the SR-512 literal-twiddle recipe); only exp
# remains, handled by the proven 8-dp quantizer.
def _gp_sin2_table() -> list[float]:
    import math

    return [
        round(math.sin(math.pi * r / 24.0) ** 2, 12) for r in range(24)
    ]


_GP_SIN2 = _gp_sin2_table()
_GP_TR = 64  # fixed train-window size (tail of the train fraction)
_GP_N2 = 0.01  # fixed noise variance (production noise=0.1 squared)


def _gp_train(spark, sf_dir):
    """The GP twins' rows: ``base`` is every row of each series with
    n >= 128 (``pos = rn - 1``), ``tr`` its train window — the last
    ``_GP_TR`` rows of the 0.5 train fraction."""
    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    cnt = (
        s.groupBy("series_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 128)
    )
    base = s.join(F.broadcast(cnt), "series_id").select(
        "series_id", "rn", "value", "n", (F.col("rn") - F.lit(1)).alias("pos")
    )
    n_train = F.greatest(
        F.floor(F.col("n") * F.lit(0.5)).cast("long"), F.lit(2)
    )
    lo = F.greatest(n_train - F.lit(_GP_TR), F.lit(0))
    return base, base.filter((F.col("pos") >= lo) & (F.col("pos") < n_train))


def _gp_kq(d):
    """The GP twins' quantized kernel at the integer lag column ``d``:
    RBF ls=50 plus ExpSineSquared period 24, sin² read from
    ``_GP_SIN2``, only exp evaluated at runtime."""
    dd = d.cast("double")
    e1 = F.exp(-(dd * dd) / F.lit(5000.0))  # 2·ls² = 2·50²
    sin2 = F.array(*[F.lit(v) for v in _GP_SIN2])
    e2 = F.exp(
        F.lit(-2.0)
        * F.element_at(sin2, (F.abs(d) % F.lit(24) + F.lit(1)).cast("int"))
    )
    return _q8(e1 + e2)


def q_kalman_forecast(spark, sf_dir):
    from ...functions import kalman_local_level
    out = kalman_local_level(_series(spark, sf_dir), train_frac=0.75)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
    )


def q_bsts_forecast(spark, sf_dir):
    from ...functions import bsts_forecast
    out = bsts_forecast(_series(spark, sf_dir), period=24, train_frac=0.5)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
    )


def q_bsts_forecast_multiseasonal(spark, sf_dir):
    """M3, the reference's HEADLINE config (Enhanced BSTS): local linear
    trend + trigonometric multi-seasonality [48, 336] with the
    min(p/2, 10) harmonic cap — ``src/bsts_model.py:12-50`` (harmonics
    ``:29``), the model behind the Event-F1≈1.0 leaderboard row
    (``results/enhanced_bsts/realKnownCause__nyc_taxi.csv``)."""
    from ...functions import bsts_forecast
    out = bsts_forecast(
        _series(spark, sf_dir), train_frac=0.5, seasonal_periods=[48, 336]
    )
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
    )


def q_kalman_forecast_filtered(spark, sf_dir):
    """M2 with ``dynamic=False``: one-step-ahead filtering continues
    through the test tail with train-fit (q, r) — the reference's
    ``predict_with_intervals(use_dynamic=False)`` path
    (``src/kalman_model.py:19-43``)."""
    from ...functions import kalman_local_level
    out = kalman_local_level(
        _series(spark, sf_dir), train_frac=0.75, dynamic=False
    )
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
    )


def q_kalman_forecast_fixed(spark, sf_dir):
    """M2, hash-gated: fixed-(q, r) local-level filter — the scalar
    Kalman recursion (``src/kalman_model.py:9-43`` without the MLE) is
    closed-form double arithmetic, so it carries a DuckDB RECURSIVE-CTE
    oracle (the same move that hard-oracled A8/A9 via AR(1))."""
    from ...functions.kalman import kalman_fixed
    out = kalman_fixed(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
        _rnd("resid", R).alias("resid"),
    )


# ---- kalman_forecast_fixed: fixed-(q,r) local-level filter as a scalar
#      recursion — DuckDB RECURSIVE CTE, one step per rn.  Constants and
#      expression trees mirror functions.kalman.kalman_fixed textually
#      (same IEEE double ops on identical inputs -> bit-identical). ----
_KF_Q, _KF_R, _KF_P0 = "0.1", "1.0", "10.0"


o_kalman_forecast_fixed = f"""
WITH RECURSIVE {SQL_S},
rec AS (
  -- the anchor's types BIND the recursive columns (a DECIMAL literal
  -- sum here silently quantizes every later pvp) -> CAST to DOUBLE
  SELECT series_id, rn, value AS m,
         CAST((1.0 - ({_KF_P0} + {_KF_Q})/({_KF_P0} + {_KF_Q} + {_KF_R}))
           * ({_KF_P0} + {_KF_Q}) AS DOUBLE) AS p,
         value AS pm,
         CAST({_KF_P0} + {_KF_Q} + {_KF_R} AS DOUBLE) AS pvp,
         value AS y
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.series_id, s.rn,
         r.m + ((r.p + {_KF_Q})/(r.p + {_KF_Q} + {_KF_R}))
             * (s.value - r.m) AS m,
         (1.0 - (r.p + {_KF_Q})/(r.p + {_KF_Q} + {_KF_R}))
             * (r.p + {_KF_Q}) AS p,
         r.m AS pm,
         r.p + {_KF_Q} + {_KF_R} AS pvp,
         s.value AS y
  FROM rec r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
)
SELECT series_id, rn, round(pm, {R}) AS pred_mean,
       round(pm - {_KF_Z} * sqrt(pvp), {R}) AS pred_lower,
       round(pm + {_KF_Z} * sqrt(pvp), {R}) AS pred_upper,
       round(y - pm, {R}) AS resid
FROM rec
"""


def q_bsts_forecast_fixed(spark, sf_dir):
    """M3, hash-gated: fixed-variance local-linear-trend filter — the
    trend core of the reference's BSTS (``src/bsts_model.py:12-50``)
    unrolled into seven scalar recurrences, so it carries a DuckDB
    RECURSIVE-CTE oracle (the same move as kalman_forecast_fixed).
    Dyadic-rational variances make the recursion bit-identical across
    engines; the seasonal blocks stay rows-only in bsts_forecast."""
    from ...functions.kalman import bsts_fixed
    out = bsts_fixed(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
        _rnd("resid", R).alias("resid"),
    )


# ---- bsts_forecast_fixed: fixed-variance local-linear-trend filter as
#      seven scalar recurrences — mirrors functions.kalman.bsts_fixed
#      textually.  Dyadic-rational constants (ql=0.125, qb=0.015625,
#      r=1.0, p0=16.0) are exact in BOTH binary and decimal arithmetic,
#      so the anchor constants below (computed once by hand from the
#      t=1 step, where the innovation v = y - y = 0 leaves the means
#      untouched) seed a bit-identical recursion:
#        p11p0 = p0 + 2*0 + p0 + ql = 32.125   f0 = p11p0 + r = 33.125
#        p12p0 = 0 + p0 = 16.0                 p22p0 = p0 + qb = 16.015625
#        p11_1 = p11p0 - (p11p0/f0)*p11p0,  p12_1 = p12p0 - (p11p0/f0)*p12p0
#        p22_1 = p22p0 - (p12p0/f0)*p12p0 ----
_BF_QL, _BF_QB, _BF_R = "0.125", "0.015625", "1.0"

o_bsts_forecast_fixed = f"""
WITH RECURSIVE {SQL_S},
rec AS (
  SELECT series_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b,
         CAST(32.125 - (32.125/33.125)*32.125 AS DOUBLE) AS p11,
         CAST(16.0 - (32.125/33.125)*16.0 AS DOUBLE) AS p12,
         CAST(16.015625 - (16.0/33.125)*16.0 AS DOUBLE) AS p22,
         value AS pm, CAST(33.125 AS DOUBLE) AS pvp, value AS y
  FROM s WHERE rn = 1
  UNION ALL
  SELECT series_id, rn,
         lp + (p11p / f) * (y - lp) AS l,
         bp + (p12p / f) * (y - lp) AS b,
         p11p - (p11p / f) * p11p AS p11,
         p12p - (p11p / f) * p12p AS p12,
         p22p - (p12p / f) * p12p AS p22,
         lp AS pm, f AS pvp, y
  FROM (
    SELECT q.*, p11p + {_BF_R} AS f FROM (
      SELECT s.series_id, s.rn, s.value AS y,
             r.l + r.b AS lp, r.b AS bp,
             r.p11 + 2.0 * r.p12 + r.p22 + {_BF_QL} AS p11p,
             r.p12 + r.p22 AS p12p,
             r.p22 + {_BF_QB} AS p22p
      FROM rec r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
    ) q
  )
)
SELECT series_id, rn, round(pm, {R}) AS pred_mean,
       round(pm - {_KF_Z} * sqrt(pvp), {R}) AS pred_lower,
       round(pm + {_KF_Z} * sqrt(pvp), {R}) AS pred_upper,
       round(y - pm, {R}) AS resid
FROM rec
"""


def q_holt_winters_fixed(spark, sf_dir):
    """M3-adjacent, hash-gated: additive Holt-Winters with fixed
    dyadic (α, β, γ) — the level+trend+seasonal forecaster as a pure
    recursion, so unlike the statsmodels MLE fits it carries a DuckDB
    RECURSIVE-CTE oracle (the seasonal state rides as a list column)."""
    from ...functions.holt_winters import holt_winters_fixed

    out = holt_winters_fixed(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "rn",
        _rnd("pred", R).alias("pred"),
        _rnd("resid", R).alias("resid"),
    )


# ---- holt_winters_fixed: additive triple exponential smoothing with
#      fixed dyadic (α,β,γ) — the seasonal state is a DOUBLE[] column
#      rotated by list_append(sl[2:], s_new); l_new's tree appears
#      three times (identical IEEE trees give identical values).
#      Textually in lockstep with functions/holt_winters.py. ----
o_holt_winters_fixed = f"""
WITH RECURSIVE {SQL_S},
il AS (
  SELECT series_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / 48 AS l0
  FROM s WHERE rn <= 48 GROUP BY 1 HAVING count(value) = 48
),
init AS (
  SELECT s.series_id, CAST(48 AS BIGINT) AS rn, i.l0 AS l,
         CAST(0.0 AS DOUBLE) AS b,
         list(s.value - i.l0 ORDER BY s.rn) AS sl,
         CAST(NULL AS DOUBLE) AS pred, CAST(NULL AS DOUBLE) AS yv
  FROM s JOIN il i ON i.series_id = s.series_id
  WHERE s.rn <= 48
  GROUP BY s.series_id, i.l0
),
rec AS (
  SELECT * FROM init
  UNION ALL
  SELECT s.series_id, s.rn,
         0.25 * (s.value - r.sl[1]) + 0.75 * (r.l + r.b) AS l,
         0.0625 * ((0.25 * (s.value - r.sl[1]) + 0.75 * (r.l + r.b))
                   - r.l) + 0.9375 * r.b AS b,
         list_append(r.sl[2:],
           0.25 * (s.value
                   - (0.25 * (s.value - r.sl[1]) + 0.75 * (r.l + r.b)))
             + 0.75 * r.sl[1]) AS sl,
         (r.l + r.b) + r.sl[1] AS pred,
         s.value AS yv
  FROM rec r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
)
SELECT series_id, rn, round(pred, {R}) AS pred,
       round(yv - pred, {R}) AS resid
FROM rec WHERE rn > 48
"""


def q_gp_train_subsample(spark, sf_dir):
    """P5, hash-gated: the GP's tail-of-train subsample window
    (``src/run_gp.py:61-67``) — selection logic under a hard oracle
    (the O(n³) fit it feeds stays rows-only via gp_forecast)."""
    from ...functions.gp import train_subsample

    out = train_subsample(_series(spark, sf_dir), train_frac=0.5,
                          max_train=1000)
    return out.select("series_id", "rn", _rnd("value", R).alias("value"))


# ---- gp_train_subsample: P5 tail-of-train window (src/run_gp.py:61-67):
#      pos is 0-based (rn - min rn); keep lo <= pos < n_train with
#      n_train = max(floor(n*frac), 2), lo = max(n_train - 1000, 0) ----
o_gp_train_subsample = f"""
WITH {SQL_S},
ext AS (
  SELECT series_id, rn, value,
         count(*) OVER (PARTITION BY series_id) AS n,
         min(rn) OVER (PARTITION BY series_id) AS rn0
  FROM s),
sel AS (
  SELECT series_id, rn, value, rn - rn0 AS pos,
         greatest(CAST(floor(n * 0.5) AS BIGINT), 2) AS n_train
  FROM ext)
SELECT series_id, rn, round(value, {R}) AS value
FROM sel
WHERE pos >= greatest(n_train - 1000, 0) AND pos < n_train
"""


def q_lstm_forecast(spark, sf_dir):
    """M5: per-series LSTM one-step-ahead forecast — real model on both
    backends (torch when present, from-scratch numpy BPTT otherwise;
    ``src/lstm_model.py:32-91``).  Seeded-stochastic training ⇒
    rows-only gate (SURVEY §5).  Config is cost-controlled: hidden 24,
    6 epochs of batch 96, last 1500 train windows (an explicit knob, like the GP's
    P5 subsample)."""
    from ...functions.lstm import lstm_forecast

    out = lstm_forecast(
        _series(spark, sf_dir), seq_len=48, hidden=24, epochs=6, batch=96,
        train_frac=0.5, max_train_windows=1500, lr=3e-3,
    )
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


def q_gp_forecast(spark, sf_dir):
    from ...functions import gp_forecast
    # optimize=True: bounded-grid LML hyperparameter selection — the
    # deterministic analogue of the reference's in-bounds MLE restarts
    out = gp_forecast(_series(spark, sf_dir), train_frac=0.5, optimize=True)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_std", R).alias("pred_std"),
    )


def q_gp_forecast_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the GP forecaster (r09 verdict item
    #5 — the last M-family with no hash-anchored core): posterior MEAN
    of a GP with the production kernel family (RBF ls=50 + daily
    ExpSineSquared period=24, amp²=1, noise²=0.01 —
    functions/gp.py:42/_kernel, reference src/run_gp.py:26-44) trained
    on the last 64 rows of the 0.5 train fraction, predicting every
    row.  The train slice is CONTIGUOUS in the row index, so the
    kernel matrix entry K[i,j] depends only on i−j: the whole fit
    reduces to ``_gp_kq(i−j)`` lookups with the sin² factor read from the
    shared 24-entry literal table and only exp evaluated at runtime
    (8-dp-quantized, the bocpd recipe — after quantization both
    engines hold identical doubles and everything downstream is
    rational algebra).

    The solve α = (K+σ²I)⁻¹·yn is Gaussian elimination WITHOUT
    pivoting (valid: K is SPD) as two folds over flat array state —
    forward elimination (m−1 steps over the m×(m+1) augmented matrix)
    then back-substitution — and DuckDB replays the identical
    recursions as recursive CTEs over list state.  Predictions are a
    per-row m-term quantized-kernel dot with α.  pred_mean only: the
    posterior std needs an O(m²) solve per prediction row, which is
    the production operator's job (``gp_forecast``, rows-only)."""
    base, tr = _gp_train(spark, sf_dir)
    ser = tr.groupBy("series_id").agg(
        F.count("*").alias("m"),
        F.min("pos").alias("lo"),
        _dsum(F.col("value")).alias("s1"),
        _dsum(F.col("value") * F.col("value")).alias("s2"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "value"))),
            lambda t: t["value"],
        ).alias("ys"),
    )
    md = F.col("m").cast("double")
    mu = F.col("s1") / md
    sd0 = F.sqrt(F.greatest(F.col("s2") / md - mu * mu, F.lit(0.0)))
    sd = F.when(sd0 == 0, F.lit(1.0)).otherwise(sd0)
    ser = (
        ser.withColumn("mu", mu)
        .withColumn("sd", sd)
        .withColumn(
            "yn",
            F.transform(
                F.col("ys"), lambda y: (y - F.col("mu")) / F.col("sd")
            ),
        )
        .drop("s1", "s2", "ys")
    )

    mp1 = (F.col("m") + F.lit(1)).cast("int")
    mi = F.col("m").cast("int")

    def build(idx):
        j = idx % mp1
        i = ((idx - j) / mp1).cast("int")
        jj = F.least(j, mi - 1)  # clamp for the y-column branch
        kv = _gp_kq(i - jj) + F.when(i == jj, F.lit(_GP_N2)).otherwise(
            F.lit(0.0)
        )
        return F.when(
            j == mi, F.element_at(F.col("yn"), (i + 1).cast("int"))
        ).otherwise(kv)

    a0 = F.transform(
        F.sequence(F.lit(0), (F.col("m") * mp1 - F.lit(1)).cast("int")),
        build,
    )

    def elim_step(acc, k):
        def upd(a, idx):
            j = idx % mp1
            i = ((idx - j) / mp1).cast("int")
            f = F.element_at(
                acc, (i * mp1 + k + F.lit(1)).cast("int")
            ) / F.element_at(acc, (k * mp1 + k + F.lit(1)).cast("int"))
            return F.when(
                (i > k) & (j >= k),
                a - f * F.element_at(acc, (k * mp1 + j + F.lit(1)).cast("int")),
            ).otherwise(a)

        return F.transform(acc, upd)

    a_fin = F.aggregate(
        F.sequence(F.lit(0), (F.col("m") - F.lit(2)).cast("int")),
        a0,
        elim_step,
    )

    def with_a(A):
        alpha0 = F.transform(
            F.sequence(F.lit(1), mi), lambda _: F.lit(0.0)
        )

        def back_step(al, st):
            k = (mi - st).cast("int")

            def upd(v, idx):
                dot = F.when(
                    k + F.lit(1) <= mi - F.lit(1),
                    F.aggregate(
                        F.transform(
                            F.sequence((k + F.lit(1)).cast("int"), mi - 1),
                            lambda j: F.element_at(
                                A, (k * mp1 + j + F.lit(1)).cast("int")
                            )
                            * F.element_at(al, (j + F.lit(1)).cast("int")),
                        ),
                        F.lit(0.0),
                        lambda x, y: x + y,
                    ),
                ).otherwise(F.lit(0.0))
                return F.when(
                    idx == k,
                    (
                        F.element_at(
                            A, (k * mp1 + mi + F.lit(1)).cast("int")
                        )
                        - dot
                    )
                    / F.element_at(
                        A, (k * mp1 + k + F.lit(1)).cast("int")
                    ),
                ).otherwise(v)

            return F.transform(al, upd)

        return F.aggregate(F.sequence(F.lit(1), mi), alpha0, back_step)

    ser = ser.withColumn("alpha", _let(a_fin, with_a))

    # NO explicit broadcast hint (r11 wide-series audit): alpha is 64
    # doubles of genuinely PER-SERIES fit state — 512 B/series is tiny
    # at the gate's 5 series but ~512 MB at 1M series, so a pinned
    # broadcast is the same baked-shape mistake as the corr guard
    # opt-out.  The per-series frame arrives post-aggregation, where
    # AQE sizes the join from TRUE runtime bytes (reliable, unlike the
    # static estimates that mis-broadcast corpus-scaled tables in r09)
    # — broadcast when small, shuffle when wide.
    out = base.join(
        ser.select("series_id", "m", "lo", "mu", "sd", "alpha"),
        "series_id",
    )
    pred = F.col("mu") + F.col("sd") * F.aggregate(
        F.transform(
            F.sequence(F.lit(0), mi - 1),
            lambda j: _gp_kq(F.col("pos") - F.col("lo") - j)
            * F.element_at(F.col("alpha"), (j + F.lit(1)).cast("int")),
        ),
        F.lit(0.0),
        lambda x, y: x + y,
    )
    return out.select(
        "series_id", "rn", _rnd(pred, R).alias("pred_mean")
    )


def _gp_fixed_sql() -> str:
    """DuckDB mirror of q_gp_forecast_fixed: same literal sin² table,
    same quantized kernel, same two recursions over list state (1-based
    DuckDB lambda indexes mapped back to the 0-based flat layout)."""
    s2_lit = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in _GP_SIN2) + "]"
    # kq as a SQL macro body over integer lag expression {d}
    kq = (
        "(floor((exp(-(CAST(({d}) AS DOUBLE) * CAST(({d}) AS DOUBLE))"
        " / 5000.0)"
        f" + exp(-2.0 * ({s2_lit})[(abs({{d}}) % 24) + 1]))"
        " * 100000000.0 + 0.5) / 100000000.0)"
    )
    kq_ij = kq.format(d="(((i1 - 1) - ((i1 - 1) % p.mp1)) // p.mp1)"
                        " - least((i1 - 1) % p.mp1, p.m - 1)")
    kq_pred = kq.format(d="r.pos - f.lo - (j - 1)")
    return f"""
WITH RECURSIVE {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 128),
base AS (
  SELECT s.series_id, s.rn, s.value, c.n, s.rn - 1 AS pos
  FROM s JOIN cnt c USING (series_id)),
tr AS (
  SELECT series_id, pos, value,
         greatest(CAST(floor(n * 0.5) AS BIGINT), 2) AS n_train
  FROM base
  WHERE pos >= greatest(greatest(CAST(floor(n * 0.5) AS BIGINT), 2)
                        - {_GP_TR}, 0)
    AND pos < greatest(CAST(floor(n * 0.5) AS BIGINT), 2)),
mo AS (
  SELECT series_id, count(*) AS m, min(pos) AS lo,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2,
         list(value ORDER BY pos) AS ys
  FROM tr GROUP BY 1),
ser2 AS (
  SELECT series_id, m, CAST(m + 1 AS INT) AS mp1, lo,
         s1 / CAST(m AS DOUBLE) AS mu,
         CASE WHEN sqrt(greatest(s2 / CAST(m AS DOUBLE)
                 - (s1 / CAST(m AS DOUBLE)) * (s1 / CAST(m AS DOUBLE)),
                 0.0)) = 0
              THEN 1.0
              ELSE sqrt(greatest(s2 / CAST(m AS DOUBLE)
                 - (s1 / CAST(m AS DOUBLE)) * (s1 / CAST(m AS DOUBLE)),
                 0.0)) END AS sd,
         ys
  FROM mo),
ser3 AS (
  SELECT series_id, m, mp1, lo, mu, sd,
         list_transform(ys, y -> (y - mu) / sd) AS yn
  FROM ser2),
mat AS (
  SELECT p.series_id,
         list_transform(generate_series(1, CAST(p.m AS INT) * p.mp1),
           i1 -> CASE
             WHEN (i1 - 1) % p.mp1 = p.m
             THEN p.yn[CAST((((i1 - 1) - ((i1 - 1) % p.mp1)) // p.mp1)
                       AS INT) + 1]
             ELSE {kq_ij}
                  + CASE WHEN (((i1 - 1) - ((i1 - 1) % p.mp1)) // p.mp1)
                              = least((i1 - 1) % p.mp1, p.m - 1)
                         THEN {_GP_N2} ELSE 0.0 END
           END) AS A
  FROM ser3 p),
elim AS (
  SELECT series_id, 0 AS k, A FROM mat
  UNION ALL
  SELECT e.series_id, e.k + 1,
         list_transform(e.A, (a, i1) -> CASE
           WHEN (((i1 - 1) - ((i1 - 1) % p.mp1)) // p.mp1) > e.k
                AND ((i1 - 1) % p.mp1) >= e.k
           THEN a - (e.A[CAST((((i1 - 1) - ((i1 - 1) % p.mp1)) // p.mp1)
                         AS INT) * p.mp1 + e.k + 1]
                     / e.A[e.k * p.mp1 + e.k + 1])
                    * e.A[e.k * p.mp1 + ((i1 - 1) % p.mp1) + 1]
           ELSE a END)
  FROM elim e JOIN ser3 p USING (series_id)
  WHERE e.k < p.m - 1),
efin AS (
  SELECT e.series_id, e.A
  FROM elim e JOIN ser3 p USING (series_id)
  WHERE e.k = p.m - 1),
bk AS (
  SELECT f.series_id, 0 AS st, f.A,
         list_transform(generate_series(1, CAST(p.m AS INT)),
                        x -> CAST(0.0 AS DOUBLE)) AS alpha
  FROM efin f JOIN ser3 p USING (series_id)
  UNION ALL
  SELECT b.series_id, b.st + 1, b.A,
         list_transform(b.alpha, (v, i1) -> CASE
           WHEN i1 - 1 = p.m - 1 - b.st
           THEN (b.A[CAST(p.m - 1 - b.st AS INT) * p.mp1 + p.m + 1]
                 - CASE WHEN p.m - b.st <= p.m - 1
                        THEN list_reduce(
                          list_transform(
                            generate_series(CAST(p.m - b.st AS INT),
                                            CAST(p.m - 1 AS INT)),
                            j -> b.A[CAST(p.m - 1 - b.st AS INT) * p.mp1
                                     + j + 1]
                                 * b.alpha[j + 1]),
                          (x, y) -> x + y)
                        ELSE 0.0 END)
                / b.A[CAST(p.m - 1 - b.st AS INT) * p.mp1
                      + CAST(p.m - 1 - b.st AS INT) + 1]
           ELSE v END)
  FROM bk b JOIN ser3 p USING (series_id)
  WHERE b.st < p.m),
fin AS (
  SELECT b.series_id, p.m, p.lo, p.mu, p.sd, b.alpha
  FROM bk b JOIN ser3 p USING (series_id)
  WHERE b.st = p.m)
SELECT r.series_id, r.rn,
       round(f.mu + f.sd * list_reduce(
         list_transform(generate_series(1, CAST(f.m AS INT)),
           j -> {kq_pred} * f.alpha[j]),
         (x, y) -> x + y), {R}) AS pred_mean
FROM base r JOIN fin f USING (series_id)
"""


o_gp_forecast_fixed = _gp_fixed_sql()


_GP_STD_W = 512  # capped prediction extent for the posterior-std twin


def q_gp_forecast_fixed_std(spark, sf_dir):
    """Hash-gated GP posterior-STD sibling of ``gp_forecast_fixed``
    (r10 verdict stretch item #8 — the last interval surface with no
    twin): the reference's GP emits per-step std that drives its
    detection mode (``src/gp_model.py:35-42``), and the production
    operator computes ``var = k** − diag(Ks·K⁻¹·Ksᵀ)`` scaled back by
    the train sd (``functions/gp.py:259-268``).  This twin replays
    that algebra exactly at the fixed hyperparameters on the same
    64-row train tail, on a CAPPED extent (the first ``_GP_STD_W``
    rows from the train-window start — the O(m²)-per-row solve is the
    honest cost and the cap keeps the gate benchable; the uncapped
    path is the production ``gp_forecast``).

    Plan shape: C = (K+σ²I)⁻¹ via Gauss-Jordan (no pivoting — SPD) as
    one fold over a flat m×2m array.  K depends only on m (stationary
    kernel, contiguous train index), so C is computed once per
    DISTINCT m and broadcast-joined back to the series — at 1M series
    with one train-window size that is ONE 64×64 inverse total, not
    per-series work.  Per row: ks hoisted once via ``_let`` (Catalyst
    HOF lambdas get no CSE), then the O(m²) quadratic form; the
    DuckDB oracle replays the identical recursion and sum order."""
    base, tr = _gp_train(spark, sf_dir)
    ser = tr.groupBy("series_id").agg(
        F.count("*").alias("m"),
        F.min("pos").alias("lo"),
        _dsum(F.col("value")).alias("s1"),
        _dsum(F.col("value") * F.col("value")).alias("s2"),
    )
    md = F.col("m").cast("double")
    mu = F.col("s1") / md
    sd0 = F.sqrt(F.greatest(F.col("s2") / md - mu * mu, F.lit(0.0)))
    ser = ser.withColumn(
        "sd", F.when(sd0 == 0, F.lit(1.0)).otherwise(sd0)
    ).drop("s1", "s2")

    mi = F.col("m").cast("int")
    m2 = (F.col("m") * 2).cast("int")

    # Gauss-Jordan inverse of (K + σ²I), once per DISTINCT m
    def build_aug(idx):
        j = idx % m2
        i = ((idx - j) / m2).cast("int")
        kv = _gp_kq(i - j) + F.when(i == j, F.lit(_GP_N2)).otherwise(F.lit(0.0))
        return F.when(j < mi, kv).otherwise(
            F.when(j - mi == i, F.lit(1.0)).otherwise(F.lit(0.0))
        )

    a0 = F.transform(
        F.sequence(F.lit(0), (F.col("m") * m2 - F.lit(1)).cast("int")),
        build_aug,
    )

    def gj_step(acc, k):
        piv = F.element_at(acc, (k * m2 + k + F.lit(1)).cast("int"))

        def upd(a, idx):
            j = idx % m2
            i = ((idx - j) / m2).cast("int")
            return F.when(i == k, a / piv).otherwise(
                a
                - F.element_at(acc, (i * m2 + k + F.lit(1)).cast("int"))
                * (
                    F.element_at(acc, (k * m2 + j + F.lit(1)).cast("int"))
                    / piv
                )
            )

        return F.transform(acc, upd)

    a_inv = F.aggregate(F.sequence(F.lit(0), mi - 1), a0, gj_step)

    def cslice(A):
        return F.transform(
            F.sequence(F.lit(0), (F.col("m") * F.col("m") - F.lit(1)).cast("int")),
            lambda idx: F.element_at(
                A,
                (
                    ((idx - idx % mi) / mi).cast("int") * m2
                    + mi
                    + (idx % mi)
                    + F.lit(1)
                ).cast("int"),
            ),
        )

    cm = (
        ser.select("m")
        .distinct()
        .withColumn("cmat", _let(a_inv, cslice))
    )
    # two SEPARATE broadcasts so the m×m inverse is shipped once per
    # DISTINCT m, not duplicated into every series row (at 1M series a
    # fused per-series broadcast would carry 1M × 32 KB of identical
    # cmat copies; split, it is O(series) small rows + O(#m) matrices)
    out = (
        base.join(
            F.broadcast(ser.select("series_id", "m", "lo", "sd")),
            "series_id",
        )
        .filter(
            (F.col("pos") >= F.col("lo"))
            & (F.col("pos") < F.col("lo") + F.lit(_GP_STD_W))
        )
        .join(F.broadcast(cm), "m")
    )
    d = F.col("pos") - F.col("lo")
    ks = F.transform(F.sequence(F.lit(0), mi - 1), lambda j: _gp_kq(d - j))

    def with_ks(KS):
        def inner(i):
            return F.aggregate(
                F.transform(
                    F.sequence(F.lit(0), mi - 1),
                    lambda j: F.element_at(
                        F.col("cmat"), (i * mi + j + F.lit(1)).cast("int")
                    )
                    * F.element_at(KS, (j + F.lit(1)).cast("int")),
                ),
                F.lit(0.0),
                lambda x, y: x + y,
            )

        quad = F.aggregate(
            F.transform(
                F.sequence(F.lit(0), mi - 1),
                lambda i: F.element_at(KS, (i + F.lit(1)).cast("int"))
                * inner(i),
            ),
            F.lit(0.0),
            lambda x, y: x + y,
        )
        kss = _gp_kq(F.lit(0)) + F.lit(_GP_N2)
        return F.col("sd") * F.sqrt(F.greatest(kss - quad, F.lit(0.0)))

    std = _let(ks, with_ks)
    return out.select("series_id", "rn", _rnd(std, R).alias("pred_std"))


def _gp_fixed_std_sql() -> str:
    """DuckDB mirror of q_gp_forecast_fixed_std: same quantized kernel
    macro, Gauss-Jordan recursion per distinct m over flat list state,
    identical ascending sum order in the per-row quadratic form."""
    s2_lit = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in _GP_SIN2) + "]"
    kq = (
        "(floor((exp(-(CAST(({d}) AS DOUBLE) * CAST(({d}) AS DOUBLE))"
        " / 5000.0)"
        f" + exp(-2.0 * ({s2_lit})[(abs({{d}}) % 24) + 1]))"
        " * 100000000.0 + 0.5) / 100000000.0)"
    )
    # augmented-matrix kernel entry: row i = (i1-1) // m2, col j = (i1-1) % m2
    kq_ij = kq.format(
        d="(((i1 - 1) - ((i1 - 1) % d.m2)) // d.m2) - ((i1 - 1) % d.m2)"
    )
    kq_ks = kq.format(d="r.pos - f.lo - (j - 1)")
    kq_0 = kq.format(d="0")
    return f"""
WITH RECURSIVE {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 128),
base AS (
  SELECT s.series_id, s.rn, s.value, c.n, s.rn - 1 AS pos
  FROM s JOIN cnt c USING (series_id)),
tr AS (
  SELECT series_id, pos, value
  FROM base
  WHERE pos >= greatest(greatest(CAST(floor(n * 0.5) AS BIGINT), 2)
                        - {_GP_TR}, 0)
    AND pos < greatest(CAST(floor(n * 0.5) AS BIGINT), 2)),
mo AS (
  SELECT series_id, count(*) AS m, min(pos) AS lo,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2
  FROM tr GROUP BY 1),
serx AS (
  SELECT series_id, m, lo,
         CASE WHEN sqrt(greatest(s2 / CAST(m AS DOUBLE)
                 - (s1 / CAST(m AS DOUBLE)) * (s1 / CAST(m AS DOUBLE)),
                 0.0)) = 0
              THEN 1.0
              ELSE sqrt(greatest(s2 / CAST(m AS DOUBLE)
                 - (s1 / CAST(m AS DOUBLE)) * (s1 / CAST(m AS DOUBLE)),
                 0.0)) END AS sd
  FROM mo),
dm AS (SELECT DISTINCT m, CAST(2 * m AS INT) AS m2 FROM serx),
mat AS (
  SELECT d.m, d.m2,
         list_transform(generate_series(1, CAST(d.m AS INT) * d.m2),
           i1 -> CASE
             WHEN ((i1 - 1) % d.m2) < d.m
             THEN {kq_ij}
                  + CASE WHEN (((i1 - 1) - ((i1 - 1) % d.m2)) // d.m2)
                              = ((i1 - 1) % d.m2)
                         THEN {_GP_N2} ELSE 0.0 END
             ELSE CASE WHEN ((i1 - 1) % d.m2) - d.m
                            = (((i1 - 1) - ((i1 - 1) % d.m2)) // d.m2)
                       THEN 1.0 ELSE 0.0 END
           END) AS A
  FROM dm d),
gj AS (
  SELECT m, m2, 0 AS k, A FROM mat
  UNION ALL
  SELECT g.m, g.m2, g.k + 1,
         list_transform(g.A, (a, i1) -> CASE
           WHEN (((i1 - 1) - ((i1 - 1) % g.m2)) // g.m2) = g.k
           THEN a / g.A[g.k * g.m2 + g.k + 1]
           ELSE a - g.A[CAST((((i1 - 1) - ((i1 - 1) % g.m2)) // g.m2)
                        AS INT) * g.m2 + g.k + 1]
                    * (g.A[g.k * g.m2 + ((i1 - 1) % g.m2) + 1]
                       / g.A[g.k * g.m2 + g.k + 1])
           END)
  FROM gj g
  WHERE g.k < g.m),
cmt AS (
  SELECT g.m,
         list_transform(generate_series(1, CAST(g.m * g.m AS INT)),
           i1 -> g.A[CAST((((i1 - 1) - ((i1 - 1) % CAST(g.m AS INT)))
                           // CAST(g.m AS INT)) AS INT) * g.m2
                     + CAST(g.m AS INT) + ((i1 - 1) % CAST(g.m AS INT))
                     + 1]) AS C
  FROM gj g
  WHERE g.k = g.m),
fin AS (
  SELECT s.series_id, s.m, s.lo, s.sd, c.C
  FROM serx s JOIN cmt c USING (m)),
pr AS (
  SELECT r.series_id, r.rn, f.m, f.sd, f.C,
         list_transform(generate_series(1, CAST(f.m AS INT)),
                        j -> {kq_ks}) AS ks
  FROM base r JOIN fin f USING (series_id)
  WHERE r.pos >= f.lo AND r.pos < f.lo + {_GP_STD_W})
SELECT series_id, rn,
       round(sd * sqrt(greatest(({kq_0} + {_GP_N2}) - list_reduce(
         list_transform(generate_series(1, CAST(m AS INT)), i ->
           ks[i] * list_reduce(
             list_transform(generate_series(1, CAST(m AS INT)), j ->
               C[(i - 1) * CAST(m AS INT) + j] * ks[j]),
             (x, y) -> x + y)),
         (x, y) -> x + y), 0.0)), {R}) AS pred_std
FROM pr
"""


o_gp_forecast_fixed_std = _gp_fixed_std_sql()


# Pinned LSTM(1->4) weights for the M5 inference twin: PyTorch gate
# blocks (i, f, g, o) exactly as functions/_lstm_numpy.py lays them
# out, generated once (numpy default_rng(7), uniform(-0.5, 0.5),
# 4 dp) and frozen — the twin certifies the CELL MATH, the production
# operator owns training.
_LSTM_WX = [0.1251, 0.3972, 0.2757, -0.2748, -0.1998, 0.3736, -0.4947,
            0.3212, 0.2971, -0.0321, -0.197, -0.2216, -0.2451, -0.0549,
            0.0045, 0.0535]
_LSTM_WH = [
    [0.4955, 0.2927, 0.1222, 0.489, -0.2847, -0.3398, 0.1125, -0.4561,
     -0.4643, 0.0149, -0.0338, 0.4172, 0.1292, 0.0141, -0.0031, -0.2525],
    [-0.4882, -0.3076, 0.192, -0.2994, -0.1305, -0.4963, 0.33, -0.3455,
     -0.2324, 0.3803, 0.0098, 0.3472, 0.1397, 0.2418, -0.4085, 0.0411],
    [0.0078, 0.3713, -0.1387, 0.0982, -0.4407, -0.1124, -0.177, -0.3498,
     0.3163, -0.1206, 0.4787, 0.09, 0.1051, 0.138, 0.1765, -0.3492],
    [-0.0597, -0.2604, -0.0975, -0.4033, 0.4678, -0.285, 0.1718, -0.1996,
     0.3741, 0.1622, -0.3684, 0.3451, 0.4449, 0.4039, 0.0697, -0.3545],
]
_LSTM_B = [-0.3075, 0.4279, 0.0523, -0.3194, 0.3841, 0.1416, 0.0697,
           -0.1237, -0.089, -0.2605, -0.4619, 0.3762, -0.0323, 0.0476,
           -0.1778, 0.2513]
_LSTM_WY = [-0.4748, -0.1278, -0.4696, -0.3771]
_LSTM_BY = 0.4671


def q_lstm_forecast_fixed(spark, sf_dir):
    """Hash-gated inference twin of the LSTM forecaster (r09 verdict
    item #8 — hash-anchor M5's inference math): a single-layer
    LSTM(1→4) + Linear(4→1) head with PINNED literal weights stepped
    over each series' z-normalized last ``w = least(n, 2048)`` points,
    emitting the one-step-ahead prediction after every step.  The cell
    is exactly ``functions/_lstm_numpy.py::_forward`` (PyTorch gate
    order i,f,g,o; c' = f⊙c + i⊙g; h' = o⊙tanh(c'); pred = h·Wy+by) —
    parity-tested against a numpy replay at the same weights.

    Cross-engine exactness: σ and tanh are spelled as the SAME
    exp-based rational forms on both sides (σ(x)=1/(1+e^{-x}),
    tanh(x)=(e^{2x}−1)/(e^{2x}+1)) and every activation is quantized
    to 8 decimals (the bocpd recipe), after which the gate/state
    updates are pure rational algebra on identical doubles.  All
    per-step intermediates (the 16-wide affine, the four gate vectors,
    c', h') are staged exactly once — ``_let`` bindings on Spark
    (Catalyst HOF lambdas get no CSE), nested subqueries inside the
    DuckDB recursion.  Training stays rows-only (``lstm_forecast``,
    golden NAB parity): SGD is not gate material, inference is."""
    tail = _last_w(spark, sf_dir, 2048, 64)
    mo = tail.groupBy("series_id").agg(
        _dsum(F.col("value")).alias("s1"),
        _dsum(F.col("value") * F.col("value")).alias("s2"),
        F.max("w").alias("wm"),
    )
    wn = F.col("wm").cast("double")
    mu_g = F.col("s1") / wn
    sd_g = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * F.col("s1") / wn)
            / (wn - F.lit(1.0)),
            F.lit(0.0),
        )
    )
    zed = tail.join(F.broadcast(mo), "series_id").select(
        "series_id",
        "n",
        "w",
        "j",
        ((F.col("value") - mu_g) / (sd_g + F.lit(1e-9))).alias("z"),
        mu_g.alias("mu"),
        (sd_g + F.lit(1e-9)).alias("sd"),
    )
    ser = zed.groupBy("series_id").agg(
        F.max("n").alias("n"),
        F.max("w").alias("w"),
        F.max("mu").alias("mu"),
        F.max("sd").alias("sd"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "z"))),
            lambda t: t["z"],
        ).alias("zv"),
    )

    WX = F.array(*[F.lit(v) for v in _LSTM_WX])
    WH = [F.array(*[F.lit(v) for v in row]) for row in _LSTM_WH]
    B = F.array(*[F.lit(v) for v in _LSTM_B])
    WY = _LSTM_WY
    H = 4

    def sig(x):
        return _q8(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)))

    def tanhx(x):
        e2 = F.exp(F.lit(2.0) * x)
        return _q8((e2 - F.lit(1.0)) / (e2 + F.lit(1.0)))

    init = F.struct(
        F.transform(F.sequence(F.lit(1), F.lit(H)), lambda _: F.lit(0.0)).alias("h"),
        F.transform(F.sequence(F.lit(1), F.lit(H)), lambda _: F.lit(0.0)).alias("c"),
        F.array().cast("array<double>").alias("preds"),
    )

    def step(acc, t):
        x = F.element_at(F.col("zv"), t)
        z16_expr = F.transform(
            F.sequence(F.lit(1), F.lit(4 * H)),
            lambda k: x * F.element_at(WX, k)
            + F.element_at(acc["h"], 1) * F.element_at(WH[0], k)
            + F.element_at(acc["h"], 2) * F.element_at(WH[1], k)
            + F.element_at(acc["h"], 3) * F.element_at(WH[2], k)
            + F.element_at(acc["h"], 4) * F.element_at(WH[3], k)
            + F.element_at(B, k),
        )

        def with_z(z16):
            gi = F.transform(
                F.sequence(F.lit(1), F.lit(H)),
                lambda j: sig(F.element_at(z16, j)),
            )
            gf = F.transform(
                F.sequence(F.lit(1), F.lit(H)),
                lambda j: sig(F.element_at(z16, j + F.lit(H))),
            )
            gg = F.transform(
                F.sequence(F.lit(1), F.lit(H)),
                lambda j: tanhx(F.element_at(z16, j + F.lit(2 * H))),
            )
            go = F.transform(
                F.sequence(F.lit(1), F.lit(H)),
                lambda j: sig(F.element_at(z16, j + F.lit(3 * H))),
            )

            def with_i(i4):
                def with_f(f4):
                    def with_g(g4):
                        def with_o(o4):
                            c_expr = F.transform(
                                F.sequence(F.lit(1), F.lit(H)),
                                lambda j: F.element_at(f4, j)
                                * F.element_at(acc["c"], j.cast("int"))
                                + F.element_at(i4, j) * F.element_at(g4, j),
                            )

                            def with_c(c_new):
                                h_expr = F.transform(
                                    F.sequence(F.lit(1), F.lit(H)),
                                    lambda j: F.element_at(o4, j)
                                    * tanhx(F.element_at(c_new, j)),
                                )

                                def with_h(h_new):
                                    pred = (
                                        F.element_at(h_new, 1)
                                        * F.lit(WY[0])
                                        + F.element_at(h_new, 2)
                                        * F.lit(WY[1])
                                        + F.element_at(h_new, 3)
                                        * F.lit(WY[2])
                                        + F.element_at(h_new, 4)
                                        * F.lit(WY[3])
                                        + F.lit(_LSTM_BY)
                                    )
                                    return F.struct(
                                        h_new.alias("h"),
                                        c_new.alias("c"),
                                        F.concat(
                                            acc["preds"], F.array(pred)
                                        ).alias("preds"),
                                    )

                                return _let(h_expr, with_h)

                            return _let(c_expr, with_c)

                        return _let(go, with_o)

                    return _let(gg, with_g)

                return _let(gf, with_f)

            return _let(gi, with_i)

        return _let(z16_expr, with_z)

    res = F.aggregate(
        F.sequence(F.lit(1), F.col("w").cast("int")), init, step
    )
    out = ser.withColumn("preds", res["preds"]).select(
        "series_id",
        "n",
        "w",
        "mu",
        "sd",
        F.posexplode("preds").alias("t", "p"),
    )
    return out.select(
        "series_id",
        (F.col("n") - F.col("w") + F.col("t") + 1).cast("long").alias("rn"),
        _rnd(F.col("mu") + F.col("sd") * F.col("p"), R).alias("pred"),
    )


def _lstm_fixed_sql() -> str:
    """DuckDB mirror of q_lstm_forecast_fixed: the same step staged
    through nested subqueries inside a recursive CTE, with the weight
    vectors as literal lists and the identical exp-based quantized
    activations."""
    def lst(vals):
        return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + "]"

    wx, b = lst(_LSTM_WX), lst(_LSTM_B)
    wh = [lst(row) for row in _LSTM_WH]
    wy = _LSTM_WY
    sig = ("(floor((1.0 / (1.0 + exp(-({x})))) * 100000000.0 + 0.5)"
           " / 100000000.0)")
    tnh = ("(floor(((exp(2.0 * ({x})) - 1.0) / (exp(2.0 * ({x})) + 1.0))"
           " * 100000000.0 + 0.5) / 100000000.0)")
    return f"""
WITH RECURSIVE {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n, least(count(*), 2048) AS w
  FROM s GROUP BY 1
  HAVING count(*) >= 64),
tl AS (
  SELECT s.series_id, c.n, c.w, s.rn - (c.n - c.w) - 1 AS j, s.value
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - c.w),
mo AS (
  SELECT series_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2,
         max(w) AS wm
  FROM tl GROUP BY 1),
zed AS (
  SELECT t.series_id, t.n, t.w, t.j,
         (t.value - m.s1 / CAST(m.wm AS DOUBLE))
           / (sqrt(greatest((m.s2 - m.s1 * m.s1 / CAST(m.wm AS DOUBLE))
                            / (CAST(m.wm AS DOUBLE) - 1.0), 0.0))
              + 1e-9) AS z,
         m.s1 / CAST(m.wm AS DOUBLE) AS mu,
         sqrt(greatest((m.s2 - m.s1 * m.s1 / CAST(m.wm AS DOUBLE))
                       / (CAST(m.wm AS DOUBLE) - 1.0), 0.0)) + 1e-9 AS sd
  FROM tl t JOIN mo m USING (series_id)),
ser AS (
  SELECT series_id, max(n) AS n, max(w) AS w, max(mu) AS mu,
         max(sd) AS sd, list(z ORDER BY j) AS zv
  FROM zed GROUP BY 1),
dp AS (
  SELECT series_id, 0 AS t,
         [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0] AS h,
         [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0] AS c,
         []::DOUBLE[] AS preds
  FROM ser
  UNION ALL
  SELECT series_id, t, h_new,
         c_new,
         list_append(preds,
           h_new[1] * {wy[0]!r} + h_new[2] * {wy[1]!r}
           + h_new[3] * {wy[2]!r} + h_new[4] * {wy[3]!r}
           + {_LSTM_BY!r})
  FROM (
    SELECT series_id, t, c_new, preds,
           list_transform(generate_series(1, 4),
             j -> o4[j] * {tnh.format(x="c_new[j]")}) AS h_new
    FROM (
      SELECT series_id, t, preds, o4,
             list_transform(generate_series(1, 4),
               j -> f4[j] * c[j] + i4[j] * g4[j]) AS c_new
      FROM (
        SELECT series_id, t, c, preds,
               list_transform(generate_series(1, 4),
                 j -> {sig.format(x="z16[j]")}) AS i4,
               list_transform(generate_series(1, 4),
                 j -> {sig.format(x="z16[j + 4]")}) AS f4,
               list_transform(generate_series(1, 4),
                 j -> {tnh.format(x="z16[j + 8]")}) AS g4,
               list_transform(generate_series(1, 4),
                 j -> {sig.format(x="z16[j + 12]")}) AS o4
        FROM (
          SELECT dp.series_id, dp.t + 1 AS t, dp.c, dp.preds,
                 list_transform(generate_series(1, 16),
                   k -> p.zv[dp.t + 1] * ({wx})[k]
                        + dp.h[1] * ({wh[0]})[k]
                        + dp.h[2] * ({wh[1]})[k]
                        + dp.h[3] * ({wh[2]})[k]
                        + dp.h[4] * ({wh[3]})[k]
                        + ({b})[k]) AS z16
          FROM dp JOIN ser p USING (series_id)
          WHERE dp.t < p.w) q1) q2) q3) q4),
fin AS (
  SELECT dp.series_id, p.n, p.w, p.mu, p.sd, dp.preds
  FROM dp JOIN ser p USING (series_id)
  WHERE dp.t = p.w),
ex AS (
  SELECT series_id, n, w, mu, sd,
         unnest(generate_series(1, CAST(w AS INT))) AS k, preds
  FROM fin)
SELECT series_id,
       CAST(n - w + k AS BIGINT) AS rn,
       round(mu + sd * preds[k], {R}) AS pred
FROM ex
"""


o_lstm_forecast_fixed = _lstm_fixed_sql()
