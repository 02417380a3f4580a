"""Query registry: every implemented operator as a (spark, sf_dir) ->
DataFrame callable, paired with an ANSI-SQL DuckDB oracle.

Conventions that make the driver's order-insensitive value-hash match:

- every float output column is ``round(x, 6)`` on BOTH sides (Spark and
  DuckDB compute in float64 with the same formulas; rounding removes
  last-ulp jitter from different summation orders);
- rounding happens ONLY on final outputs, never on intermediates;
- column names are aliased identically on both sides;
- row identity is carried by (series_id, rn) instead of raw timestamps
  where possible (the testdata parquet is TIMESTAMP(NANOS); Spark reads
  µs, DuckDB ns);
- deterministic tie-breaking everywhere (ORDER BY ... , event_id).

The shared SQL fragments below mirror the operator implementations
1:1 — see each operator's docstring for the reference citation.
"""

from __future__ import annotations

import functools
import inspect
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import events_as_series, with_row_index
from ..operators.rolling import rolling_stats, adaptive_threshold_flags
from ..operators.scaling import global_zscore, mad_scores
from ..operators.events import flags_to_events, persistence_filter
from ..operators.labeling import (
    mark_anomaly_windows,
    mark_top_value_windows,
    top_value_labels,
)
from ..operators.splits import fractional_split
from ..operators.evaluate import (
    pointwise_metrics,
    event_level_metrics,
    business_metrics,
    pr_curve,
    average_precision,
)
from ..operators.sweep import (
    threshold_sweep_pointwise,
    threshold_sweep_event,
    k_grid,
)
from ..operators.decompose import resample, classical_decompose
from .._exact import DEC as DEC_T, dsum as _dsum, r6 as _r6col

R = 6  # output rounding decimals


def _rnd(col, _r=R):
    """Drop-in for _rnd(col, 6) on float OUTPUT columns: the
    tie-proof quantizer of _exact.r6 (round() half-ties resolve
    differently across engines; floor(x*1e6+0.5)/1e6 is bit-identical
    given bit-identical x)."""
    return _r6col(col)


def tieproof_round_sql(sql: str) -> str:
    """Rewrite every ``round(EXPR, 6)`` in oracle SQL into the shared
    floor quantizer (the DuckDB mirror of :func:`_rnd`).  Balanced-
    paren scan, applied to the final oracle strings in oracle_sql()."""
    out: list[str] = []
    i = 0
    while True:
        j = sql.find("round(", i)
        if j == -1:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        depth, k = 1, j + len("round(")
        last_comma = -1
        while depth:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                last_comma = k
            k += 1
        body, digits = sql[j + 6 : last_comma], sql[last_comma + 1 : k - 1]
        assert digits.strip() == str(R), f"unexpected round() digits: {digits!r}"
        out.append(
            f"(CASE WHEN isnan(CAST(({body}) AS DOUBLE)) THEN NULL "
            f"ELSE floor(CAST(({body}) AS DOUBLE) * 1000000.0 + 0.5) "
            f"/ 1000000.0 END)"
        )
        i = k


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_row_index(events_as_series(spark, sf_dir))


# ---------------------------------------------------------------------------
# Shared pieces of the hash-gated fixed twins (Spark side)
# ---------------------------------------------------------------------------


def _last_w(
    spark: SparkSession, sf_dir: str, cap: int, min_n: int
) -> DataFrame:
    """Every series with at least ``min_n`` points, cut to its last
    ``w = least(n, cap)`` points: columns ``series_id, rn, value, n,
    w`` and the 0-based tail index ``j``.  A twin at ``cap == min_n``
    sees exactly ``cap`` points of every series it keeps."""
    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    cnt = (
        s.groupBy("series_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_n)
        .withColumn("w", F.least(F.col("n"), F.lit(cap)))
    )
    return (
        s.join(F.broadcast(cnt), "series_id")
        .filter(F.col("rn") > F.col("n") - F.col("w"))
        .withColumn("j", F.col("rn") - (F.col("n") - F.col("w")) - F.lit(1))
    )


def _el(arr, i):
    """``arr[i]`` for a 0-based integer Column ``i``."""
    return F.element_at(arr, (i + F.lit(1)).cast("int"))


def _q8(c):
    """8-decimal floor quantizer for the one transcendental of a twin
    step: libm results agree far beyond 1e-8, so after it both engines
    hold identical doubles."""
    return F.floor(c * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)


def _let(val, body):
    """Evaluate-once binding for Catalyst expressions: Catalyst does
    NO common-subexpression elimination inside higher-order-function
    lambdas, so referencing an expression twice re-evaluates its whole
    subtree (the O(w²) folds below would otherwise re-run their pdf /
    cost scans up to ~20× per step).  Wrapping the value as the sole
    element of an array and binding it through a ``transform`` lambda
    makes it a NamedLambdaVariable — evaluated exactly once per step —
    at the cost of one single-element array allocation."""
    return F.element_at(F.transform(F.array(val), body), 1)


# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (the oracle mirrors of the operators)
# ---------------------------------------------------------------------------

SQL_S = """
s AS (
  SELECT event_type AS series_id, ts AS timestamp, value, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM events
)
"""

# W1 rolling mean/std, min_periods=5, bfill — mirrors operators.rolling:
# running cumulative DECIMAL sums + lag(·, 48) differencing (decimal is
# exact, so the difference IS the trailing frame sum, bit-identical on
# both engines and O(n) instead of O(n·w) — see _exact.py / rolling.py)
SQL_ROLL = """
cumr AS (
  SELECT series_id, timestamp, rn, value,
         sum(CAST(value AS DECIMAL(38,12))) OVER wr AS c1,
         sum(CAST(value * value AS DECIMAL(38,12))) OVER wr AS c2,
         count(value) OVER wr AS cn
  FROM s
  WINDOW wr AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
rollw AS (
  SELECT series_id, timestamp, rn, value,
         CAST(c1 - coalesce(lag(c1, 48) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s1,
         CAST(c2 - coalesce(lag(c2, 48) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s2,
         cn - coalesce(lag(cn, 48) OVER wl, 0) AS cnt
  FROM cumr
  WINDOW wl AS (PARTITION BY series_id ORDER BY rn)
),
roll_raw AS (
  SELECT series_id, timestamp, rn, value,
    CASE WHEN cnt >= 5 THEN s1 / cnt END AS m_raw,
    CASE WHEN cnt >= 5 AND cnt >= 2 THEN
      sqrt(greatest((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0))
    END AS s_raw
  FROM rollw
),
roll AS (
  SELECT series_id, timestamp, rn, value,
    first_value(m_raw IGNORE NULLS) OVER wb AS roll_mean,
    first_value(s_raw IGNORE NULLS) OVER wb AS roll_std
  FROM roll_raw
  WINDOW wb AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
"""

# P7/P10 MAD z-scores — mirrors operators.scaling.mad_scores
SQL_MAD = """
med AS (SELECT series_id, median(value) AS med FROM s GROUP BY 1),
madt AS (
  SELECT s.series_id, median(abs(s.value - med.med)) AS mad
  FROM s JOIN med USING (series_id) GROUP BY 1
),
mads AS (
  SELECT s.series_id, s.timestamp, s.rn, s.value,
         abs(s.value - med.med) / (1.4826 * madt.mad + 1e-9) AS z_mad
  FROM s JOIN med USING (series_id) JOIN madt USING (series_id)
)
"""

# P2 label windows from top-5 values — mirrors labeling.top_value_labels
#  + mark_anomaly_windows (anchor = label row's rn; ±3 rows)
SQL_TRUTH = """
lab AS (
  SELECT series_id, rn AS anchor FROM (
    SELECT series_id, rn,
           row_number() OVER (PARTITION BY series_id
                              ORDER BY value DESC, timestamp, event_id) AS rk
    FROM s) t
  WHERE rk <= 5
),
truth AS (
  SELECT s.series_id, s.timestamp, s.rn, s.value,
         CASE WHEN count(l.anchor) > 0 THEN 1 ELSE 0 END AS is_anomaly
  FROM s LEFT JOIN lab l
    ON l.series_id = s.series_id AND s.rn BETWEEN l.anchor - 3 AND l.anchor + 3
  GROUP BY s.series_id, s.timestamp, s.rn, s.value
)
"""

# W1 flags at k=3 on raw values + W6 persistence p=2
SQL_FLAGS = """
flags0 AS (
  SELECT series_id, timestamp, rn, value,
         CASE WHEN abs(value - roll_mean) > 2.0 * (roll_std + 1e-6)
              THEN 1 ELSE 0 END AS flag
  FROM roll
),
runs_chg AS (
  SELECT *, CASE WHEN lag(flag) OVER w IS NULL
                  OR flag <> lag(flag) OVER w THEN 1 ELSE 0 END AS chg
  FROM flags0
  WINDOW w AS (PARTITION BY series_id ORDER BY rn)
),
runs_marked AS (
  SELECT *, sum(chg) OVER (PARTITION BY series_id ORDER BY rn) AS run_id
  FROM runs_chg
),
flags AS (
  SELECT series_id, timestamp, rn, value,
         CASE WHEN flag = 1
                   AND count(*) OVER (PARTITION BY series_id, run_id) < 2
              THEN 0 ELSE flag END AS flag
  FROM runs_marked
)
"""


def _sql_events_keyed(
    src: str, out: str, flag: str, gap: int, keys: str = "series_id",
    min_len: int = 1,
) -> str:
    """RLE + optional persistence (drop runs shorter than ``min_len``)
    + gap-merge of ``src.flag`` into event table ``out`` over arbitrary
    partition keys — mirrors operators.events raw_runs →
    (length filter) → merge_runs."""
    having = (
        f"\n  HAVING max(rn) - min(rn) + 1 >= {min_len}" if min_len > 1 else ""
    )
    return f"""
{out}_rle AS (
  SELECT {keys}, run_id, min(rn) AS start_idx, max(rn) AS end_idx
  FROM (
    SELECT {keys}, rn, f,
           sum(chg) OVER (PARTITION BY {keys} ORDER BY rn) AS run_id
    FROM (
      SELECT {keys}, rn, {flag} AS f,
             CASE WHEN lag({flag}) OVER w IS NULL
                   OR {flag} <> lag({flag}) OVER w THEN 1 ELSE 0 END AS chg
      FROM {src}
      WINDOW w AS (PARTITION BY {keys} ORDER BY rn)
    ) t0
  ) t WHERE f = 1
  GROUP BY {keys}, run_id{having}
),
{out}_merged AS (
  SELECT {keys}, min(start_idx) AS start_idx, max(end_idx) AS end_idx
  FROM (
    SELECT {keys}, start_idx, end_idx,
           sum(brk) OVER (PARTITION BY {keys} ORDER BY start_idx) AS evt
    FROM (
      SELECT *, CASE WHEN lag(end_idx) OVER we IS NULL
                      OR start_idx - lag(end_idx) OVER we > {gap} + 1
                     THEN 1 ELSE 0 END AS brk
      FROM {out}_rle
      WINDOW we AS (PARTITION BY {keys} ORDER BY start_idx)
    ) t0
  ) t
  GROUP BY {keys}, evt
),
{out} AS (
  SELECT {keys},
         row_number() OVER (PARTITION BY {keys} ORDER BY start_idx) AS event_id,
         start_idx, end_idx
  FROM {out}_merged
)
"""


# ---------------------------------------------------------------------------
# Query implementations (Spark side)
# ---------------------------------------------------------------------------

def q_sliding_windows(spark, sf_dir):
    from ..operators.rolling import sliding_windows

    s = _series(spark, sf_dir)
    out = sliding_windows(s, seq_len=48)
    return out.select(
        "series_id",
        "rn",
        F.posexplode("x_window").alias("pos", "x"),
    ).select("series_id", "rn", "pos", _rnd("x", R).alias("x"))


def q_walk_forward_cv(spark, sf_dir):
    from .pipelines import walk_forward_cv

    out = walk_forward_cv(_series(spark, sf_dir), model="ar", period=24)
    return out.select(
        "series_id", "n_folds",
        _rnd("mean_f1", R).alias("mean_f1"),
        _rnd("mean_precision", R).alias("mean_precision"),
        _rnd("mean_recall", R).alias("mean_recall"),
    )


def q_benchmark_leaderboard(spark, sf_dir):
    from .pipelines import run_benchmark

    out = run_benchmark(_series(spark, sf_dir), models=("stl", "ar"))
    return out.select(
        "model", "series_id",
        _rnd("f1", R).alias("f1"),
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("fp_per_day", R).alias("fp_per_day"),
        _rnd("median_latency_minutes", R).alias("median_latency_minutes"),
    )


def q_walk_forward_cv_ar1(spark, sf_dir):
    """The oracle-checkable CV variant: closed-form AR(1) per fold —
    the fold/score/sweep/metrics plumbing under a hard DuckDB gate
    (the rich-model variant stays rows-only)."""
    from .pipelines import walk_forward_cv

    out = walk_forward_cv(_series(spark, sf_dir), model="ar1")
    return out.select(
        "series_id", "n_folds",
        _rnd("mean_f1", R).alias("mean_f1"),
        _rnd("mean_precision", R).alias("mean_precision"),
        _rnd("mean_recall", R).alias("mean_recall"),
    )


def q_benchmark_leaderboard_ar1(spark, sf_dir):
    """Oracle-checkable leaderboard: one native-SQL-algebra model
    through the full sweep → detect → event-metrics tail."""
    from .pipelines import run_benchmark

    out = run_benchmark(_series(spark, sf_dir), models=("ar1",))
    return out.select(
        "model", "series_id",
        _rnd("f1", R).alias("f1"),
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        "n_true_events", "n_pred_events",
        _rnd("fp_per_day", R).alias("fp_per_day"),
        _rnd("median_latency_minutes", R).alias("median_latency_minutes"),
    )


def q_rolling_stats(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = rolling_stats(s)
    return out.select(
        "series_id", "rn",
        _rnd("roll_mean", R).alias("roll_mean"),
        _rnd("roll_std", R).alias("roll_std"),
    )


def q_adaptive_flags(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = adaptive_threshold_flags(s, k=2.0)
    out = persistence_filter(out, "flag", p=2)
    return out.select("series_id", "rn", "flag")


def q_mad_scores(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = mad_scores(s)
    return out.select(
        "series_id", "rn",
        _rnd("z_mad", R).alias("z_mad"),
        (F.col("z_mad") > 3.0).cast("int").alias("flag"),
    )


def q_global_zscore(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = global_zscore(s)
    return out.select("series_id", "rn", _rnd("z_global", R).alias("z_global"))


def q_median_center(spark, sf_dir):
    """P8: per-series exact-median centering (src/run_bsts.py:54-55)."""
    from ..operators.scaling import median_center

    s = _series(spark, sf_dir)
    out = median_center(s, "value", "centered")
    return out.select("series_id", "rn", _rnd("centered", R).alias("centered"))


def q_residual_sigma(spark, sf_dir):
    """W2: rolling sigma on model residuals + the reference's residual
    z-score (src/run_bsts.py:105-106) — AR(1) residuals so every step
    is exact SQL algebra."""
    from ..functions.ar import ar1_forecast_native
    from ..operators.rolling import rolling_stats

    s = _series(spark, sf_dir)
    r = rolling_stats(
        ar1_forecast_native(s), value_col="resid", out_prefix="rs"
    )
    score = F.abs(F.col("resid")) / (F.col("rs_std") + F.lit(1e-6))
    return r.select(
        "series_id", "rn",
        _rnd("rs_mean", R).alias("rs_mean"),
        _rnd("rs_std", R).alias("rs_std"),
        _rnd(score, R).alias("score"),
    )


def q_fractional_split(spark, sf_dir):
    s = _series(spark, sf_dir)
    return fractional_split(s).select("series_id", "rn", "split")


def q_label_windows(spark, sf_dir):
    s = _series(spark, sf_dir)
    labels = top_value_labels(s, 5)
    return mark_anomaly_windows(s, labels, 3).select("series_id", "rn", "is_anomaly")


def q_detect_events(spark, sf_dir):
    # k=2.0 without persistence so runs/merges are actually exercised
    s = _series(spark, sf_dir)
    flagged = adaptive_threshold_flags(s, k=2.0)
    return flags_to_events(flagged, "flag", gap=3).select(
        "series_id", "event_id", "start_idx", "end_idx"
    )


def _truth_and_flags(spark, sf_dir):
    # k=2.0: at k=3 + persistence the synthetic series yield zero
    # predicted events and every metric degenerates to 0
    s = _series(spark, sf_dir)
    # fused zero-join marker: same values as top_value_labels +
    # mark_anomaly_windows, none of their broadcast-build jobs
    lab = mark_top_value_windows(s, 5, 3)
    flagged = persistence_filter(adaptive_threshold_flags(lab, k=2.0), "flag", p=2)
    # consumed 3-5× downstream (truth events, pred events, base,
    # latency row lookups) — materialize the window pipeline once,
    # EAGERLY (a lazy cache is raced by concurrent consumer stages)
    from ..session import eager_cache
    return eager_cache(flagged)


def q_pointwise_metrics(spark, sf_dir):
    out = pointwise_metrics(_truth_and_flags(spark, sf_dir))
    return out.select(
        "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_event_metrics(spark, sf_dir):
    out = event_level_metrics(_truth_and_flags(spark, sf_dir), gap=3)
    return out.select(
        "series_id", "tp", "fp", "fn", "n_true_events", "n_pred_events",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_business_metrics(spark, sf_dir):
    out = business_metrics(_truth_and_flags(spark, sf_dir), gap=3)
    return out.select(
        "series_id", "fp_count",
        _rnd("duration_days", R).alias("duration_days"),
        _rnd("fp_per_day", R).alias("fp_per_day"),
        _rnd("median_latency_minutes", R).alias("median_latency_minutes"),
    )


def q_threshold_sweep(spark, sf_dir):
    out = threshold_sweep_pointwise(
        _scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly"
    )
    return out.select(
        "series_id",
        _rnd("best_k", R).alias("best_k"),
        _rnd("f1", R).alias("f1"),
        _rnd("rate", R).alias("rate"),
    )


def q_threshold_sweep_event(spark, sf_dir):
    out = threshold_sweep_event(
        _scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly"
    )
    return out.select(
        "series_id",
        _rnd("best_k", R).alias("best_k"),
        _rnd("f1", R).alias("f1"),
        _rnd("rate", R).alias("rate"),
    )


def _scored_with_truth(spark, sf_dir):
    # consumed 2-3x by curve/AP windows and the sweeps' event tables —
    # materialize the mad + label pipeline once
    s = _series(spark, sf_dir)
    from ..session import eager_cache
    return eager_cache(mark_top_value_windows(mad_scores(s), 5, 3))


def q_pr_curve(spark, sf_dir):
    out = pr_curve(_scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly")
    return out.select(
        "series_id",
        _rnd("threshold", R).alias("threshold"),
        "tp", "fp",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
    )


def q_average_precision(spark, sf_dir):
    out = average_precision(
        _scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly"
    )
    return out.select(
        "series_id",
        _rnd("average_precision", R).alias("average_precision"),
    )


def q_global_moments(spark, sf_dir):
    # exact decimal sums for mean/std/kurtosis; d*d instead of pow()
    # (cross-engine pow(x, 2.0) is not guaranteed bitwise) — mirrors the
    # oracle algebra 1:1 (see _exact.py)
    s = _series(spark, sf_dir)
    v = F.col("value")
    mo = s.groupBy("series_id").agg(
        F.count("*").alias("__n"),
        F.sum(v.cast(DEC_T)).cast("double").alias("__s1"),
    )
    mu = (F.col("__s1") / F.col("__n")).alias("__mu")
    d = v - F.col("__mu")
    p2 = d * d
    p4 = (d * d) * (d * d)
    out = (
        s.join(F.broadcast(mo.select("series_id", mu)), "series_id")
        .groupBy("series_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(v.cast(DEC_T)).cast("double").alias("__t1"),
            F.sum((v * v).cast(DEC_T)).cast("double").alias("__t2"),
            _rnd(F.percentile("value", F.lit(0.5)), R).alias("median"),
            _rnd(F.min("value"), R).alias("vmin"),
            _rnd(F.max("value"), R).alias("vmax"),
            F.sum(p2.cast(DEC_T)).cast("double").alias("__m2s"),
            F.sum(p4.cast(DEC_T)).cast("double").alias("__m4s"),
        )
    )
    n = F.col("n")
    mean = F.col("__t1") / n
    std = F.sqrt(
        F.greatest(
            (F.col("__t2") - F.col("__t1") * F.col("__t1") / n) / (n - 1),
            F.lit(0.0),
        )
    )
    kurt = (F.col("__m4s") / n) / ((F.col("__m2s") / n) * (F.col("__m2s") / n)) - 3.0
    return out.select(
        "series_id", "n",
        _rnd(mean, R).alias("mean"),
        _rnd(std, R).alias("std"),
        "median", "vmin", "vmax",
        _rnd(kurt, R).alias("kurtosis"),
    )


def q_acf(spark, sf_dir):
    from ..operators.acf import acf
    s = _series(spark, sf_dir)
    out = acf(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("acf", R).alias("acf"))


def q_acf_statsmodels(spark, sf_dir):
    """W8 in the reference's exact estimator convention (statsmodels
    ``acf``: global mean, constant denominator)."""
    from ..operators.acf import acf_statsmodels

    s = _series(spark, sf_dir)
    out = acf_statsmodels(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("acf", R).alias("acf"))


def q_acf_fft(spark, sf_dir):
    """W8's large-max_lag path: all-lags-at-once FFT ACF per series
    (Wiener–Khinchin), statsmodels convention.  Rows-only by design
    (float FFT vs the decimal-sum oracle differs below 1e-9 — the
    stack-plan agreement is pinned in tests/test_control_robust.py);
    the plan replaces the stack plan's max_lag-fold row multiply with
    one O(n log n) pass per series."""
    from ..operators.acf import acf_fft

    s = _series(spark, sf_dir)
    out = acf_fft(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("acf", R).alias("acf"))


def _dft_twiddles(nfft: int = 128):
    """Shared cos/sin literal table for the fixed-DFT twin — computed
    once in Python, rounded to 12 decimals, fed to BOTH engines (the
    literal-table recipe: decimal literals parse to identical doubles,
    so no transcendental ever runs inside either engine)."""
    import math

    return [
        (
            r,
            round(math.cos(2.0 * math.pi * r / nfft), 12),
            round(math.sin(2.0 * math.pi * r / nfft), 12),
        )
        for r in range(nfft)
    ]


def _acf_fft_fixed_plan(spark, sf_dir, n_win, nfft, max_lag):
    """Shared builder for the hash-gated FFT-ACF twins: the
    frequency-domain Wiener–Khinchin pipeline — DFT → power spectrum →
    inverse DFT — run EXACTLY in both engines on each series' last
    ``n_win`` points, zero-padded to ``nfft`` (the operator's
    ``1 << ceil(log2(2n))`` convention), lags 1..``max_lag``.

    The one transcendental (the twiddle basis) arrives as DATA: a
    shared nfft-row cos/sin literal table indexed by ``(k·t) mod
    nfft`` — the DFT reduces to fixed products + exact-decimal sums,
    so the twin gates the SPECTRAL ALGORITHM (not just its time-domain
    equivalent, which ``acf``/``acf_statsmodels`` already gate).
    Parity with ``operators/acf.acf_fft`` (numpy rFFT) is pinned at
    1e-6 in tests/test_control_robust.py; the full-length FFT
    operator stays rows-only."""
    N, NF, K = n_win, nfft, max_lag
    tw = spark.createDataFrame(
        _dft_twiddles(NF), "r int, c double, sn double"
    )
    tail = _last_w(spark, sf_dir, N, N).select(
        "series_id", F.col("j").cast("int").alias("t"), "value"
    )
    mu = tail.groupBy("series_id").agg(
        (_dsum(F.col("value")) / F.lit(float(N))).alias("mu")
    )
    xc = tail.join(F.broadcast(mu), "series_id").select(
        "series_id", "t", (F.col("value") - F.col("mu")).alias("xc")
    )
    # DFT: X_k = sum_t xc_t * (cos - i*sin)(2*pi*k*t/NF) — the (k*t)
    # mod NF index folds every twiddle into the literal table.  The
    # input is REAL, so X_{NF-k} = conj(X_k): only k = 0..NF/2 is
    # computed (the r13 halving).  Exactness: the twiddle literal
    # table is exactly symmetric after its round-to-12-decimals
    # (c[NF-r] == c[r], sn[NF-r] == -sn[r], asserted in
    # tests/test_control_robust.py), so re_{NF-k} == re_k and
    # im_{NF-k} == -im_k BIT-exactly, p_k == p_{NF-k}, and the k and
    # NF-k rows of every downstream decimal sum are identical values —
    # emitting each once and adding it twice (decimal add is exact)
    # reproduces the full-spectrum sum bit-for-bit at half the
    # 512×1024-terms/series DFT fan.
    terms = (
        xc.select(
            "series_id",
            "xc",
            F.explode(F.sequence(F.lit(0), F.lit(NF // 2))).alias("k"),
            "t",
        )
        .withColumn("r", (F.col("k") * F.col("t")) % F.lit(NF))
        .join(F.broadcast(tw), "r")
    )
    spec = terms.groupBy("series_id", "k").agg(
        _dsum(F.col("xc") * F.col("c")).alias("re"),
        _dsum(F.col("xc") * F.col("sn")).alias("im"),
    )
    power = spec.select(
        "series_id",
        "k",
        (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias("p"),
    )
    # inverse DFT of the (symmetric, real) power spectrum at lags
    # 0..max_lag: acov_j ∝ sum_{k=0}^{NF-1} p_k cos(2*pi*k*j/NF),
    # folded over the half spectrum: the k ∈ {1..NF/2−1} term appears
    # twice (k and NF−k, identical per-term decimal values — see the
    # DFT comment), so it enters the sum as term+term; k = 0 and
    # k = NF/2 are self-symmetric and enter once.  The doubling happens
    # AFTER the per-term decimal(38,12) quantization (t + t, exact),
    # never before it (DEC(2·x) can round differently than 2·DEC(x)).
    acov_t = (F.col("p") * F.col("c")).cast(DEC_T)
    acov = (
        power.select(
            "series_id",
            "p",
            F.explode(F.sequence(F.lit(0), F.lit(K))).alias("lag"),
            "k",
        )
        .withColumn("r", (F.col("k") * F.col("lag")) % F.lit(NF))
        .join(F.broadcast(tw.select("r", "c")), "r")
        .groupBy("series_id", "lag")
        .agg(
            F.sum(
                F.when(
                    (F.col("k") == 0) | (F.col("k") == NF // 2),
                    acov_t,
                ).otherwise(acov_t + acov_t)
            )
            .cast("double")
            .alias("s")
        )
    )
    a0 = acov.filter(F.col("lag") == 0).select(
        "series_id", F.col("s").alias("s0")
    )
    return (
        acov.filter(F.col("lag") >= 1)
        .join(F.broadcast(a0), "series_id")
        .select(
            "series_id",
            F.col("lag").cast("int").alias("lag"),
            _rnd(F.col("s") / F.col("s0"), R).alias("acf"),
        )
    )


# every (n_win, nfft, max_lag) the FFT-ACF twins instantiate — the
# half-spectrum halving inside _acf_fft_fixed_plan assumes the 12-dp
# twiddle table of each nfft here is exactly conjugate-symmetric, and
# tests/test_control_robust.py::test_dft_twiddle_table_symmetry pins
# that premise for THIS list (add a twin extent ⇒ it is auto-covered)
ACF_FFT_FIXED_CONFIGS = ((64, 128, 16), (512, 1024, 16))


def q_acf_fft_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the FFT-ACF path (r08 verdict item
    #5) at the original extent: last 64 points, nfft=128, lags 1..16
    — see ``_acf_fft_fixed_plan``."""
    return _acf_fft_fixed_plan(spark, sf_dir, *ACF_FFT_FIXED_CONFIGS[0])


def q_acf_fft_fixed_512(spark, sf_dir):
    """Widened FFT-ACF twin (r09): last 512 points, nfft=1024, lags
    1..16 — the same literal-twiddle spectral pipeline over 8× the
    gated extent (the matrix_profile_fixed_full / shesd_fixed_full /
    spectral_residual_fixed_512 widening theme).  The 512×1024 DFT
    fan is ~0.5M exact-decimal terms per series — bounded per-series
    state, benchable at any SF."""
    return _acf_fft_fixed_plan(spark, sf_dir, *ACF_FFT_FIXED_CONFIGS[1])


def _acf_fft_fixed_sql(n_win=64, nfft=128, max_lag=16) -> str:
    tw_rows = ",".join(
        "(%d, %.12f, %.12f)" % row for row in _dft_twiddles(nfft)
    )
    return f"""
WITH {SQL_S},
tw(r, c, sn) AS (VALUES {tw_rows}),
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {n_win}),
tl AS (
  SELECT s.series_id,
         CAST(s.rn - (c.n - {n_win}) - 1 AS INT) AS t, s.value
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - {n_win}),
mu AS (
  SELECT series_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / {n_win}.0
           AS mu
  FROM tl GROUP BY 1),
xc AS (
  SELECT t.series_id, t.t, t.value - m.mu AS xc
  FROM tl t JOIN mu m USING (series_id)),
terms AS (
  SELECT x.series_id, x.xc, f.k,
         (f.k * x.t) % {nfft} AS r
  FROM xc x CROSS JOIN (SELECT unnest(generate_series(0, {nfft - 1}))
                        AS k) f),
spec AS (
  SELECT te.series_id, te.k,
         CAST(sum(CAST(te.xc * w.c AS DECIMAL(38,12))) AS DOUBLE) AS re,
         CAST(sum(CAST(te.xc * w.sn AS DECIMAL(38,12))) AS DOUBLE) AS im
  FROM terms te JOIN tw w ON w.r = te.r
  GROUP BY 1, 2),
pw AS (
  SELECT series_id, k, re * re + im * im AS p FROM spec),
acov AS (
  SELECT pw.series_id, l.lag,
         CAST(sum(CAST(pw.p * w.c AS DECIMAL(38,12))) AS DOUBLE) AS sm
  FROM pw
  CROSS JOIN (SELECT unnest(generate_series(0, {max_lag})) AS lag) l
  JOIN tw w ON w.r = (pw.k * l.lag) % {nfft}
  GROUP BY 1, 2),
a0 AS (SELECT series_id, sm AS s0 FROM acov WHERE lag = 0)
SELECT a.series_id, CAST(a.lag AS INT) AS lag,
       round(a.sm / z.s0, {R}) AS acf
FROM acov a JOIN a0 z USING (series_id)
WHERE a.lag >= 1
"""


def q_pacf(spark, sf_dir):
    from ..operators.acf import pacf

    s = _series(spark, sf_dir)
    out = pacf(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("pacf", R).alias("pacf"))


def q_hybrid_detection(spark, sf_dir):
    from .pipelines import hybrid_pipeline

    res = hybrid_pipeline(_series(spark, sf_dir), period=24, k=4.0)
    out = res["event_metrics"]
    return out.select(
        "model", "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_hybrid_detection_sql(spark, sf_dir):
    """The hybrid fusion plumbing (union + conditional-agg pivot +
    weighted fuse + threshold + persistence + event metrics) under a
    HARD oracle: every branch (ar1 / zscore / mad) is exact SQL
    algebra, so the whole ensemble DAG gets a DuckDB mirror (the
    stl/gp/ar variant stays rows-only — its branches are model UDFs)."""
    from .pipelines import hybrid_pipeline

    res = hybrid_pipeline(
        _series(spark, sf_dir), models=("ar1", "zscore", "mad"), k=2.5
    )
    out = res["event_metrics"]
    return out.select(
        "model", "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_hybrid_detection_bsts_lstm(spark, sf_dir):
    """The reference NOTEBOOK hybrid (results/hybrid metrics.json:
    weights {bsts: 0.5, lstm: 0.5}; columns z_bsts, z_lstm,
    hybrid_score): equal-weight fusion of the BSTS and LSTM residual
    z-scores through the shared detection/eval tail.  Rows-only (both
    branches are model UDFs; the fusion plumbing itself is hash-gated
    by hybrid_detection_sql)."""
    from .pipelines import hybrid_pipeline

    res = hybrid_pipeline(
        _series(spark, sf_dir), period=24, models=("bsts", "lstm"),
        weights=(0.5, 0.5), k=4.0,
    )
    out = res["event_metrics"]
    return out.select(
        "model", "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_forecast_accuracy(spark, sf_dir):
    """Forecast backtest table: AR(1) one-step predictions scored with
    MAE/RMSE/MAPE/sMAPE on the Test split — the accuracy columns a
    leaderboard carries next to the detection metrics."""
    from ..functions.ar import ar1_forecast_native
    from ..operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    fc = fractional_split(ar1_forecast_native(s))
    out = forecast_accuracy(fc.filter(F.col("split") == "Test"))
    return out.select(
        "series_id", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("mape", R).alias("mape"),
        _rnd("smape", R).alias("smape"),
    )


def q_revenue_anomaly(spark, sf_dir):
    """Star-schema → time-series composition: daily revenue per region
    from the warehouse tables (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region), then the engine's native AR(1)+MAD anomaly scoring on the
    derived series — the end-to-end shape of a production metrics
    pipeline.

    Join strategy: nation/region are broadcast (tiny dims); customer
    rides AQE's broadcast decision (a dimension at test scale, a
    shuffle join at 100 TB); lineitem ⋈ orders is the fact-fact equi
    join on orderkey — co-partition/bucket both on orderkey at scale
    and this query's only big shuffle disappears.  The daily aggregate
    reduces the fact volume ~1000x before any window work.
    """
    from ..functions.ar import ar1_forecast_native
    from ..sources.loader import _as_timestamp, with_row_index

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(
            F.col("r_name").alias("series_id"),
            F.date_trunc("day", _as_timestamp(orders, "o_orderdate")).alias(
                "timestamp"
            ),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__amt"),
        )
        .groupBy("series_id", "timestamp")
        .agg(F.sum(F.col("__amt").cast(DEC_T)).cast("double").alias("value"))
    )
    # the derived series feeds the AR fit, the residual join, and the
    # two MAD aggregates — cache it or each consumer re-runs the whole
    # 5-table join + daily aggregate (observed: 6 copies of the star
    # join in the uncached plan)
    from ..session import eager_cache

    s = eager_cache(with_row_index(rev))
    scored = mad_scores(
        ar1_forecast_native(s), value_col="resid", out_col="score"
    )
    return scored.select(
        "series_id",
        "rn",
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
        _rnd("value", R).alias("revenue"),
        _rnd("score", R).alias("score"),
        F.when(F.col("score") > 3.0, 1).otherwise(0).alias("flag"),
    )


def q_resample_decompose(spark, sf_dir):
    s = _series(spark, sf_dir)
    rs = resample(s, "hour")
    dc = classical_decompose(rs, period=24)
    return dc.select(
        "series_id",
        F.col("timestamp").cast("string").alias("bucket"),
        _rnd("value", R).alias("value"),
        _rnd("trend", R).alias("trend"),
        _rnd("seasonal", R).alias("seasonal"),
        _rnd("resid", R).alias("resid"),
    )


def q_resample_fill(spark, sf_dir):
    """Grid completion: hourly resample → every missing bucket
    materialized (is_gap=1) with linear interpolation between known
    neighbors — the bridge from 'absent rows' to the explicit fixed
    grid phase-based operators need."""
    from ..operators.decompose import fill_gaps

    s = _series(spark, sf_dir)
    out = fill_gaps(resample(s, "hour"), 3600)
    return out.select(
        "series_id", "ts_s", "is_gap", _rnd("value", R).alias("value")
    )


def q_interval_exceedance(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = rolling_stats(s)
    lo = F.col("roll_mean") - 3.0 * F.col("roll_std")
    hi = F.col("roll_mean") + 3.0 * F.col("roll_std")
    return out.select(
        "series_id", "rn",
        _rnd(lo, R).alias("lower"),
        _rnd(hi, R).alias("upper"),
        ((F.col("value") < lo) | (F.col("value") > hi)).cast("int").alias("exceed"),
    )


def q_ensemble_fusion(spark, sf_dir):
    s = _series(spark, sf_dir)
    scored = global_zscore(mad_scores(s))
    scored = rolling_stats(scored)
    z_roll = F.abs(F.col("value") - F.col("roll_mean")) / (
        F.col("roll_std") + F.lit(1e-6)
    )
    combined = (F.col("z_mad") + F.abs(F.col("z_global")) + z_roll) / 3.0
    return scored.select(
        "series_id", "rn",
        _rnd(combined, R).alias("combined_score"),
        (combined > 3.0).cast("int").alias("flag"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

def q_ar1_forecast(spark, sf_dir):
    from ..functions.ar import ar1_forecast_native
    s = _series(spark, sf_dir)
    out = ar1_forecast_native(s)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


def q_kalman_forecast(spark, sf_dir):
    from ..functions import kalman_local_level
    out = kalman_local_level(_series(spark, sf_dir), train_frac=0.75)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
    )


def q_bsts_forecast(spark, sf_dir):
    from ..functions import bsts_forecast
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
    from ..functions import bsts_forecast
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
    from ..functions import kalman_local_level
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
    from ..functions.kalman import kalman_fixed
    out = kalman_fixed(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
        _rnd("resid", R).alias("resid"),
    )


def q_bsts_forecast_fixed(spark, sf_dir):
    """M3, hash-gated: fixed-variance local-linear-trend filter — the
    trend core of the reference's BSTS (``src/bsts_model.py:12-50``)
    unrolled into seven scalar recurrences, so it carries a DuckDB
    RECURSIVE-CTE oracle (the same move as kalman_forecast_fixed).
    Dyadic-rational variances make the recursion bit-identical across
    engines; the seasonal blocks stay rows-only in bsts_forecast."""
    from ..functions.kalman import bsts_fixed
    out = bsts_fixed(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_lower", R).alias("pred_lower"),
        _rnd("pred_upper", R).alias("pred_upper"),
        _rnd("resid", R).alias("resid"),
    )


def q_holt_winters_fixed(spark, sf_dir):
    """M3-adjacent, hash-gated: additive Holt-Winters with fixed
    dyadic (α, β, γ) — the level+trend+seasonal forecaster as a pure
    recursion, so unlike the statsmodels MLE fits it carries a DuckDB
    RECURSIVE-CTE oracle (the seasonal state rides as a list column)."""
    from ..functions.holt_winters import holt_winters_fixed

    out = holt_winters_fixed(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "rn",
        _rnd("pred", R).alias("pred"),
        _rnd("resid", R).alias("resid"),
    )


def q_ewma_flags(spark, sf_dir):
    """W7-adjacent, hash-gated: EWMA control chart — the classical
    drift detector beside BOCPD (``src/bocpd_model.py:50-104``), whose
    scalar recursion (unlike BOCPD's O(T²) posterior) carries a DuckDB
    RECURSIVE-CTE oracle.  Dyadic λ=1/4, exact-decimal seed moments."""
    from ..functions.control import ewma_chart

    out = ewma_chart(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("ewma", R).alias("ewma"),
        _rnd("ucl", R).alias("ucl"),
        _rnd("lcl", R).alias("lcl"),
        "flag",
    )


def q_cusum_changepoints(spark, sf_dir):
    """W7-adjacent, hash-gated: two-sided tabular CUSUM on the
    standardized series — the level-shift/changepoint chart that
    complements BOCPD with a fully oracle-checkable recursion
    (k=0.5, h=5.0, exact-decimal μ/σ)."""
    from ..functions.control import cusum_chart

    out = cusum_chart(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("cusum_pos", R).alias("cusum_pos"),
        _rnd("cusum_neg", R).alias("cusum_neg"),
        "flag",
    )


def q_cusum_alarms(spark, sf_dir):
    """Changepoint LOCALIZATION, hash-gated: reset-on-alarm CUSUM —
    the output is the changepoint list itself (one row per crossing,
    like the peaks consumers read off BOCPD's cp_prob in
    ``src/changepoint.py:85-107``), not a dense flag column."""
    from ..functions.control import cusum_alarms

    out = cusum_alarms(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn", "direction",
        _rnd("stat", R).alias("stat"),
    )


def q_hampel_flags(spark, sf_dir):
    """W1's robust sibling, hash-gated: Hampel identifier — centered
    rolling median ± 3·1.4826·rolling-MAD (the reference's MAD scoring
    of ``src/utils.py:31-38`` localized to the W1 window).  Fully
    native: sorted in-frame arrays, no UDF, one exchange."""
    from ..operators.robust import hampel_flags

    out = hampel_flags(_series(spark, sf_dir), half=12)
    return out.select(
        "series_id", "rn",
        _rnd("roll_med", R).alias("roll_med"),
        _rnd("roll_mad", R).alias("roll_mad"),
        F.col("hampel_flag").alias("flag"),
    )


def q_quantile_flags(spark, sf_dir):
    """Distribution-free band detector, hash-gated: flag rows outside
    the per-series exact [2%, 98%] percentile band — the ECDF cousin
    of the z-score charts (P10/P12), no normality assumption."""
    from ..operators.robust import quantile_band_flags

    out = quantile_band_flags(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("band_lo", R).alias("band_lo"),
        _rnd("band_hi", R).alias("band_hi"),
        F.col("band_flag").alias("flag"),
    )


def q_diff_zscore(spark, sf_dir):
    """Rate-of-change spike detector, hash-gated: z-score of the first
    differences against their own exact-decimal moments — catches the
    jump discontinuities level charts smear (P9/P10 on Δy)."""
    from ..operators.robust import diff_zscore_flags

    out = diff_zscore_flags(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("diff", R).alias("diff"),
        _rnd("diff_z", R).alias("diff_z"),
        F.col("diff_flag").alias("flag"),
    )


def q_detect_period(spark, sf_dir):
    """Dominant-period auto-detection, hash-gated: argmax ACF over
    lags 2..60 — the data-driven read of the seasonal_periods knob the
    reference hard-codes (``src/run_final_benchmark.py:24-40``)."""
    from ..operators.diagnostics import detect_period_frame

    out = detect_period_frame(_series(spark, sf_dir), max_lag=60)
    return out.select(
        "series_id", "period", _rnd("peak_acf", R).alias("peak_acf")
    )


def q_gap_stats(spark, sf_dir):
    """Time-grid gap report, hash-gated: modal sampling step, gap
    count, largest gap, estimated missing rows — the data-quality
    check ahead of the row-frame windowed detectors (P13's diagnosis
    side; ``resample_fill`` is the repair side)."""
    from ..operators.diagnostics import gap_stats_frame

    out = gap_stats_frame(_series(spark, sf_dir))
    return out.select(
        "series_id", "n_rows", "step_s", "n_gaps", "max_gap_s",
        "missing_rows_est",
    )


def q_cross_correlation(spark, sf_dir):
    """Multivariate diagnostic, hash-gated: lagged cross-correlation
    between series pairs (positional alignment, J3) — which series
    lead which, the view the per-series ACF (W8) cannot see."""
    from ..operators.acf import cross_correlation

    # r11 wide-series stress finding: allow_all_pairs=True here baked
    # in the gate fixture's 5-series shape — pointed at a 500-series
    # table the wrapper silently ran 124,750 pairs (114 s).  The guard
    # stays ON (one tiny distinct-count job) so the wrapper is safe on
    # ANY table; the gate fixture's 10 pairs pass it untouched.
    out = cross_correlation(_series(spark, sf_dir), max_lag=12)
    return out.select(
        "series_a", "series_b",
        # stack() literals land int32; the oracle's generate_series is
        # BIGINT — align for the dtype-sensitive value hash
        F.col("lag").cast("long").alias("lag"),
        _rnd("xcorr", R).alias("xcorr"),
    )


def q_split_drift(spark, sf_dir):
    """Train/test distribution drift, hash-gated: test half binned by
    the train half's exact deciles, scored by total-variation distance
    on integer cross-products — the transcendental-free retrain
    trigger (P3 composed with a drift score)."""
    from ..operators.diagnostics import split_drift_frame

    out = split_drift_frame(_series(spark, sf_dir))
    return out.select(
        "series_id", "n_train", "n_test",
        _rnd("tvd", R).alias("tvd"),
        _rnd("max_bin_dev", R).alias("max_bin_dev"),
    )


def q_seasonal_profile_flags(spark, sf_dir):
    """Time-of-day profile detector, hash-gated: each row scored
    against its own period position's mean/std — the seasonal-aware
    flag a global z-score cannot produce (P6/P10/P12 conditioned on
    rn mod 48)."""
    from ..operators.robust import seasonal_profile_flags

    out = seasonal_profile_flags(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "rn", "pos",
        _rnd("pos_mean", R).alias("pos_mean"),
        _rnd("pos_z", R).alias("pos_z"),
        F.col("profile_flag").alias("flag"),
    )


def q_detector_consensus(spark, sf_dir):
    """Flagship detector ensemble, FULLY hash-gated: the six
    oracle-checkable detectors (W1 adaptive+persistence, Hampel,
    quantile band, diff z-score, EWMA, CUSUM) voting per row, with a
    ≥2-vote consensus flag — the P15 fusion idea
    (``src/run_hybrid.py:106-116``) restated over detectors whose
    every vote the gate can verify.

    Plan shape: the four native detectors CHAIN on one frame (same
    series partitioning — windows reuse the exchange, band/moment
    joins broadcast); only the two control-chart recursions join in
    from grouped-map stages.  Integer votes, so the fusion itself is
    exact."""
    from ..functions.control import cusum_chart, ewma_chart
    from ..operators.robust import (
        diff_zscore_flags,
        hampel_flags,
        quantile_band_flags,
    )

    s = _series(spark, sf_dir)
    base = adaptive_threshold_flags(s, k=2.0)
    base = persistence_filter(base, "flag", p=2)
    base = hampel_flags(base, half=12)
    base = quantile_band_flags(base)
    base = diff_zscore_flags(base)
    e = ewma_chart(s).select(
        "series_id", "rn", F.col("flag").alias("ewma_flag")
    )
    c = cusum_chart(s).select(
        "series_id", "rn", F.col("flag").alias("cusum_flag")
    )
    out = (
        base.select(
            "series_id", "rn",
            F.col("flag").alias("w1_flag"),
            "hampel_flag", "band_flag", "diff_flag",
        )
        .join(e, ["series_id", "rn"])
        .join(c, ["series_id", "rn"])
    )
    votes = (
        F.col("w1_flag") + F.col("hampel_flag") + F.col("band_flag")
        + F.col("diff_flag") + F.col("ewma_flag") + F.col("cusum_flag")
    )
    return out.select(
        "series_id", "rn",
        "w1_flag", "hampel_flag", "band_flag", "diff_flag",
        "ewma_flag", "cusum_flag",
        votes.alias("votes"),
        (votes >= F.lit(2)).cast("int").alias("consensus"),
    )


def q_seasonal_strength(spark, sf_dir):
    """Model-selection diagnostic, hash-gated: period-position variance
    decomposition F_s = max(0, 1 - Var(resid)/Var(x)) at the
    reference's period 48 — the number its STL panels communicate
    visually (``src/utils.py:5-29``), as one row per series."""
    from ..operators.diagnostics import seasonal_strength_frame

    out = seasonal_strength_frame(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "n",
        _rnd("var_total", R).alias("var_total"),
        _rnd("var_resid", R).alias("var_resid"),
        _rnd("seasonal_strength", R).alias("seasonal_strength"),
    )


def q_qq_plot(spark, sf_dir):
    """S7 frame 1: normal QQ pairs of the AR(1) residuals — the data
    behind ``stats.probplot`` in ``src/plotting.py:17-23``.  Filliben
    positions + Acklam PPF as shared-text SQL, so the query is fully
    hash-gated (the pixels are the only thing not reproduced)."""
    from ..functions.ar import ar1_forecast_native
    from ..operators.diagnostics import qq_frame

    rs = ar1_forecast_native(_series(spark, sf_dir)).filter(
        F.col("resid").isNotNull()
    )
    out = qq_frame(rs, col="resid")
    return out.select(
        "series_id", "qq_i",
        _rnd("theoretical_q", R).alias("theoretical_q"),
        _rnd("sample_q", R).alias("sample_q"),
    )


def q_histogram_fit(spark, sf_dir):
    """S7 frame 2: 50-bin density histogram of the AR(1) residuals with
    the ``norm.fit`` overlay at bin centers and the Fisher kurtosis —
    the data behind ``src/plotting.py:25-40``."""
    from ..functions.ar import ar1_forecast_native
    from ..operators.diagnostics import histogram_fit_frame

    rs = ar1_forecast_native(_series(spark, sf_dir)).filter(
        F.col("resid").isNotNull()
    )
    out = histogram_fit_frame(rs, col="resid", bins=50)
    return out.select(
        "series_id", "bin",
        _rnd("bin_center", R).alias("bin_center"),
        "n_bin",
        _rnd("density", R).alias("density"),
        _rnd("mu", R).alias("mu"),
        _rnd("sigma", R).alias("sigma"),
        _rnd("kurtosis", R).alias("kurtosis"),
        _rnd("normal_pdf", R).alias("normal_pdf"),
    )


def q_gp_train_subsample(spark, sf_dir):
    """P5, hash-gated: the GP's tail-of-train subsample window
    (``src/run_gp.py:61-67``) — selection logic under a hard oracle
    (the O(n³) fit it feeds stays rows-only via gp_forecast)."""
    from ..functions.gp import train_subsample

    out = train_subsample(_series(spark, sf_dir), train_frac=0.5,
                          max_train=1000)
    return out.select("series_id", "rn", _rnd("value", R).alias("value"))


def q_lstm_forecast(spark, sf_dir):
    """M5: per-series LSTM one-step-ahead forecast — real model on both
    backends (torch when present, from-scratch numpy BPTT otherwise;
    ``src/lstm_model.py:32-91``).  Seeded-stochastic training ⇒
    rows-only gate (SURVEY §5).  Config is cost-controlled: hidden 24,
    6 epochs of batch 96, last 1500 train windows (an explicit knob, like the GP's
    P5 subsample)."""
    from ..functions.lstm import lstm_forecast

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
    from ..functions import gp_forecast
    # optimize=True: bounded-grid LML hyperparameter selection — the
    # deterministic analogue of the reference's in-bounds MLE restarts
    out = gp_forecast(_series(spark, sf_dir), train_frac=0.5, optimize=True)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("pred_std", R).alias("pred_std"),
    )


def q_bocpd_changepoints(spark, sf_dir):
    from ..functions import bocpd_changepoints
    out = bocpd_changepoints(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("cp_prob", R).alias("cp_prob"),
        _rnd("cp_score", R).alias("cp_score"),
    )


def q_stl_robust(spark, sf_dir):
    from ..functions import stl_decompose
    out = stl_decompose(_series(spark, sf_dir), period=24)
    return out.select(
        "series_id", "rn",
        _rnd("trend", R).alias("trend"),
        _rnd("seasonal", R).alias("seasonal"),
        _rnd("resid", R).alias("resid"),
    )


ORACLES: dict[str, str] = {}

ORACLES["ar1_forecast"] = f"""
WITH {SQL_S},
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0)
SELECT l.series_id, l.rn,
       round(f.icept + f.slope * l.prev, {R}) AS pred_mean,
       round(l.value - (f.icept + f.slope * l.prev), {R}) AS resid
FROM lagged l JOIN fit f USING (series_id)
"""

ORACLES["sliding_windows"] = f"""
WITH {SQL_S},
pos AS (SELECT unnest(generate_series(0, 47)) AS pos)
SELECT s.series_id, s.rn, p.pos, round(src.value, {R}) AS x
FROM s CROSS JOIN pos p
JOIN s src ON src.series_id = s.series_id
          AND src.rn = s.rn - 48 + p.pos
WHERE s.rn >= 49
"""

ORACLES["rolling_stats"] = f"""
WITH {SQL_S}, {SQL_ROLL}
SELECT series_id, rn, round(roll_mean, {R}) AS roll_mean,
       round(roll_std, {R}) AS roll_std
FROM roll
"""

ORACLES["adaptive_flags"] = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_FLAGS}
SELECT series_id, rn, flag FROM flags
"""

ORACLES["mad_scores"] = f"""
WITH {SQL_S}, {SQL_MAD}
SELECT series_id, rn, round(z_mad, {R}) AS z_mad,
       CASE WHEN z_mad > 3.0 THEN 1 ELSE 0 END AS flag
FROM mads
"""

# exact-decimal moments (mirrors operators.scaling.global_zscore)
SQL_MO = """
mo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s GROUP BY 1
),
mo2 AS (
  SELECT series_id, n, s1 / n AS mu,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM mo
)
"""

ORACLES["global_zscore"] = f"""
WITH {SQL_S}, {SQL_MO}
SELECT s.series_id, s.rn,
       round((s.value - mo2.mu) / (mo2.sd + 1e-9), {R}) AS z_global
FROM s JOIN mo2 USING (series_id)
"""

ORACLES["median_center"] = f"""
WITH {SQL_S},
cmed AS (SELECT series_id, median(value) AS med FROM s GROUP BY 1)
SELECT s.series_id, s.rn, round(s.value - cmed.med, {R}) AS centered
FROM s JOIN cmed USING (series_id)
"""

# W2: rolling mean/std of AR(1) residuals (the reference's residual
# sigma, src/run_bsts.py:105-106).  Rolling CTEs mirror SQL_ROLL but run
# over the resid column, which is NULL at the series head — the decimal
# cumulative sums and counts skip NULLs identically on both engines, and
# the lag(·, 48) row offset counts ALL rows (incl. the null one), exactly
# like Spark's positional window frame.
ORACLES["residual_sigma"] = f"""
WITH {SQL_S},
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
rsd AS (
  SELECT l.series_id, l.rn,
         l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id)),
rcum AS (
  SELECT series_id, rn, resid,
         sum(CAST(resid AS DECIMAL(38,12))) OVER wr AS c1,
         sum(CAST(resid * resid AS DECIMAL(38,12))) OVER wr AS c2,
         count(resid) OVER wr AS cn
  FROM rsd
  WINDOW wr AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
rwin AS (
  SELECT series_id, rn, resid,
         CAST(c1 - coalesce(lag(c1, 48) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s1,
         CAST(c2 - coalesce(lag(c2, 48) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s2,
         cn - coalesce(lag(cn, 48) OVER wl, 0) AS cnt
  FROM rcum
  WINDOW wl AS (PARTITION BY series_id ORDER BY rn)),
rraw AS (
  SELECT series_id, rn, resid,
    CASE WHEN cnt >= 5 THEN s1 / cnt END AS m_raw,
    CASE WHEN cnt >= 5 AND cnt >= 2 THEN
      sqrt(greatest((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0))
    END AS s_raw
  FROM rwin),
rfill AS (
  SELECT series_id, rn, resid,
    first_value(m_raw IGNORE NULLS) OVER wb AS rs_mean,
    first_value(s_raw IGNORE NULLS) OVER wb AS rs_std
  FROM rraw
  WINDOW wb AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT series_id, rn,
       round(rs_mean, {R}) AS rs_mean,
       round(rs_std, {R}) AS rs_std,
       round(abs(resid) / (rs_std + 1e-6), {R}) AS score
FROM rfill
"""

ORACLES["fractional_split"] = f"""
WITH {SQL_S},
n AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1)
SELECT s.series_id, s.rn,
       CASE WHEN s.rn <= floor(n.n * 0.5) THEN 'Train'
            WHEN s.rn <= floor(n.n * 0.75) THEN 'Validation'
            ELSE 'Test' END AS split
FROM s JOIN n USING (series_id)
"""

ORACLES["label_windows"] = f"""
WITH {SQL_S}, {SQL_TRUTH}
SELECT series_id, rn, is_anomaly FROM truth
"""

SQL_FLAGS_K2 = """
flags2 AS (
  SELECT series_id, timestamp, rn, value,
         CASE WHEN abs(value - roll_mean) > 2.0 * (roll_std + 1e-6)
              THEN 1 ELSE 0 END AS flag
  FROM roll
)
"""

ORACLES["detect_events"] = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_FLAGS_K2}, {_sql_events_keyed("flags2", "ev", "flag", 3)}
SELECT series_id, event_id, start_idx, end_idx FROM ev
"""

SQL_TF = (
    SQL_S + "," + SQL_ROLL + "," + SQL_TRUTH + "," + SQL_FLAGS.replace(
        "FROM roll", "FROM roll"
    )
)

ORACLES["pointwise_metrics"] = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_TRUTH}, {SQL_FLAGS},
j AS (SELECT t.series_id, t.is_anomaly AS y, f.flag AS p
      FROM truth t JOIN flags f USING (series_id, rn)),
c AS (SELECT series_id,
             CAST(sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM j GROUP BY 1)
SELECT series_id, tp, fp, fn,
       round(tp / (tp + fp + 1e-9), {R}) AS precision,
       round(tp / (tp + fn + 1e-9), {R}) AS recall,
       round(2 * (tp/(tp+fp+1e-9)) * (tp/(tp+fn+1e-9))
             / ((tp/(tp+fp+1e-9)) + (tp/(tp+fn+1e-9)) + 1e-9), {R}) AS f1
FROM c
"""

_EVENT_TABLES = (
    _sql_events_keyed("truth", "tev", "is_anomaly", 3)
    + ","
    + _sql_events_keyed("flags", "pev", "flag", 3)
)

ORACLES["event_metrics"] = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_TRUTH}, {SQL_FLAGS}, {_EVENT_TABLES},
base AS (SELECT DISTINCT series_id FROM s),
nt AS (SELECT series_id, count(*) AS n_true_events FROM tev GROUP BY 1),
np AS (SELECT series_id, count(*) AS n_pred_events FROM pev GROUP BY 1),
ph AS (SELECT p.series_id, count(*) AS tp FROM pev p
       WHERE EXISTS (SELECT 1 FROM tev t WHERE t.series_id = p.series_id
                     AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
       GROUP BY 1),
th AS (SELECT t.series_id, count(*) AS tp_recall FROM tev t
       WHERE EXISTS (SELECT 1 FROM pev p WHERE p.series_id = t.series_id
                     AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
       GROUP BY 1),
m AS (
  SELECT b.series_id,
         coalesce(nt.n_true_events, 0) AS n_true_events,
         coalesce(np.n_pred_events, 0) AS n_pred_events,
         coalesce(ph.tp, 0) AS tp, coalesce(th.tp_recall, 0) AS tp_recall
  FROM base b LEFT JOIN nt USING (series_id) LEFT JOIN np USING (series_id)
       LEFT JOIN ph USING (series_id) LEFT JOIN th USING (series_id))
SELECT series_id, tp, n_pred_events - tp AS fp,
       n_true_events - tp_recall AS fn, n_true_events, n_pred_events,
       round(tp / (n_pred_events + 1e-9), {R}) AS precision,
       round(tp_recall / (n_true_events + 1e-9), {R}) AS recall,
       round(2 * (tp/(n_pred_events+1e-9)) * (tp_recall/(n_true_events+1e-9))
             / ((tp/(n_pred_events+1e-9)) + (tp_recall/(n_true_events+1e-9))
                + 1e-9), {R}) AS f1
FROM m
"""

ORACLES["business_metrics"] = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_TRUTH}, {SQL_FLAGS}, {_EVENT_TABLES},
base AS (SELECT DISTINCT series_id FROM s),
np AS (SELECT series_id, count(*) AS n_pred_events FROM pev GROUP BY 1),
ph AS (SELECT p.series_id, count(*) AS tp FROM pev p
       WHERE EXISTS (SELECT 1 FROM tev t WHERE t.series_id = p.series_id
                     AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
       GROUP BY 1),
dur AS (SELECT series_id,
               (floor(epoch(max(timestamp))) - floor(epoch(min(timestamp))))
               / 86400.0 AS duration_days
        FROM s GROUP BY 1),
th AS (SELECT t.series_id, t.start_idx AS t_start,
              min(p.start_idx) AS first_pred_start
       FROM tev t JOIN pev p ON p.series_id = t.series_id
            AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx
       GROUP BY 1, 2),
lat AS (SELECT th.series_id,
               median((floor(epoch(sp.timestamp)) - floor(epoch(st.timestamp)))
                      / 60.0) AS median_latency_minutes
        FROM th
        JOIN s st ON st.series_id = th.series_id AND st.rn = th.t_start
        JOIN s sp ON sp.series_id = th.series_id AND sp.rn = th.first_pred_start
        GROUP BY 1)
SELECT b.series_id,
       coalesce(np.n_pred_events, 0) - coalesce(ph.tp, 0) AS fp_count,
       round(dur.duration_days, {R}) AS duration_days,
       round(CASE WHEN dur.duration_days > 0
                  THEN (coalesce(np.n_pred_events,0) - coalesce(ph.tp,0))
                       / dur.duration_days
                  ELSE 0.0 END, {R}) AS fp_per_day,
       round(lat.median_latency_minutes, {R}) AS median_latency_minutes
FROM base b LEFT JOIN np USING (series_id) LEFT JOIN ph USING (series_id)
     LEFT JOIN dur USING (series_id) LEFT JOIN lat USING (series_id)
"""

_KS = ", ".join(str(k) for k in k_grid())

ORACLES["threshold_sweep"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH},
grid AS (SELECT unnest([{_KS}]) AS k),
fl AS (SELECT m.series_id, g.k, t.is_anomaly AS y,
              CASE WHEN m.z_mad > g.k THEN 1 ELSE 0 END AS p
       FROM mads m JOIN truth t USING (series_id, rn) CROSS JOIN grid g),
per_k AS (SELECT series_id, k,
                 sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS fn,
                 avg(p) AS rate
          FROM fl GROUP BY 1, 2),
scored AS (SELECT *,
                  tp/(tp+fp+1e-9) AS precision, tp/(tp+fn+1e-9) AS recall,
                  2*(tp/(tp+fp+1e-9))*(tp/(tp+fn+1e-9))
                  / ((tp/(tp+fp+1e-9)) + (tp/(tp+fn+1e-9)) + 1e-9) AS f1
           FROM per_k WHERE rate <= 0.10),
ranked AS (SELECT *, row_number() OVER (PARTITION BY series_id
                                        ORDER BY f1 DESC, k ASC) AS rk
           FROM scored)
SELECT series_id, round(k, {R}) AS best_k, round(f1, {R}) AS f1,
       round(rate, {R}) AS rate
FROM ranked WHERE rk = 1
"""

SQL_PR = """
prj AS (
  SELECT m.series_id, m.z_mad AS score, t.is_anomaly AS y
  FROM mads m JOIN truth t USING (series_id, rn)
),
prcum AS (
  SELECT series_id, score,
         sum(y) OVER w AS cum_tp,
         count(*) OVER w - sum(y) OVER w AS cum_fp,
         sum(y) OVER (PARTITION BY series_id) AS n_pos
  FROM prj
  WINDOW w AS (PARTITION BY series_id ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
prt AS (
  SELECT series_id, score,
         CAST(max(cum_tp) AS BIGINT) AS tp,
         CAST(max(cum_fp) AS BIGINT) AS fp,
         CAST(max(n_pos) AS BIGINT) AS n_pos
  FROM prcum GROUP BY 1, 2
)
"""

ORACLES["pr_curve"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH}, {SQL_PR}
SELECT series_id, round(score, {R}) AS threshold, tp, fp,
       round(tp * 1.0 / (tp + fp), {R}) AS precision,
       round(tp / (n_pos + 1e-9), {R}) AS recall
FROM prt
"""

ORACLES["average_precision"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH}, {SQL_PR},
stepped AS (
  SELECT series_id,
         tp * 1.0 / (tp + fp) AS precision,
         tp / (n_pos + 1e-9) AS recall,
         coalesce(lag(tp / (n_pos + 1e-9))
                  OVER (PARTITION BY series_id ORDER BY score DESC), 0.0)
           AS prev_recall
  FROM prt
)
SELECT series_id,
       round(CAST(sum(CAST((recall - prev_recall) * precision
                           AS DECIMAL(38,12))) AS DOUBLE), {R})
         AS average_precision
FROM stepped GROUP BY 1
"""

ORACLES["threshold_sweep_event"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH},
{_sql_events_keyed("truth", "tev", "is_anomaly", 3)},
grid AS (SELECT unnest([{_KS}]) AS k),
fl0 AS (
  SELECT m.series_id, m.rn, g.k,
         CASE WHEN m.z_mad > g.k THEN 1 ELSE 0 END AS f
  FROM mads m CROSS JOIN grid g
),
pmark AS (
  SELECT *, sum(chg) OVER (PARTITION BY series_id, k ORDER BY rn) AS run_id
  FROM (
    SELECT *, CASE WHEN lag(f) OVER w IS NULL OR f <> lag(f) OVER w
                   THEN 1 ELSE 0 END AS chg
    FROM fl0
    WINDOW w AS (PARTITION BY series_id, k ORDER BY rn)
  )
),
pers AS (
  SELECT series_id, rn, k,
         CASE WHEN f = 1
                   AND count(*) OVER (PARTITION BY series_id, k, run_id) < 2
              THEN 0 ELSE f END AS f
  FROM pmark
),
rate AS (SELECT series_id, k, avg(f) AS rate FROM pers GROUP BY 1, 2),
prle AS (
  SELECT series_id, k, run_id, min(rn) AS start_idx, max(rn) AS end_idx
  FROM (
    SELECT series_id, rn, k, f,
           sum(chg) OVER (PARTITION BY series_id, k ORDER BY rn) AS run_id
    FROM (
      SELECT series_id, rn, k, f,
             CASE WHEN lag(f) OVER w IS NULL OR f <> lag(f) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM pers
      WINDOW w AS (PARTITION BY series_id, k ORDER BY rn)
    )
  ) WHERE f = 1
  GROUP BY series_id, k, run_id
),
pev AS (
  SELECT series_id, k, min(start_idx) AS start_idx, max(end_idx) AS end_idx
  FROM (
    SELECT series_id, k, start_idx, end_idx,
           sum(brk) OVER (PARTITION BY series_id, k ORDER BY start_idx) AS evt
    FROM (
      SELECT *, CASE WHEN lag(end_idx) OVER we IS NULL
                      OR start_idx - lag(end_idx) OVER we > 4
                     THEN 1 ELSE 0 END AS brk
      FROM prle
      WINDOW we AS (PARTITION BY series_id, k ORDER BY start_idx)
    )
  )
  GROUP BY series_id, k, evt
),
ntr AS (SELECT series_id, count(*) AS n_true FROM tev GROUP BY 1),
npd AS (SELECT series_id, k, count(*) AS n_pred FROM pev GROUP BY 1, 2),
tpp AS (
  SELECT p.series_id, p.k, count(*) AS tp FROM pev p
  WHERE EXISTS (SELECT 1 FROM tev t WHERE t.series_id = p.series_id
                AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
  GROUP BY 1, 2
),
tpr AS (
  SELECT p.series_id, p.k, count(DISTINCT t.event_id) AS tp_recall
  FROM pev p JOIN tev t ON t.series_id = p.series_id
       AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx
  GROUP BY 1, 2
),
m AS (
  SELECT r.series_id, r.k, r.rate,
         coalesce(npd.n_pred, 0) AS n_pred,
         coalesce(tpp.tp, 0) AS tp,
         coalesce(tpr.tp_recall, 0) AS tp_recall,
         coalesce(ntr.n_true, 0) AS n_true
  FROM rate r
  LEFT JOIN npd USING (series_id, k)
  LEFT JOIN tpp USING (series_id, k)
  LEFT JOIN tpr USING (series_id, k)
  LEFT JOIN ntr USING (series_id)
),
sc AS (
  SELECT *,
         tp / (n_pred + 1e-9) AS precision,
         tp_recall / (n_true + 1e-9) AS recall,
         2 * (tp/(n_pred+1e-9)) * (tp_recall/(n_true+1e-9))
         / ((tp/(n_pred+1e-9)) + (tp_recall/(n_true+1e-9)) + 1e-9) AS f1
  FROM m WHERE rate <= 0.10
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY f1 DESC, k ASC) AS rk
  FROM sc
)
SELECT series_id, round(k, {R}) AS best_k, round(f1, {R}) AS f1,
       round(rate, {R}) AS rate
FROM ranked WHERE rk = 1
"""

ORACLES["global_moments"] = f"""
WITH {SQL_S},
gm0 AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
gmu AS (SELECT series_id, s1 / n AS mu FROM gm0),
ag AS (
  SELECT s.series_id, count(*) AS n,
         CAST(sum(CAST(s.value AS DECIMAL(38,12))) AS DOUBLE) AS t1,
         CAST(sum(CAST(s.value * s.value AS DECIMAL(38,12))) AS DOUBLE) AS t2,
         round(median(s.value), {R}) AS median,
         round(min(s.value), {R}) AS vmin,
         round(max(s.value), {R}) AS vmax,
         CAST(sum(CAST((s.value - gmu.mu) * (s.value - gmu.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS m2s,
         CAST(sum(CAST(((s.value - gmu.mu) * (s.value - gmu.mu))
                       * ((s.value - gmu.mu) * (s.value - gmu.mu))
                       AS DECIMAL(38,12))) AS DOUBLE) AS m4s
  FROM s JOIN gmu USING (series_id)
  GROUP BY s.series_id)
SELECT series_id, n,
       round(t1 / n, {R}) AS mean,
       round(sqrt(greatest((t2 - t1 * t1 / n) / (n - 1), 0.0)), {R}) AS std,
       median, vmin, vmax,
       round((m4s / n) / ((m2s / n) * (m2s / n)) - 3.0, {R}) AS kurtosis
FROM ag
"""

# unrounded per-(series, lag) ACF from exact decimal sums — shared by
# the acf oracle and the pacf Durbin–Levinson unroll
SQL_ACF_U = """
lags AS (SELECT unnest(generate_series(1, 10)) AS lag),
shifted AS (
  SELECT s.series_id, l.lag, s.value,
         lag(s.value, l.lag) OVER (PARTITION BY s.series_id, l.lag
                                   ORDER BY s.rn) AS prev
  FROM s CROSS JOIN lags l),
am AS (
  SELECT series_id, lag, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM shifted WHERE prev IS NOT NULL
  GROUP BY 1, 2),
acfu AS (
  SELECT series_id, lag,
         (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS acf
  FROM am)
"""

ORACLES["acf"] = f"""
WITH {SQL_S}, {SQL_ACF_U}
SELECT series_id, lag, round(acf, {R}) AS acf FROM acfu
"""

# W8, statsmodels estimator: global mean, constant denominator —
# mirrors operators.acf.acf_statsmodels
ORACLES["acf_statsmodels"] = f"""
WITH {SQL_S},
smo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
smu AS (SELECT series_id, s1 / n AS mu FROM smo),
sden AS (
  SELECT s.series_id,
         CAST(sum(CAST((s.value - smu.mu) * (s.value - smu.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS den
  FROM s JOIN smu USING (series_id) GROUP BY 1),
slags AS (SELECT unnest(generate_series(1, 10)) AS lag),
sshift AS (
  SELECT s.series_id, l.lag, s.value, smu.mu,
         lag(s.value, l.lag) OVER (PARTITION BY s.series_id, l.lag
                                   ORDER BY s.rn) AS prev
  FROM s CROSS JOIN slags l JOIN smu USING (series_id)),
snum AS (
  SELECT series_id, lag,
         CAST(sum(CAST((value - mu) * (prev - mu) AS DECIMAL(38,12)))
              AS DOUBLE) AS num
  FROM sshift WHERE prev IS NOT NULL GROUP BY 1, 2)
SELECT n.series_id, n.lag, round(n.num / d.den, {R}) AS acf
FROM snum n JOIN sden d USING (series_id)
"""


def _pacf_oracle(max_lag: int = 10) -> str:
    """DuckDB mirror of operators.acf.pacf: pivot acfu wide, chain the
    SAME generated Durbin–Levinson select stages, unpivot phi_k_k."""
    from ..operators.acf import durbin_levinson_steps

    pivots = ",\n         ".join(
        f"max(CASE WHEN lag = {k} THEN acf END) AS r{k}"
        for k in range(1, max_lag + 1)
    )
    ctes = [f"wide AS (\n  SELECT series_id,\n         {pivots}\n  FROM acfu GROUP BY 1)"]
    prev = "wide"
    for i, step in enumerate(durbin_levinson_steps(max_lag)):
        cols = ",\n         ".join(
            f"{expr} AS {name}" for name, expr in step.items()
        )
        ctes.append(f"lvl{i} AS (\n  SELECT *,\n         {cols}\n  FROM {prev})")
        prev = f"lvl{i}"
    unpivot = "\nUNION ALL\n".join(
        f"SELECT series_id, {k} AS lag, phi_{k}_{k} AS pacf FROM {prev}"
        for k in range(1, max_lag + 1)
    )
    return (
        f"WITH {SQL_S}, {SQL_ACF_U},\n"
        + ",\n".join(ctes)
        + f"\nSELECT series_id, lag, round(pacf, {R}) AS pacf FROM ({unpivot})"
    )


ORACLES["pacf"] = _pacf_oracle(10)

SQL_RESAMPLE = """
rs AS (
  SELECT series_id, date_trunc('hour', timestamp) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / count(value)
           AS value
  FROM s GROUP BY 1, 2
),
rsn AS (
  SELECT series_id, bucket, value,
         row_number() OVER (PARTITION BY series_id ORDER BY bucket) AS brn
  FROM rs
)
"""

SQL_DECOMP = """
tr AS (
  SELECT series_id, bucket, brn, value,
    CASE WHEN count(value) OVER wc = 25 THEN
      (CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wa AS DOUBLE)
       + CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wb AS DOUBLE)) / 48.0
    END AS trend,
    hour(bucket) AS phase
  FROM rsn
  WINDOW wa AS (PARTITION BY series_id ORDER BY brn
                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
         wb AS (PARTITION BY series_id ORDER BY brn
                ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING),
         wc AS (PARTITION BY series_id ORDER BY brn
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
srw AS (
  SELECT series_id, bucket, value, trend, phase,
         CAST(sum(CAST(value - trend AS DECIMAL(38,12)))
              OVER (PARTITION BY series_id, phase) AS DOUBLE)
         / count(value - trend) OVER (PARTITION BY series_id, phase) AS sraw
  FROM tr
),
ph AS (
  SELECT series_id, phase,
         CAST(sum(CAST(value - trend AS DECIMAL(38,12))) AS DOUBLE)
         / count(value - trend) AS pm
  FROM tr GROUP BY 1, 2
),
phm AS (
  SELECT series_id,
         CAST(sum(CAST(pm AS DECIMAL(38,12))) AS DOUBLE) / count(pm) AS pm_mean
  FROM ph GROUP BY 1
),
dc AS (
  SELECT srw.series_id, srw.bucket, srw.value, srw.trend,
         srw.sraw - phm.pm_mean AS seasonal,
         srw.value - srw.trend - (srw.sraw - phm.pm_mean) AS resid
  FROM srw JOIN phm USING (series_id)
)
"""

ORACLES["resample_decompose"] = f"""
WITH {SQL_S}, {SQL_RESAMPLE}, {SQL_DECOMP}
SELECT series_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(value, {R}) AS value, round(trend, {R}) AS trend,
       round(seasonal, {R}) AS seasonal, round(resid, {R}) AS resid
FROM dc
"""

# grid completion + linear interpolation — mirrors
# operators.decompose.fill_gaps (grid = generate_series over per-series
# bounds; neighbors via last_value IGNORE NULLS over asc/desc order)
ORACLES["resample_fill"] = f"""
WITH {{SQL_S}}, {{SQL_RESAMPLE}},
bb AS (
  SELECT series_id, CAST(floor(epoch(bucket)) AS BIGINT) AS ts_s, value
  FROM rs
),
bounds AS (
  SELECT series_id, min(ts_s) AS lo, max(ts_s) AS hi FROM bb GROUP BY 1
),
grid AS (
  SELECT series_id, unnest(generate_series(lo, hi, 3600)) AS ts_s
  FROM bounds
),
j AS (
  SELECT g.series_id, g.ts_s, bb.value AS v
  FROM grid g LEFT JOIN bb ON bb.series_id = g.series_id
                          AND bb.ts_s = g.ts_s
),
n AS (
  SELECT series_id, ts_s, v,
         last_value(v IGNORE NULLS) OVER wa AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN ts_s END IGNORE NULLS)
           OVER wa AS pt,
         last_value(v IGNORE NULLS) OVER wd AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN ts_s END IGNORE NULLS)
           OVER wd AS nt
  FROM j
  WINDOW wa AS (PARTITION BY series_id ORDER BY ts_s
                ROWS UNBOUNDED PRECEDING),
         wd AS (PARTITION BY series_id ORDER BY ts_s DESC
                ROWS UNBOUNDED PRECEDING)
)
SELECT series_id, ts_s,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap,
       round(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * ((ts_s - pt) * 1.0 / (nt - pt))
                  ELSE coalesce(pv, nv) END, {R}) AS value
FROM n
""".replace("{SQL_S}", SQL_S).replace("{SQL_RESAMPLE}", SQL_RESAMPLE)

ORACLES["interval_exceedance"] = f"""
WITH {SQL_S}, {SQL_ROLL}
SELECT series_id, rn,
       round(roll_mean - 3.0 * roll_std, {R}) AS lower,
       round(roll_mean + 3.0 * roll_std, {R}) AS upper,
       CASE WHEN value < roll_mean - 3.0 * roll_std
              OR value > roll_mean + 3.0 * roll_std THEN 1 ELSE 0 END AS exceed
FROM roll
"""

ORACLES["ensemble_fusion"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_ROLL}, {SQL_MO},
fused AS (
  SELECT m.series_id, m.rn,
         (m.z_mad
          + abs((m.value - mo2.mu) / (mo2.sd + 1e-9))
          + abs(m.value - r.roll_mean) / (r.roll_std + 1e-6)) / 3.0 AS combined
  FROM mads m JOIN roll r USING (series_id, rn) JOIN mo2 ON mo2.series_id = m.series_id)
SELECT series_id, rn, round(combined, {R}) AS combined_score,
       CASE WHEN combined > 3.0 THEN 1 ELSE 0 END AS flag
FROM fused
"""


# ---- walk_forward_cv_ar1: fold-fanned closed-form AR(1) + MAD score +
#      horizon slice + fold-keyed event metrics + decimal fold means ----
_WF_TRAIN = "rn >= 2 AND rn <= nt"

ORACLES["walk_forward_cv_ar1"] = f"""
WITH {SQL_S}, {SQL_TRUTH},
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
fr AS (SELECT unnest([0.5, 0.625, 0.75]) AS frac),
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
fan AS (
  -- UNFILTERED fold fan-out: the MAD scale population is the residual
  -- of EVERY row under the fold's fit (fit-on-train, score-everything,
  -- evaluate-horizon — the reference contract); the horizon slice
  -- happens only in evh below
  SELECT l.series_id, l.rn, l.value, l.prev, f.frac, nn.n,
         greatest(CAST(floor(nn.n * f.frac) AS BIGINT), 3) AS nt
  FROM lagged l CROSS JOIN fr f JOIN nn USING (series_id)),
wsum AS (
  SELECT series_id, frac,
         count(CASE WHEN {_WF_TRAIN} THEN 1 END) AS cnt,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN prev END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN value END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN prev * prev END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN value * prev END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM fan GROUP BY 1, 2),
wfit0 AS (
  SELECT series_id, frac, cnt, sx, sy,
         (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) AS slope
  FROM wsum),
wfit AS (
  SELECT series_id, frac, slope, (sy - slope * sx) / cnt AS icept FROM wfit0),
wpr AS (
  SELECT fan.series_id, fan.frac, fan.rn, fan.n,
         fan.value - (w.icept + w.slope * fan.prev) AS resid
  FROM fan JOIN wfit w USING (series_id, frac)),
wmd AS (SELECT series_id, frac, median(resid) AS med FROM wpr GROUP BY 1, 2),
wmad AS (
  SELECT p.series_id, p.frac, median(abs(p.resid - m.med)) AS mad
  FROM wpr p JOIN wmd m USING (series_id, frac) GROUP BY 1, 2),
wsc AS (
  SELECT p.series_id, p.frac, p.rn, p.n,
         abs(p.resid - m.med) / (1.4826 * d.mad + 1e-9) AS score
  FROM wpr p JOIN wmd m USING (series_id, frac)
       JOIN wmad d USING (series_id, frac)),
evh AS (
  SELECT w.series_id, w.frac, w.rn,
         CASE WHEN w.score > 4.0 THEN 1 ELSE 0 END AS flag,
         t.is_anomaly
  FROM wsc w JOIN truth t USING (series_id, rn)
  WHERE w.rn > floor(w.n * w.frac)
    AND w.rn <= floor(w.n * (w.frac + 0.125))),
{_sql_events_keyed("evh", "tevf", "is_anomaly", 3, "series_id, frac")},
{_sql_events_keyed("evh", "pevf", "flag", 3, "series_id, frac", min_len=2)},
fbase AS (SELECT DISTINCT series_id, frac FROM evh),
fnt AS (SELECT series_id, frac, count(*) AS n_true FROM tevf GROUP BY 1, 2),
fnp AS (SELECT series_id, frac, count(*) AS n_pred FROM pevf GROUP BY 1, 2),
fph AS (SELECT p.series_id, p.frac, count(*) AS tp FROM pevf p
        WHERE EXISTS (SELECT 1 FROM tevf t
                      WHERE t.series_id = p.series_id AND t.frac = p.frac
                        AND p.end_idx >= t.start_idx
                        AND p.start_idx <= t.end_idx)
        GROUP BY 1, 2),
fth AS (SELECT t.series_id, t.frac, count(*) AS tp_recall FROM tevf t
        WHERE EXISTS (SELECT 1 FROM pevf p
                      WHERE p.series_id = t.series_id AND p.frac = t.frac
                        AND p.end_idx >= t.start_idx
                        AND p.start_idx <= t.end_idx)
        GROUP BY 1, 2),
fm AS (
  SELECT b.series_id, b.frac,
         coalesce(fnt.n_true, 0) AS n_true,
         coalesce(fnp.n_pred, 0) AS n_pred,
         coalesce(fph.tp, 0) AS tp, coalesce(fth.tp_recall, 0) AS tp_recall
  FROM fbase b LEFT JOIN fnt USING (series_id, frac)
       LEFT JOIN fnp USING (series_id, frac)
       LEFT JOIN fph USING (series_id, frac)
       LEFT JOIN fth USING (series_id, frac)),
pf AS (
  SELECT series_id, frac,
         tp / (n_pred + 1e-9) AS precision,
         tp_recall / (n_true + 1e-9) AS recall,
         2 * (tp/(n_pred+1e-9)) * (tp_recall/(n_true+1e-9))
         / ((tp/(n_pred+1e-9)) + (tp_recall/(n_true+1e-9)) + 1e-9) AS f1
  FROM fm)
SELECT series_id, count(*) AS n_folds,
       round(CAST(sum(CAST(f1 AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_f1,
       round(CAST(sum(CAST(precision AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_precision,
       round(CAST(sum(CAST(recall AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_recall
FROM pf GROUP BY 1
"""

# ---- forecast_accuracy: AR(1) test-split backtest metrics ----
ORACLES["forecast_accuracy"] = f"""
WITH {SQL_S},
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
fa AS (
  SELECT l.series_id, l.value AS a,
         f.icept + f.slope * l.prev AS p
  FROM lagged l JOIN fit f USING (series_id) JOIN nn USING (series_id)
  WHERE l.prev IS NOT NULL AND l.rn > floor(nn.n * 0.75)),
ag AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(abs(a - p) / (abs(a) + 1e-9) AS DECIMAL(38,12)))
              AS DOUBLE) AS sape,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM fa GROUP BY 1)
SELECT series_id, n,
       round(sae / n, {R}) AS mae,
       round(sqrt(sse / n), {R}) AS rmse,
       round(sape / n, {R}) AS mape,
       round(ssm / n, {R}) AS smape
FROM ag
"""

# ---- revenue_anomaly: star-schema joins -> daily revenue series ->
#      AR(1)+MAD scoring (mirrors q_revenue_anomaly) ----
ORACLES["revenue_anomaly"] = f"""
WITH rev AS (
  SELECT r.r_name AS series_id, date_trunc('day', o.o_orderdate) AS d,
         CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(38,12))) AS DOUBLE) AS value
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2),
sr AS (
  SELECT series_id, d, value,
         row_number() OVER (PARTITION BY series_id ORDER BY d) AS rn
  FROM rev),
lagged AS (
  SELECT series_id, rn, d, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM sr),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
rsd AS (
  SELECT l.series_id, l.rn, l.d, l.value,
         l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id)),
rmed AS (SELECT series_id, median(resid) AS med FROM rsd GROUP BY 1),
rmad AS (
  SELECT r.series_id, median(abs(r.resid - m.med)) AS mad
  FROM rsd r JOIN rmed m USING (series_id) GROUP BY 1)
SELECT r.series_id, r.rn, strftime(r.d, '%Y-%m-%d') AS day,
       round(r.value, {R}) AS revenue,
       round(abs(r.resid - m.med) / (1.4826 * d2.mad + 1e-9), {R}) AS score,
       CASE WHEN abs(r.resid - m.med) / (1.4826 * d2.mad + 1e-9) > 3.0
            THEN 1 ELSE 0 END AS flag
FROM rsd r JOIN rmed m USING (series_id) JOIN rmad d2 USING (series_id)
"""

# ---- gp_train_subsample: P5 tail-of-train window (src/run_gp.py:61-67):
#      pos is 0-based (rn - min rn); keep lo <= pos < n_train with
#      n_train = max(floor(n*frac), 2), lo = max(n_train - 1000, 0) ----
ORACLES["gp_train_subsample"] = f"""
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

# ---- kalman_forecast_fixed: fixed-(q,r) local-level filter as a scalar
#      recursion — DuckDB RECURSIVE CTE, one step per rn.  Constants and
#      expression trees mirror functions.kalman.kalman_fixed textually
#      (same IEEE double ops on identical inputs -> bit-identical). ----
_KF_Q, _KF_R, _KF_P0 = "0.1", "1.0", "10.0"
_KF_Z = "1.959963986120195"  # repr(_norm_ppf(0.975)), shared constant

ORACLES["kalman_forecast_fixed"] = f"""
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

# ---- holt_winters_fixed: additive triple exponential smoothing with
#      fixed dyadic (α,β,γ) — the seasonal state is a DOUBLE[] column
#      rotated by list_append(sl[2:], s_new); l_new's tree appears
#      three times (identical IEEE trees give identical values).
#      Textually in lockstep with functions/holt_winters.py. ----
ORACLES["holt_winters_fixed"] = f"""
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

# ---- ewma_flags / cusum_changepoints: scalar control-chart
#      recursions — RECURSIVE CTEs over the exact-decimal moment CTE
#      (SQL_MO), expression trees textually in lockstep with
#      functions/control.py (dyadic constants throughout). ----
ORACLES["ewma_flags"] = f"""
WITH RECURSIVE {SQL_S}, {SQL_MO},
rec AS (
  SELECT s.series_id, s.rn,
         CAST(m.mu + 0.25 * (s.value - m.mu) AS DOUBLE) AS z,
         CAST(0.5625 AS DOUBLE) AS w,
         m.mu AS mu, m.sd AS sd
  FROM s JOIN mo2 m ON m.series_id = s.series_id WHERE s.rn = 1
  UNION ALL
  SELECT s.series_id, s.rn,
         r.z + 0.25 * (s.value - r.z) AS z,
         r.w * 0.5625 AS w,
         r.mu, r.sd
  FROM rec r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
),
lim AS (
  SELECT series_id, rn, z,
         mu + 3.0 * sd * sqrt((0.25 / (2.0 - 0.25)) * (1.0 - w)) AS ucl,
         mu - 3.0 * sd * sqrt((0.25 / (2.0 - 0.25)) * (1.0 - w)) AS lcl
  FROM rec
)
SELECT series_id, rn, round(z, {R}) AS ewma,
       round(ucl, {R}) AS ucl, round(lcl, {R}) AS lcl,
       CAST(CASE WHEN z > ucl OR z < lcl THEN 1 ELSE 0 END AS INT) AS flag
FROM lim
"""

ORACLES["cusum_changepoints"] = f"""
WITH RECURSIVE {SQL_S}, {SQL_MO},
sz AS (
  SELECT s.series_id, s.rn,
         (s.value - m.mu) / (m.sd + 1e-9) AS z
  FROM s JOIN mo2 m ON m.series_id = s.series_id
),
rec AS (
  SELECT series_id, rn,
         CAST(greatest(0.0, 0.0 + (z - 0.5)) AS DOUBLE) AS sp,
         CAST(greatest(0.0, 0.0 + (-z - 0.5)) AS DOUBLE) AS sn
  FROM sz WHERE rn = 1
  UNION ALL
  SELECT z.series_id, z.rn,
         greatest(0.0, r.sp + (z.z - 0.5)) AS sp,
         greatest(0.0, r.sn + (-z.z - 0.5)) AS sn
  FROM rec r JOIN sz z ON z.series_id = r.series_id AND z.rn = r.rn + 1
)
SELECT series_id, rn, round(sp, {R}) AS cusum_pos,
       round(sn, {R}) AS cusum_neg,
       CAST(CASE WHEN sp > 5.0 OR sn > 5.0 THEN 1 ELSE 0 END AS INT)
         AS flag
FROM rec
"""

# ---- cusum_alarms: the CUSUM recursion with reset-on-alarm carried
#      through the CTE (raw statistic emitted, carry zeroed on
#      crossing — mirrors functions.control.cusum_alarms). ----
ORACLES["cusum_alarms"] = f"""
WITH RECURSIVE {SQL_S}, {SQL_MO},
sz AS (
  SELECT s.series_id, s.rn,
         (s.value - m.mu) / (m.sd + 1e-9) AS z
  FROM s JOIN mo2 m ON m.series_id = s.series_id
),
rec AS (
  SELECT series_id, rn,
         CAST(greatest(0.0, 0.0 + (z - 0.5)) AS DOUBLE) AS sp_raw,
         CAST(greatest(0.0, 0.0 + (-z - 0.5)) AS DOUBLE) AS sn_raw,
         CAST(CASE WHEN greatest(0.0, 0.0 + (z - 0.5)) > 5.0
              THEN 0.0 ELSE greatest(0.0, 0.0 + (z - 0.5)) END
              AS DOUBLE) AS sp,
         CAST(CASE WHEN greatest(0.0, 0.0 + (-z - 0.5)) > 5.0
              THEN 0.0 ELSE greatest(0.0, 0.0 + (-z - 0.5)) END
              AS DOUBLE) AS sn
  FROM sz WHERE rn = 1
  UNION ALL
  SELECT z.series_id, z.rn,
         greatest(0.0, r.sp + (z.z - 0.5)) AS sp_raw,
         greatest(0.0, r.sn + (-z.z - 0.5)) AS sn_raw,
         CASE WHEN greatest(0.0, r.sp + (z.z - 0.5)) > 5.0
              THEN 0.0 ELSE greatest(0.0, r.sp + (z.z - 0.5)) END AS sp,
         CASE WHEN greatest(0.0, r.sn + (-z.z - 0.5)) > 5.0
              THEN 0.0 ELSE greatest(0.0, r.sn + (-z.z - 0.5)) END AS sn
  FROM rec r JOIN sz z ON z.series_id = r.series_id AND z.rn = r.rn + 1
)
SELECT series_id, rn, 'up' AS direction, round(sp_raw, {R}) AS stat
FROM rec WHERE sp_raw > 5.0
UNION ALL
SELECT series_id, rn, 'down' AS direction, round(sn_raw, {R}) AS stat
FROM rec WHERE sn_raw > 5.0
"""

# ---- hampel_flags: centered rolling median/MAD via sorted in-frame
#      lists — the floor((n+1)/2.0) indexing is load-bearing (Spark's
#      double->int cast truncates, DuckDB's rounds). ----
ORACLES["hampel_flags"] = f"""
WITH {SQL_S},
win AS (
  SELECT series_id, rn, value,
         list_sort(list(value) OVER (
           PARTITION BY series_id ORDER BY rn
           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)) AS a
  FROM s),
med AS (
  SELECT series_id, rn, value, a,
         (a[CAST(floor((len(a) + 1) / 2.0) AS INT)] +
          a[CAST(floor(len(a) / 2.0) + 1 AS INT)]) / 2.0 AS roll_med
  FROM win),
madx AS (
  SELECT series_id, rn, value, roll_med,
         list_sort(list_transform(a, x -> abs(x - roll_med))) AS d
  FROM med),
madf AS (
  SELECT series_id, rn, value, roll_med,
         (d[CAST(floor((len(d) + 1) / 2.0) AS INT)] +
          d[CAST(floor(len(d) / 2.0) + 1 AS INT)]) / 2.0 AS roll_mad
  FROM madx)
SELECT series_id, rn, round(roll_med, {R}) AS roll_med,
       round(roll_mad, {R}) AS roll_mad,
       CAST(CASE WHEN abs(value - roll_med)
                      > 3.0 * (1.4826 * roll_mad + 1e-9)
            THEN 1 ELSE 0 END AS INT) AS flag
FROM madf
"""

# ---- quantile_flags: exact-percentile band (DuckDB quantile_cont ≡
#      Spark percentile: linear interpolation at (n-1)·q). ----
ORACLES["quantile_flags"] = f"""
WITH {SQL_S},
bands AS (
  SELECT series_id, quantile_cont(value, 0.02) AS band_lo,
         quantile_cont(value, 0.98) AS band_hi
  FROM s GROUP BY 1)
SELECT s.series_id, s.rn,
       round(band_lo, {R}) AS band_lo,
       round(band_hi, {R}) AS band_hi,
       CAST(CASE WHEN s.value < band_lo OR s.value > band_hi
            THEN 1 ELSE 0 END AS INT) AS flag
FROM s JOIN bands USING (series_id)
"""

# ---- diff_zscore: first differences z-scored against their own
#      exact-decimal moments (the SQL_MO algebra over Δy). ----
ORACLES["diff_zscore"] = f"""
WITH {SQL_S},
dif AS (
  SELECT series_id, rn,
         value - lag(value) OVER (PARTITION BY series_id ORDER BY rn)
           AS diff
  FROM s),
dmo AS (
  SELECT series_id, count(diff) AS n,
         CAST(sum(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(diff * diff AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM dif WHERE diff IS NOT NULL GROUP BY 1),
dmo2 AS (
  SELECT series_id, s1 / n AS mu,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM dmo)
SELECT d.series_id, d.rn,
       round(d.diff, {R}) AS diff,
       round((d.diff - m.mu) / (m.sd + 1e-9), {R}) AS diff_z,
       CAST(CASE WHEN d.diff IS NULL THEN 0
                 WHEN abs((d.diff - m.mu) / (m.sd + 1e-9)) > 4.0
                 THEN 1 ELSE 0 END AS INT) AS flag
FROM dif d JOIN dmo2 m USING (series_id)
"""

# ---- cross_correlation: per-(pair, lag) Pearson on positionally
#      aligned series, decimal-exact moments (the acf algebra over
#      pairs; negative lag = lead). ----
ORACLES["cross_correlation"] = f"""
WITH {SQL_S},
mo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s GROUP BY 1),
mm AS (SELECT series_id, s1 / n AS mu,
              sqrt((s2 - s1 * s1 / n) / n) AS sd
       FROM mo),
lags AS (SELECT unnest(generate_series(-12, 12)) AS lag),
wide AS (
  SELECT series_id, rn, l.lag,
         CASE WHEN l.lag >= 0
              THEN lag(value, CAST(l.lag AS INT)) OVER
                   (PARTITION BY series_id, l.lag ORDER BY rn)
              ELSE lead(value, CAST(-l.lag AS INT)) OVER
                   (PARTITION BY series_id, l.lag ORDER BY rn)
         END AS shifted
  FROM s CROSS JOIN lags l),
pr AS (
  SELECT a.series_id AS series_a, w.series_id AS series_b, w.lag,
         (a.value - ma.mu) * (w.shifted - mb.mu) AS xy,
         ma.sd AS sd_a, mb.sd AS sd_b
  FROM s a JOIN wide w ON w.rn = a.rn
  JOIN mm ma ON ma.series_id = a.series_id
  JOIN mm mb ON mb.series_id = w.series_id
  WHERE a.series_id < w.series_id AND w.shifted IS NOT NULL),
am AS (
  SELECT series_a, series_b, lag, count(*) AS n,
         CAST(sum(CAST(xy AS DECIMAL(38,12))) AS DOUBLE) AS num,
         max(sd_a) AS sd_a, max(sd_b) AS sd_b
  FROM pr GROUP BY 1, 2, 3)
SELECT series_a, series_b, lag,
       round(num / (CAST(n AS DOUBLE) * sd_a * sd_b), {R}) AS xcorr
FROM am
"""

# ---- split_drift: test half binned by train deciles, TVD on integer
#      cross-products (decimal-exact) — no transcendentals. ----
ORACLES["split_drift"] = f"""
WITH {SQL_S},
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
sp AS (
  SELECT s.series_id, s.rn, s.value,
         CASE WHEN s.rn <= floor(nn.n * 0.5) THEN 'Train'
              ELSE 'Test' END AS split
  FROM s JOIN nn USING (series_id)),
ed AS (
  SELECT series_id,
         quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS edges
  FROM sp WHERE split = 'Train' GROUP BY 1),
bn AS (
  SELECT sp.series_id, sp.split,
         len(list_filter(ed.edges, e -> sp.value > e)) AS bin
  FROM sp JOIN ed USING (series_id)),
cnt AS (
  SELECT series_id, bin,
         CAST(sum(CASE WHEN split = 'Train' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct,
         CAST(sum(CASE WHEN split = 'Test' THEN 1 ELSE 0 END)
              AS BIGINT) AS cq
  FROM bn GROUP BY 1, 2),
tot AS (
  SELECT series_id,
         CAST(sum(CASE WHEN split = 'Train' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN split = 'Test' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_test
  FROM bn GROUP BY 1),
dv AS (
  SELECT c.series_id, t.n_train, t.n_test,
         abs(CAST(c.ct AS DECIMAL(38,0)) * t.n_test
             - CAST(c.cq AS DECIMAL(38,0)) * t.n_train) AS dev
  FROM cnt c JOIN tot t USING (series_id)),
ag AS (
  SELECT series_id, max(n_train) AS n_train, max(n_test) AS n_test,
         sum(dev) AS sdev, max(dev) AS mdev
  FROM dv GROUP BY 1)
SELECT series_id, n_train, n_test,
       round(0.5 * CAST(sdev AS DOUBLE)
             / (CAST(n_train AS DOUBLE) * CAST(n_test AS DOUBLE)),
             {R}) AS tvd,
       round(CAST(mdev AS DOUBLE)
             / (CAST(n_train AS DOUBLE) * CAST(n_test AS DOUBLE)),
             {R}) AS max_bin_dev
FROM ag
"""

# ---- detect_period: the acf machinery over lags 2..60 + per-series
#      argmax (acf desc, lag asc). ----
ORACLES["detect_period"] = f"""
WITH {SQL_S},
smo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
smu AS (SELECT series_id, s1 / n AS mu FROM smo),
sden AS (
  SELECT s.series_id,
         CAST(sum(CAST((s.value - smu.mu) * (s.value - smu.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS den
  FROM s JOIN smu USING (series_id) GROUP BY 1),
lags AS (SELECT unnest(generate_series(2, 60)) AS lag),
shifted AS (
  SELECT s.series_id, l.lag, s.value, smu.mu,
         lag(s.value, l.lag) OVER (PARTITION BY s.series_id, l.lag
                                   ORDER BY s.rn) AS prev
  FROM s CROSS JOIN lags l JOIN smu USING (series_id)),
snum AS (
  SELECT series_id, lag,
         CAST(sum(CAST((value - mu) * (prev - mu) AS DECIMAL(38,12)))
              AS DOUBLE) AS num
  FROM shifted WHERE prev IS NOT NULL GROUP BY 1, 2),
acfu AS (
  SELECT n.series_id, n.lag, n.num / d.den AS acf
  FROM snum n JOIN sden d USING (series_id)),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY acf DESC, lag ASC) AS rk
  FROM acfu)
SELECT series_id, lag AS period, round(acf, {R}) AS peak_acf
FROM rk WHERE rk = 1
"""

# ---- gap_stats: modal-step grid report in integer epoch seconds. ----
ORACLES["gap_stats"] = f"""
WITH {SQL_S},
tt AS (
  SELECT series_id, rn,
         CAST(floor(epoch(timestamp)) AS BIGINT) AS ts_s
  FROM s),
dd AS (
  SELECT series_id,
         ts_s - lag(ts_s) OVER (PARTITION BY series_id ORDER BY rn) AS d
  FROM tt),
d2 AS (SELECT series_id, d FROM dd WHERE d IS NOT NULL),
fr AS (SELECT series_id, d, count(*) AS c FROM d2 GROUP BY 1, 2),
st AS (
  SELECT series_id, d AS step FROM (
    SELECT *, row_number() OVER (PARTITION BY series_id
                                 ORDER BY c DESC, d ASC) AS rk
    FROM fr) WHERE rk = 1),
j AS (SELECT d2.series_id, d2.d, st.step
      FROM d2 JOIN st USING (series_id))
SELECT series_id,
       count(*) + 1 AS n_rows,
       max(step) AS step_s,
       CAST(sum(CASE WHEN d > step THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       max(d) AS max_gap_s,
       CAST(coalesce(sum(CASE WHEN d > step
              THEN CAST(floor(d * 1.0 / step) AS BIGINT) - 1 END), 0)
            AS BIGINT) AS missing_rows_est
FROM j GROUP BY 1
"""

# ---- seasonal_profile_flags: per-(series, rn mod 48) exact-decimal
#      moments, rows scored against their own position profile. ----
ORACLES["seasonal_profile_flags"] = f"""
WITH {SQL_S},
pm AS (
  SELECT series_id, (rn - 1) % 48 AS pos, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s GROUP BY 1, 2),
pm2 AS (
  SELECT series_id, pos, s1 / n AS pos_mean,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM pm)
SELECT s.series_id, s.rn, p.pos,
       round(p.pos_mean, {R}) AS pos_mean,
       round((s.value - p.pos_mean) / (p.sd + 1e-9), {R}) AS pos_z,
       CAST(CASE WHEN abs((s.value - p.pos_mean) / (p.sd + 1e-9)) > 3.0
            THEN 1 ELSE 0 END AS INT) AS flag
FROM s JOIN pm2 p ON p.series_id = s.series_id
                 AND p.pos = (s.rn - 1) % 48
"""

# ---- seasonal_strength: period-position variance decomposition,
#      exact-decimal sums end to end. ----
ORACLES["seasonal_strength"] = f"""
WITH {SQL_S},
pm AS (
  SELECT series_id, (rn - 1) % 48 AS pos,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / count(value) AS pmean
  FROM s GROUP BY 1, 2),
rs AS (
  SELECT s.series_id, s.value, s.value - pm.pmean AS r
  FROM s JOIN pm ON pm.series_id = s.series_id
                AND pm.pos = (s.rn - 1) % 48),
ag AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         CAST(sum(CAST(r AS DECIMAL(38,12))) AS DOUBLE) AS r1,
         CAST(sum(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE) AS r2
  FROM rs GROUP BY 1)
SELECT series_id, n,
       round((s2 - s1 * s1 / n) / (n - 1), {R}) AS var_total,
       round((r2 - r1 * r1 / n) / (n - 1), {R}) AS var_resid,
       round(greatest(0.0, 1.0 - ((r2 - r1 * r1 / n) / (n - 1))
                             / ((s2 - s1 * s1 / n) / (n - 1))), {R})
         AS seasonal_strength
FROM ag
"""

# ---- detector_consensus: the six hash-gated detectors voting per
#      row.  Every branch CTE is the corresponding standalone oracle's
#      text (W1+persistence = SQL_ROLL/SQL_FLAGS; hampel/quantile/diff
#      inlined; EWMA/CUSUM recursions renamed rec_e/rec_c — same
#      expression trees, so same values).  Integer votes join on
#      (series_id, rn). ----
ORACLES["detector_consensus"] = f"""
WITH RECURSIVE {SQL_S}, {SQL_ROLL}, {SQL_FLAGS}, {SQL_MO},
hwin AS (
  SELECT series_id, rn, value,
         list_sort(list(value) OVER (
           PARTITION BY series_id ORDER BY rn
           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)) AS a
  FROM s),
hmed AS (
  SELECT series_id, rn, value, a,
         (a[CAST(floor((len(a) + 1) / 2.0) AS INT)] +
          a[CAST(floor(len(a) / 2.0) + 1 AS INT)]) / 2.0 AS roll_med
  FROM hwin),
hmadx AS (
  SELECT series_id, rn, value, roll_med,
         list_sort(list_transform(a, x -> abs(x - roll_med))) AS d
  FROM hmed),
hamp AS (
  SELECT series_id, rn,
         CASE WHEN abs(value - roll_med)
                   > 3.0 * (1.4826 *
                     ((d[CAST(floor((len(d) + 1) / 2.0) AS INT)] +
                       d[CAST(floor(len(d) / 2.0) + 1 AS INT)]) / 2.0)
                     + 1e-9)
              THEN 1 ELSE 0 END AS hampel_flag
  FROM hmadx),
qb AS (
  SELECT series_id, quantile_cont(value, 0.02) AS band_lo,
         quantile_cont(value, 0.98) AS band_hi
  FROM s GROUP BY 1),
qflag AS (
  SELECT s.series_id, s.rn,
         CASE WHEN s.value < band_lo OR s.value > band_hi
              THEN 1 ELSE 0 END AS band_flag
  FROM s JOIN qb USING (series_id)),
dif AS (
  SELECT series_id, rn,
         value - lag(value) OVER (PARTITION BY series_id ORDER BY rn)
           AS diff
  FROM s),
dmo AS (
  SELECT series_id, count(diff) AS n,
         CAST(sum(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(diff * diff AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM dif WHERE diff IS NOT NULL GROUP BY 1),
dmo2 AS (
  SELECT series_id, s1 / n AS mu,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM dmo),
dflag AS (
  SELECT d.series_id, d.rn,
         CASE WHEN d.diff IS NULL THEN 0
              WHEN abs((d.diff - m.mu) / (m.sd + 1e-9)) > 4.0
              THEN 1 ELSE 0 END AS diff_flag
  FROM dif d JOIN dmo2 m USING (series_id)),
rec_e AS (
  SELECT s.series_id, s.rn,
         CAST(m.mu + 0.25 * (s.value - m.mu) AS DOUBLE) AS z,
         CAST(0.5625 AS DOUBLE) AS w,
         m.mu AS mu, m.sd AS sd
  FROM s JOIN mo2 m ON m.series_id = s.series_id WHERE s.rn = 1
  UNION ALL
  SELECT s.series_id, s.rn,
         r.z + 0.25 * (s.value - r.z) AS z,
         r.w * 0.5625 AS w,
         r.mu, r.sd
  FROM rec_e r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
),
eflag AS (
  SELECT series_id, rn,
         CASE WHEN z > mu + 3.0 * sd
                        * sqrt((0.25 / (2.0 - 0.25)) * (1.0 - w))
                OR z < mu - 3.0 * sd
                        * sqrt((0.25 / (2.0 - 0.25)) * (1.0 - w))
              THEN 1 ELSE 0 END AS ewma_flag
  FROM rec_e),
sz AS (
  SELECT s.series_id, s.rn,
         (s.value - m.mu) / (m.sd + 1e-9) AS z
  FROM s JOIN mo2 m ON m.series_id = s.series_id
),
rec_c AS (
  SELECT series_id, rn,
         CAST(greatest(0.0, 0.0 + (z - 0.5)) AS DOUBLE) AS sp,
         CAST(greatest(0.0, 0.0 + (-z - 0.5)) AS DOUBLE) AS sn
  FROM sz WHERE rn = 1
  UNION ALL
  SELECT z.series_id, z.rn,
         greatest(0.0, r.sp + (z.z - 0.5)) AS sp,
         greatest(0.0, r.sn + (-z.z - 0.5)) AS sn
  FROM rec_c r JOIN sz z ON z.series_id = r.series_id
                        AND z.rn = r.rn + 1
),
cflag AS (
  SELECT series_id, rn,
         CASE WHEN sp > 5.0 OR sn > 5.0 THEN 1 ELSE 0 END AS cusum_flag
  FROM rec_c)
SELECT f.series_id, f.rn,
       CAST(f.flag AS INT) AS w1_flag,
       CAST(h.hampel_flag AS INT) AS hampel_flag,
       CAST(q.band_flag AS INT) AS band_flag,
       CAST(d.diff_flag AS INT) AS diff_flag,
       CAST(e.ewma_flag AS INT) AS ewma_flag,
       CAST(c.cusum_flag AS INT) AS cusum_flag,
       CAST(f.flag + h.hampel_flag + q.band_flag + d.diff_flag
            + e.ewma_flag + c.cusum_flag AS INT) AS votes,
       CAST(CASE WHEN f.flag + h.hampel_flag + q.band_flag + d.diff_flag
                      + e.ewma_flag + c.cusum_flag >= 2
            THEN 1 ELSE 0 END AS INT) AS consensus
FROM flags f
JOIN hamp h ON h.series_id = f.series_id AND h.rn = f.rn
JOIN qflag q ON q.series_id = f.series_id AND q.rn = f.rn
JOIN dflag d ON d.series_id = f.series_id AND d.rn = f.rn
JOIN eflag e ON e.series_id = f.series_id AND e.rn = f.rn
JOIN cflag c ON c.series_id = f.series_id AND c.rn = f.rn
"""


# ---- qq_plot / histogram_fit: the S7 diagnostic frames.  AR(1)
#      residual CTEs are the ar1_forecast oracle's, verbatim; the
#      Filliben/PPF/pdf formulas come from operators.diagnostics as
#      SHARED TEXT, so Spark (F.expr) and DuckDB evaluate identical
#      expression trees. ----
_SQL_AR1_RSD = """
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
rsd AS (
  SELECT l.series_id, l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id) WHERE l.prev IS NOT NULL)
"""


def _qq_oracle() -> str:
    from ..operators.diagnostics import filliben_sql, norm_ppf_sql

    return f"""
WITH {SQL_S}, {_SQL_AR1_RSD},
ranked AS (
  SELECT series_id, resid AS sample_q,
         row_number() OVER (PARTITION BY series_id ORDER BY resid)
           AS qq_i,
         count(*) OVER (PARTITION BY series_id) AS qq_n
  FROM rsd),
pos AS (
  SELECT series_id, qq_i, sample_q,
         {filliben_sql("qq_i", "qq_n")} AS qq_m
  FROM ranked)
SELECT series_id, CAST(qq_i AS BIGINT) AS qq_i,
       round({norm_ppf_sql("qq_m")}, {R}) AS theoretical_q,
       round(sample_q, {R}) AS sample_q
FROM pos
"""


def _histogram_oracle() -> str:
    from ..operators.diagnostics import hist_center_sql, normal_pdf_sql

    return f"""
WITH {SQL_S}, {_SQL_AR1_RSD},
h0 AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(resid AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         min(resid) AS rmin, max(resid) AS rmax
  FROM rsd GROUP BY 1),
h1 AS (
  -- np.histogram widens a degenerate (all-equal) range to [x-0.5, x+0.5]
  SELECT series_id, n, mu, rmin, rmax,
         (rmax - rmin) / 50e0 AS width
  FROM (
    SELECT series_id, n, s1 / n AS mu,
           CASE WHEN rmax = rmin THEN rmin - 0.5e0 ELSE rmin END AS rmin,
           CASE WHEN rmax = rmin THEN rmax + 0.5e0 ELSE rmax END AS rmax
    FROM h0)),
hm AS (
  SELECT r.series_id,
         CAST(sum(CAST((r.resid - h.mu) * (r.resid - h.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS m2s,
         CAST(sum(CAST(((r.resid - h.mu) * (r.resid - h.mu))
                       * ((r.resid - h.mu) * (r.resid - h.mu))
                       AS DECIMAL(38,12))) AS DOUBLE) AS m4s
  FROM rsd r JOIN h1 h USING (series_id) GROUP BY 1),
cnts AS (
  SELECT r.series_id,
         CAST(least(floor((r.resid - h.rmin) / h.width), 49) AS BIGINT)
           AS bin,
         count(*) AS cnt
  FROM rsd r JOIN h1 h USING (series_id) GROUP BY 1, 2),
grid AS (
  SELECT series_id, CAST(unnest(generate_series(0, 49)) AS BIGINT)
           AS bin
  FROM h1),
pre AS (
  SELECT g.series_id, g.bin,
         {hist_center_sql("h.rmin", "g.bin", "h.width")} AS bin_center,
         coalesce(c.cnt, 0) AS cnt, h.n, h.width, h.mu,
         sqrt(m.m2s / h.n) AS sigma,
         (m.m4s / h.n) / ((m.m2s / h.n) * (m.m2s / h.n)) - 3e0
           AS kurtosis
  FROM grid g JOIN h1 h USING (series_id) JOIN hm m USING (series_id)
  LEFT JOIN cnts c ON c.series_id = g.series_id AND c.bin = g.bin)
SELECT series_id, bin,
       round(bin_center, {R}) AS bin_center,
       CAST(cnt AS BIGINT) AS n_bin,
       round(CAST(cnt AS DOUBLE) / (CAST(n AS DOUBLE) * width), {R})
         AS density,
       round(mu, {R}) AS mu,
       round(sigma, {R}) AS sigma,
       round(kurtosis, {R}) AS kurtosis,
       round({normal_pdf_sql("bin_center", "mu", "sigma")}, {R})
         AS normal_pdf
FROM pre
"""


ORACLES["qq_plot"] = _qq_oracle()
ORACLES["histogram_fit"] = _histogram_oracle()

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

ORACLES["bsts_forecast_fixed"] = f"""
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

# ---- hybrid_detection_sql: ar1 + zscore + mad branches, weighted fuse,
#      threshold, persistence, gap-merge, asymmetric event metrics ----
ORACLES["hybrid_detection_sql"] = f"""
WITH {SQL_S}, {SQL_TRUTH}, {SQL_MO}, {SQL_MAD},
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
rsd AS (
  SELECT l.series_id, l.rn,
         l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id) WHERE l.prev IS NOT NULL),
amed AS (SELECT series_id, median(resid) AS med FROM rsd GROUP BY 1),
amad AS (
  SELECT r.series_id, median(abs(r.resid - m.med)) AS mad
  FROM rsd r JOIN amed m USING (series_id) GROUP BY 1),
az AS (
  SELECT r.series_id, r.rn,
         abs(r.resid - m.med) / (1.4826 * d.mad + 1e-9) AS z
  FROM rsd r JOIN amed m USING (series_id) JOIN amad d USING (series_id)),
fz AS (
  SELECT t.series_id, t.rn, t.is_anomaly,
         CASE WHEN (1.0/3.0) * coalesce(az.z, 0.0)
                   + (1.0/3.0) * abs((t.value - mo2.mu) / (mo2.sd + 1e-9))
                   + (1.0/3.0) * md.z_mad > 2.5
              THEN 1 ELSE 0 END AS flag
  FROM truth t
  JOIN mo2 ON mo2.series_id = t.series_id
  JOIN mads md ON md.series_id = t.series_id AND md.rn = t.rn
  LEFT JOIN az ON az.series_id = t.series_id AND az.rn = t.rn),
{_sql_events_keyed("fz", "htev", "is_anomaly", 3)},
{_sql_events_keyed("fz", "hpev", "flag", 3, min_len=2)},
hbase AS (SELECT DISTINCT series_id FROM s),
hnt AS (SELECT series_id, count(*) AS n_true_events FROM htev GROUP BY 1),
hnp AS (SELECT series_id, count(*) AS n_pred_events FROM hpev GROUP BY 1),
hph AS (SELECT p.series_id, count(*) AS tp FROM hpev p
        WHERE EXISTS (SELECT 1 FROM htev t WHERE t.series_id = p.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
hth AS (SELECT t.series_id, count(*) AS tp_recall FROM htev t
        WHERE EXISTS (SELECT 1 FROM hpev p WHERE p.series_id = t.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
hm AS (
  SELECT b.series_id,
         coalesce(hnt.n_true_events, 0) AS n_true_events,
         coalesce(hnp.n_pred_events, 0) AS n_pred_events,
         coalesce(hph.tp, 0) AS tp, coalesce(hth.tp_recall, 0) AS tp_recall
  FROM hbase b LEFT JOIN hnt USING (series_id) LEFT JOIN hnp USING (series_id)
       LEFT JOIN hph USING (series_id) LEFT JOIN hth USING (series_id))
SELECT 'hybrid' AS model, series_id, tp,
       n_pred_events - tp AS fp,
       n_true_events - tp_recall AS fn,
       round(tp / (n_pred_events + 1e-9), {R}) AS precision,
       round(tp_recall / (n_true_events + 1e-9), {R}) AS recall,
       round(2 * (tp/(n_pred_events+1e-9)) * (tp_recall/(n_true_events+1e-9))
             / ((tp/(n_pred_events+1e-9)) + (tp_recall/(n_true_events+1e-9))
                + 1e-9), {R}) AS f1
FROM hm
"""

# ---- benchmark_leaderboard_ar1: full-series AR(1) + MAD score + split +
#      validation sweep (rate guard) + best-k detection + event metrics ----
ORACLES["benchmark_leaderboard_ar1"] = f"""
WITH {SQL_S}, {SQL_TRUTH},
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
rsd AS (
  SELECT l.series_id, l.rn,
         l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id)),
bmd AS (SELECT series_id, median(resid) AS med FROM rsd GROUP BY 1),
bmad AS (
  SELECT r.series_id, median(abs(r.resid - m.med)) AS mad
  FROM rsd r JOIN bmd m USING (series_id) GROUP BY 1),
bsc AS (
  SELECT r.series_id, r.rn,
         abs(r.resid - m.med) / (1.4826 * d.mad + 1e-9) AS score
  FROM rsd r JOIN bmd m USING (series_id) JOIN bmad d USING (series_id)),
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
spl AS (
  SELECT b.series_id, b.rn, b.score, t.is_anomaly,
         CASE WHEN b.rn <= floor(nn.n * 0.5) THEN 'Train'
              WHEN b.rn <= floor(nn.n * 0.75) THEN 'Validation'
              ELSE 'Test' END AS split
  FROM bsc b JOIN truth t USING (series_id, rn) JOIN nn USING (series_id)),
grid AS (SELECT unnest([{_KS}]) AS k),
vfl AS (
  SELECT v.series_id, g.k, v.is_anomaly AS y,
         CASE WHEN v.score > g.k THEN 1 ELSE 0 END AS p
  FROM spl v CROSS JOIN grid g WHERE v.split = 'Validation'),
perk AS (
  SELECT series_id, k,
         sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS fn,
         avg(p) AS rate
  FROM vfl GROUP BY 1, 2),
sck AS (
  SELECT *,
         2*(tp/(tp+fp+1e-9))*(tp/(tp+fn+1e-9))
         / ((tp/(tp+fp+1e-9)) + (tp/(tp+fn+1e-9)) + 1e-9) AS f1
  FROM perk WHERE rate <= 0.10),
rankk AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY f1 DESC, k ASC) AS rk
  FROM sck),
best AS (SELECT series_id, k AS best_k FROM rankk WHERE rk = 1),
fl AS (
  SELECT b.series_id, b.rn,
         CASE WHEN b.score > coalesce(bb.best_k, 3.0) THEN 1 ELSE 0 END AS flag,
         t.is_anomaly
  FROM bsc b JOIN truth t USING (series_id, rn)
       LEFT JOIN best bb USING (series_id)),
{_sql_events_keyed("fl", "tevb", "is_anomaly", 3)},
{_sql_events_keyed("fl", "pevb", "flag", 3, min_len=2)},
lbase AS (SELECT DISTINCT series_id FROM s),
lnt AS (SELECT series_id, count(*) AS n_true_events FROM tevb GROUP BY 1),
lnp AS (SELECT series_id, count(*) AS n_pred_events FROM pevb GROUP BY 1),
lph AS (SELECT p.series_id, count(*) AS tp FROM pevb p
        WHERE EXISTS (SELECT 1 FROM tevb t WHERE t.series_id = p.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
lth AS (SELECT t.series_id, count(*) AS tp_recall FROM tevb t
        WHERE EXISTS (SELECT 1 FROM pevb p WHERE p.series_id = t.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
lm AS (
  SELECT b.series_id,
         coalesce(lnt.n_true_events, 0) AS n_true_events,
         coalesce(lnp.n_pred_events, 0) AS n_pred_events,
         coalesce(lph.tp, 0) AS tp, coalesce(lth.tp_recall, 0) AS tp_recall
  FROM lbase b LEFT JOIN lnt USING (series_id) LEFT JOIN lnp USING (series_id)
       LEFT JOIN lph USING (series_id) LEFT JOIN lth USING (series_id)),
ldur AS (SELECT series_id,
                (floor(epoch(max(timestamp))) - floor(epoch(min(timestamp))))
                / 86400.0 AS duration_days
         FROM s GROUP BY 1),
lthit AS (SELECT t.series_id, t.start_idx AS t_start,
                 min(p.start_idx) AS first_pred_start
          FROM tevb t JOIN pevb p ON p.series_id = t.series_id
               AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx
          GROUP BY 1, 2),
llat AS (SELECT th.series_id,
                median((floor(epoch(sp.timestamp)) - floor(epoch(st.timestamp)))
                       / 60.0) AS median_latency_minutes
         FROM lthit th
         JOIN s st ON st.series_id = th.series_id AND st.rn = th.t_start
         JOIN s sp ON sp.series_id = th.series_id
              AND sp.rn = th.first_pred_start
         GROUP BY 1)
SELECT 'ar1' AS model, lm.series_id,
       round(2 * (tp/(n_pred_events+1e-9)) * (tp_recall/(n_true_events+1e-9))
             / ((tp/(n_pred_events+1e-9)) + (tp_recall/(n_true_events+1e-9))
                + 1e-9), {R}) AS f1,
       round(tp / (n_pred_events + 1e-9), {R}) AS precision,
       round(tp_recall / (n_true_events + 1e-9), {R}) AS recall,
       n_true_events, n_pred_events,
       round(CASE WHEN ldur.duration_days > 0
                  THEN (n_pred_events - tp) / ldur.duration_days
                  ELSE 0.0 END, {R}) AS fp_per_day,
       round(llat.median_latency_minutes, {R}) AS median_latency_minutes
FROM lm LEFT JOIN ldur USING (series_id) LEFT JOIN llat USING (series_id)
"""


def q_trend_test(spark, sf_dir):
    """Mann-Kendall trend test + Theil-Sen slope per series — the
    nonparametric trend decision behind the reference's decomposition
    panels (formal version of 'is there a trend in the STL trend').
    Exact pairwise statistics; the oracle materializes the pair set."""
    from ..operators.trend import mann_kendall_frame

    out = mann_kendall_frame(_series(spark, sf_dir))
    return out.select(
        "series_id", "n", "s_stat",
        _rnd("tau", R).alias("tau"),
        _rnd("var_s", R).alias("var_s"),
        _rnd("z", R).alias("z"),
        _rnd("sen_slope", R).alias("sen_slope"),
        "trend",
    )


def q_score_calibration(spark, sf_dir):
    """Empirical-p-value calibration of MAD z-scores: per-series ECDF
    tail probability with ties, flag at a 2% false-positive contract.
    Composes P7 (mad_scores, already hash-green) with one RANGE window."""
    from ..operators.scaling import empirical_pvalues, mad_scores

    s = _series(spark, sf_dir)
    out = empirical_pvalues(mad_scores(s), "z_mad", "p_emp")
    return out.select(
        "series_id", "rn",
        _rnd("z_mad", R).alias("z_mad"),
        _rnd("p_emp", R).alias("p_emp"),
        (F.col("p_emp") <= 0.02).cast("int").alias("flag"),
    )


def q_spectral_residual(spark, sf_dir):
    """Spectral Residual saliency (Ren et al. KDD'19): FFT-based
    model-free point-anomaly detector.  Sequential FFT per series —
    non-SQL, rows-only gate; the unit test plants a spike and asserts
    SR ranks it first."""
    from ..functions.spectral import spectral_residual_scores

    out = spectral_residual_scores(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("saliency", R).alias("saliency"),
        _rnd("sr_score", R).alias("sr_score"),
        "flag",
    )


def _sr_trig_table(n: int = 64):
    """Quantized DFT twiddle table for the hash-gated SR twin: cos/sin
    of 2πm/n, m=0..n−1, rounded to 12 decimals.  (j·k) mod n indexes
    the same table for BOTH the forward and inverse transforms, so the
    transcendentals never enter the cross-engine comparison — the
    harmonic_forecast_fixed recipe applied to the full DFT."""
    import numpy as np

    rows = []
    vals_sql = []
    for m in range(n):
        w = 2.0 * np.pi * m / n
        c = round(float(np.cos(w)), 12)
        sn = round(float(np.sin(w)), 12)
        rows.append((m, c, sn))
        vals_sql.append(f"({m}, {c:.12f}, {sn:.12f})")
    return rows, ",\n    ".join(vals_sql)


_SR_TRIG_ROWS, _SR_TRIG_VALUES_SQL = _sr_trig_table(64)


def _sr_fixed_plan(spark, sf_dir, nfft):
    """Shared builder for the hash-gated Spectral Residual twins: SR
    saliency over each series' LAST ``nfft`` points, where the DFT is
    a literal matrix product against the shared ``nfft``-row twiddle
    table (``_sr_trig_table``).

    Every step is closed-form column algebra both engines can mirror
    bit-for-bit:

    - forward DFT: re/im are exact-decimal sums of value × the
      12-decimal table literals indexed by (j·k) mod nfft;
    - the log-spectrum moving average collapses algebraically —
      ``exp(L − MA₃(L)) = (A+ε) / cbrt(Πap)`` — so no log/exp enters;
      the one libm call (cbrt) is ulp-insulated by an 8-decimal
      quantize of the magnitude ratio;
    - inverse DFT: exact-decimal sums of bit-identical g·twiddle
      terms; saliency = |·|/nfft; score = (S − trailing-mean₄₀)/
      (mean+ε) with a decimal-sum trailing mean
      (functions/spectral.py:53-70 is the full-series numpy twin;
      parity test at rtol 1e-9).

    Scale shape: two broadcast joins against the nfft-row table, an
    nfft² fan per series (bounded state), two keyed aggregates — no
    UDF.  Cost is O(nfft²) per series regardless of SF, so the gated
    extent is a knob: 64 (the paper's streaming window) and 512 are
    registered; the uncapped O(n log n) production path stays
    ``spectral_residual`` (numpy rFFT per series).
    """
    trig_rows, _ = _sr_trig_table(nfft)
    trig = spark.createDataFrame(
        trig_rows, "m long, cs double, sn double"
    )
    tail = _last_w(spark, sf_dir, nfft, nfft).select(
        "series_id", "rn", "value", "j"
    )

    # forward DFT: the half-spectrum mirror trick that pays off in the
    # acf twins (where the power spectrum collapses the phase) was
    # measured a WASH here — the union's mirror branch re-derives the
    # half fan (no static exchange reuse), and the inverse fan + the
    # per-k windows dominate this query (r13 A/B old 3.23/3.21/2.40 s
    # vs mirrored 3.34/2.50/2.58 s, parity 0) — so the straightforward
    # full fan stays.
    fwd = (
        tail.select(
            "series_id",
            "j",
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(nfft - 1))).alias("k"),
        )
        .withColumn("m", (F.col("j") * F.col("k")) % F.lit(nfft))
        .join(F.broadcast(trig), "m")
        .groupBy("series_id", "k")
        .agg(
            _dsum(F.col("value") * F.col("cs")).alias("re"),
            _dsum(-(F.col("value") * F.col("sn"))).alias("im"),
        )
    )
    amp = F.sqrt(F.col("re") * F.col("re") + F.col("im") * F.col("im"))
    spec = fwd.withColumn("amp", amp).withColumn(
        "ap", F.col("amp") + F.lit(1e-8)
    )
    wk = Window.partitionBy("series_id").orderBy("k")
    prv = F.coalesce(F.lag("ap").over(wk), F.col("ap"))
    nxt = F.coalesce(F.lead("ap").over(wk), F.col("ap"))
    mag_raw = F.col("ap") / F.cbrt((prv * F.col("ap")) * nxt)
    mag = _q8(mag_raw)
    den = F.when(F.col("amp") > F.lit(1e-8), F.col("amp")).otherwise(
        F.lit(1e-8)
    )
    g = spec.select(
        "series_id",
        "k",
        ((mag * F.col("re")) / den).alias("gre"),
        ((mag * F.col("im")) / den).alias("gim"),
    )
    inv = (
        g.select(
            "series_id",
            "k",
            "gre",
            "gim",
            F.explode(F.sequence(F.lit(0), F.lit(nfft - 1))).alias("j"),
        )
        .withColumn("m", (F.col("j") * F.col("k")) % F.lit(nfft))
        .join(F.broadcast(trig), "m")
        .groupBy("series_id", "j")
        .agg(
            _dsum(
                F.col("gre") * F.col("cs") - F.col("gim") * F.col("sn")
            ).alias("sre"),
            _dsum(
                F.col("gre") * F.col("sn") + F.col("gim") * F.col("cs")
            ).alias("sim"),
        )
    )
    sal = (
        F.sqrt(F.col("sre") * F.col("sre") + F.col("sim") * F.col("sim"))
        / F.lit(float(nfft))
    )
    out = inv.join(tail, ["series_id", "j"]).withColumn("sal", sal)
    wj = Window.partitionBy("series_id").orderBy("j").rowsBetween(-39, 0)
    loc = F.sum(F.col("sal").cast(DEC_T)).over(wj).cast("double") / F.count(
        "*"
    ).over(wj)
    score = (F.col("sal") - loc) / (loc + F.lit(1e-8))
    return out.select(
        "series_id",
        "rn",
        _rnd("value", R).alias("value"),
        _rnd("sal", R).alias("saliency"),
        _rnd(score, R).alias("sr_score"),
        (score > F.lit(3.0)).cast("int").alias("flag"),
    )


def q_spectral_residual_fixed(spark, sf_dir):
    """Hash-gated fixed SR twin at the paper's streaming window
    (last 64 points) — see ``_sr_fixed_plan``."""
    return _sr_fixed_plan(spark, sf_dir, 64)


def q_spectral_residual_fixed_512(spark, sf_dir):
    """Hash-gated fixed SR twin over the last 512 points — widens the
    value-hash-gated extent of the SR algebra 8× beyond the 64-point
    streaming window (r09; the matrix_profile_fixed_full /
    shesd_fixed_full widening theme applied to SR).  512² keeps the
    O(nfft²) literal-DFT fan at ~1.3M rows per series — benchable —
    while covering a quarter of each sf0.01 gate series."""
    return _sr_fixed_plan(spark, sf_dir, 512)


def _sr_fixed_sql(nfft: int) -> str:
    """DuckDB mirror of ``_sr_fixed_plan`` at the given DFT size."""
    _, trig_values_sql = _sr_trig_table(nfft)
    return f"""
WITH {SQL_S},
t(m, cs, sn) AS (
  VALUES
    {trig_values_sql}
),
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {nfft}),
tl AS (
  SELECT s.series_id, s.rn, s.value, s.rn - (c.n - {nfft}) - 1 AS j
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - {nfft}),
kk AS (SELECT unnest(generate_series(0, {nfft - 1})) AS k),
fwd AS (
  SELECT tl.series_id, kk.k,
         CAST(sum(CAST(tl.value * t.cs AS DECIMAL(38,12))) AS DOUBLE)
           AS re,
         CAST(sum(CAST(-(tl.value * t.sn) AS DECIMAL(38,12))) AS DOUBLE)
           AS im
  FROM tl CROSS JOIN kk
  JOIN t ON t.m = (tl.j * kk.k) % {nfft}
  GROUP BY 1, 2),
spec AS (
  SELECT series_id, k, re, im,
         sqrt(re * re + im * im) AS amp,
         sqrt(re * re + im * im) + 1e-8 AS ap
  FROM fwd),
mags AS (
  SELECT series_id, k, re, im, amp,
         floor((ap / cbrt((coalesce(lag(ap) OVER wk, ap) * ap)
                          * coalesce(lead(ap) OVER wk, ap)))
               * 100000000.0 + 0.5) / 100000000.0 AS mag
  FROM spec
  WINDOW wk AS (PARTITION BY series_id ORDER BY k)),
g AS (
  SELECT series_id, k,
         (mag * re) / (CASE WHEN amp > 1e-8 THEN amp ELSE 1e-8 END)
           AS gre,
         (mag * im) / (CASE WHEN amp > 1e-8 THEN amp ELSE 1e-8 END)
           AS gim
  FROM mags),
jj AS (SELECT unnest(generate_series(0, {nfft - 1})) AS j),
inv AS (
  SELECT g.series_id, jj.j,
         CAST(sum(CAST(g.gre * t.cs - g.gim * t.sn
                       AS DECIMAL(38,12))) AS DOUBLE) AS sre,
         CAST(sum(CAST(g.gre * t.sn + g.gim * t.cs
                       AS DECIMAL(38,12))) AS DOUBLE) AS sim
  FROM g CROSS JOIN jj
  JOIN t ON t.m = (jj.j * g.k) % {nfft}
  GROUP BY 1, 2),
sal AS (
  SELECT i.series_id, i.j, tl.rn, tl.value,
         sqrt(i.sre * i.sre + i.sim * i.sim) / {nfft}.0 AS sal
  FROM inv i
  JOIN tl ON tl.series_id = i.series_id AND tl.j = i.j),
sc AS (
  SELECT series_id, j, rn, value, sal,
         CAST(sum(CAST(sal AS DECIMAL(38,12))) OVER wj AS DOUBLE)
           / count(*) OVER wj AS loc
  FROM sal
  WINDOW wj AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN 39 PRECEDING AND CURRENT ROW))
SELECT series_id, rn,
       round(value, {R}) AS value,
       round(sal, {R}) AS saliency,
       round((sal - loc) / (loc + 1e-8), {R}) AS sr_score,
       CAST(CASE WHEN (sal - loc) / (loc + 1e-8) > 3.0
            THEN 1 ELSE 0 END AS INT) AS flag
FROM sc
"""


ORACLES["spectral_residual_fixed"] = _sr_fixed_sql(64)
ORACLES["spectral_residual_fixed_512"] = _sr_fixed_sql(512)


def q_theta_forecast(spark, sf_dir):
    """Theta-method forecast (M3 winner; SES-with-drift form) of the
    Test split, fixed dyadic α=1/4 — trend fit and θ=2 line are column
    algebra, the SES recursion is one double of state per series and
    is replayed by the oracle as a recursive CTE.  Fully hash-gated."""
    from ..functions.theta import theta_forecast

    out = theta_forecast(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("value", R).alias("value"),
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


ORACLES["theta_forecast"] = f"""
WITH RECURSIVE {SQL_S},
nn AS (SELECT series_id, CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
       FROM s GROUP BY 1),
tr AS (SELECT s.series_id, s.rn, s.value
       FROM s JOIN nn USING (series_id) WHERE s.rn <= nn.T),
fsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(CAST(rn AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) AS st,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)
                       AS DECIMAL(38,12))) AS DOUBLE) AS stt,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * value AS DECIMAL(38,12)))
              AS DOUBLE) AS sty
  FROM tr GROUP BY 1),
f0 AS (
  SELECT series_id, n, st, sy,
         (n * sty - st * sy) / (n * stt - st * st) AS b
  FROM fsum),
ft AS (SELECT series_id, b, (sy - b * st) / n AS a FROM f0),
l2 AS (
  SELECT tr.series_id, tr.rn,
         2e0 * tr.value - (ft.a + ft.b * CAST(tr.rn AS DOUBLE)) AS l
  FROM tr JOIN ft USING (series_id)),
rec AS (
  SELECT series_id, rn, CAST(l AS DOUBLE) AS sv FROM l2 WHERE rn = 1
  UNION ALL
  SELECT q.series_id, q.rn, r.sv + 0.25 * (q.l - r.sv) AS sv
  FROM rec r JOIN l2 q
    ON q.series_id = r.series_id AND q.rn = r.rn + 1),
sT AS (
  SELECT r.series_id, r.sv AS s_T
  FROM rec r JOIN nn ON nn.series_id = r.series_id AND r.rn = nn.T),
te AS (
  SELECT s.series_id, s.rn, s.value
  FROM s JOIN nn USING (series_id) WHERE s.rn > nn.T),
pr AS (
  SELECT te.series_id, te.rn, te.value,
         5e-1 * (ft.a + ft.b * CAST(te.rn AS DOUBLE)) + 5e-1 * sT.s_T
           AS pred
  FROM te JOIN ft USING (series_id) JOIN sT USING (series_id))
SELECT series_id, rn, round(value, {R}) AS value,
       round(pred, {R}) AS pred_mean,
       round(value - pred, {R}) AS resid
FROM pr
"""


def q_percentile_summary(spark, sf_dir):
    """Per-series exact quantile grid (p25/50/75/90/99) + Tukey-fence
    outlier counts — the box-plot-with-whiskers numbers as a frame.
    Exact percentiles (the hash gate's regime); the documented 100 TB
    path is approx_percentile, same knob as mad_scores."""
    s = _series(spark, sf_dir)
    qs = s.groupBy("series_id").agg(
        F.count("value").alias("n"),
        F.percentile(
            F.col("value"), F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.9, 0.99)])
        ).alias("__q"),
    )
    qs = qs.select(
        "series_id", "n",
        F.col("__q")[0].alias("q25"), F.col("__q")[1].alias("q50"),
        F.col("__q")[2].alias("q75"), F.col("__q")[3].alias("q90"),
        F.col("__q")[4].alias("q99"),
    ).withColumn("iqr", F.col("q75") - F.col("q25"))
    joined = s.join(F.broadcast(qs), "series_id")
    lo = F.col("q25") - F.lit(1.5) * F.col("iqr")
    hi = F.col("q75") + F.lit(1.5) * F.col("iqr")
    out = joined.groupBy("series_id").agg(
        F.sum(
            F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
        ).cast("long").alias("n_outliers")
    )
    return qs.join(out, "series_id").select(
        "series_id", "n",
        _rnd("q25", R).alias("q25"), _rnd("q50", R).alias("q50"),
        _rnd("q75", R).alias("q75"), _rnd("q90", R).alias("q90"),
        _rnd("q99", R).alias("q99"), _rnd("iqr", R).alias("iqr"),
        "n_outliers",
    )


ORACLES["percentile_summary"] = f"""
WITH {SQL_S},
qs AS (
  SELECT series_id, count(value) AS n,
         quantile_cont(value, [0.25, 0.5, 0.75, 0.9, 0.99]) AS q
  FROM s GROUP BY 1),
ex AS (
  SELECT series_id, n, q[1] AS q25, q[2] AS q50, q[3] AS q75,
         q[4] AS q90, q[5] AS q99, q[3] - q[1] AS iqr
  FROM qs),
oc AS (
  SELECT s.series_id,
         CAST(sum(CASE WHEN s.value < ex.q25 - 1.5e0 * ex.iqr
                        OR s.value > ex.q75 + 1.5e0 * ex.iqr
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM s JOIN ex USING (series_id) GROUP BY 1)
SELECT ex.series_id, ex.n,
       round(ex.q25, {R}) AS q25, round(ex.q50, {R}) AS q50,
       round(ex.q75, {R}) AS q75, round(ex.q90, {R}) AS q90,
       round(ex.q99, {R}) AS q99, round(ex.iqr, {R}) AS iqr,
       oc.n_outliers
FROM ex JOIN oc USING (series_id)
"""


def q_asof_last_label(spark, sf_dir):
    """Generic as-of join (J1's general form): every row enriched with
    the most recent label anchor at or before it — "rows since the
    last labeled anomaly".  Spark side is the union + forward-fill
    pattern (ONE shuffle, no range join); the oracle is DuckDB's
    native ASOF LEFT JOIN — maximally different implementations
    agreeing is the point of the gate."""
    from ..operators.asof import asof_join

    s = _series(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy(
        F.col("value").desc(), "timestamp", "event_id"
    )
    lab = (
        s.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 5)
        .select("series_id", "rn", F.col("rn").alias("anchor_rn"))
    )
    out = asof_join(
        s.select("series_id", "rn"), lab, on="rn", by="series_id",
        payload=["anchor_rn"],
    )
    return out.select(
        "series_id", "rn",
        F.col("anchor_rn_asof").alias("last_anchor"),
        (F.col("rn") - F.col("anchor_rn_asof")).alias("rows_since"),
    )


ORACLES["asof_last_label"] = f"""
WITH {SQL_S},
lab AS (
  SELECT series_id, rn AS anchor FROM (
    SELECT series_id, rn,
           row_number() OVER (PARTITION BY series_id
                              ORDER BY value DESC, timestamp, event_id) AS rk
    FROM s) t
  WHERE rk <= 5
)
SELECT s.series_id, s.rn,
       l.anchor AS last_anchor,
       s.rn - l.anchor AS rows_since
FROM s ASOF LEFT JOIN lab l
  ON s.series_id = l.series_id AND s.rn >= l.anchor
"""


def q_matrix_profile(spark, sf_dir):
    """Matrix profile + top-3 discords per series (Yeh et al. ICDM'16):
    z-normalized nearest-neighbor window distances via batched FFT dot
    products — the shape-anomaly detector the pointwise family can't
    replicate.  FFT per series → rows-only gate; unit tests cross-check
    a naive O(n²m) reference and a planted discord."""
    from ..functions.matrix_profile import matrix_profile_scores

    out = matrix_profile_scores(_series(spark, sf_dir), m=24)
    return out.select(
        "series_id", "rn",
        _rnd("mp", R).alias("mp"),
        "nn_idx", "is_discord",
    )


def _mp_fixed_plan(spark, sf_dir, cap, min_n):
    """Shared builder for the hash-gated matrix-profile twins: the
    exact z-normalized nearest-neighbor window distance at m=8 over
    each series' last ``w = least(n, cap)`` points (series with
    ``n >= min_n``) — at this window the profile needs no FFT.  Window
    moments come from rolling exact-decimal frame sums, QT dot
    products from exact decimal chains, and the mutual min over
    neighbors is a keyed ``min(struct)`` — every step is fixed-order
    double algebra on decimal sums, so DuckDB mirrors it bit-for-bit.
    Same distance identity, constant-window conventions and m/2
    exclusion as ``functions/matrix_profile.py`` (parity tests in
    tests/test_mp_shesd.py); discord marking stays with the full
    operator (greedy selection is sequential), the twin gates the
    PROFILE.  The cap bounds the
    O(w²) pair frame (~2M rows per series at w=2048); the uncapped
    scale path is ``matrix_profile_tiled``.

    Input-magnitude bound (r10 ADVICE): the QT products are cast to
    decimal(30,12) — 18 integer digits — so a per-term |a·b| ≥ 1e18
    would silently NULL under non-ANSI decimal overflow.  The tail
    projection therefore ENFORCES |value| < 1e9 (product < 1e18) with
    ``raise_error``; extreme-magnitude series must be rescaled before
    this twin (the production ``matrix_profile`` z-normalizes in
    float and has no such bound)."""
    M = 8
    EXCL = max(1, M // 2)
    guarded_value = F.when(
        F.abs(F.col("value")) < F.lit(1e9), F.col("value")
    ).otherwise(
        F.raise_error(
            F.lit(
                "matrix_profile_fixed: |value| >= 1e9 overflows the"
                " decimal(30,12) QT chain — rescale the series first"
            )
        )
    )
    tail = _last_w(spark, sf_dir, cap, min_n).select(
        "series_id", "rn", guarded_value.alias("value"), "j", "w"
    )
    # window moments and QT both come from ROLLING exact-decimal frame
    # sums (ROWS current..+7): decimal addition is exact, so the
    # sliding-frame sum is bit-identical to the cumsum-difference form
    # but needs ONE window expression instead of cumsum+lead+lag
    wroll = (
        Window.partitionBy("series_id").orderBy("j").rowsBetween(0, M - 1)
    )
    cum = tail.select(
        "series_id",
        "j",
        "rn",
        "w",
        F.sum(F.col("value").cast(DEC_T))
        .over(wroll)
        .cast("double")
        .alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(DEC_T))
        .over(wroll)
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s1") / F.lit(float(M))
    var = F.greatest(
        F.col("s2") / F.lit(float(M)) - mu * mu, F.lit(0.0)
    )
    sig = F.sqrt(var)
    stats = (
        cum.filter(F.col("j") <= F.col("w") - F.lit(M))
        .select(
            "series_id",
            F.col("j").alias("i"),
            "rn",
            mu.alias("mu"),
            sig.alias("sig"),
            (
                sig
                <= F.lit(1e-7) * F.greatest(F.lit(1.0), F.abs(mu))
            ).alias("is_const"),
        )
    )
    # pair generation: each series collapses to ONE row carrying its
    # value ARRAY (w <= 2048 doubles, ~16 KB), fanned out to one row
    # per window start i (w-M+1 rows/series, repartitioned so the
    # O(w²) arithmetic spreads over every core), and QT(i, d) =
    # Σ_{t<M} x[i+t]·x[i+d+t] is evaluated INSIDE a transform over the
    # diagonal range — the pair frame is born as (series_id, i, d, qt)
    # scalars with NO shuffle, NO sort, and no per-pair array copies
    # (the array dies inside the projection).  Each product is a
    # double multiply cast to decimal(30,12) and the 8 terms chain-add
    # in decimal.  The narrow cast matters: Spark's add rule gives
    # (30,12)+(30,12) -> (31,12) and precision then grows +1 per term
    # (last add lands at (37,12) <= 38), so the SCALE STAYS 12 through
    # the whole chain and every add is exact — had the products been
    # cast to decimal(38,12), allowPrecisionLoss would shave one scale
    # digit per add (12->11->...->6) and qt would carry ~5e-7 rounding
    # vs the oracle's scale-12 windowed SUM.  With scale pinned at 12,
    # decimal addition is exact hence associative, so the values are
    # bit-identical to the per-diagonal rolling decimal window sum this
    # replaces (which needed a 10M-row exchange + sort on
    # (series_id, d): measured 2-3x the runtime of this form).
    arr = (
        tail.groupBy("series_id", "w")
        .agg(
            F.array_sort(F.collect_list(F.struct("j", "value"))).alias(
                "__jv"
            )
        )
        .select("series_id", "w", F.col("__jv.value").alias("vals"))
    )
    # scale-adaptive spread for the O(w²) QT arithmetic: 2 waves per
    # task slot (local[32] → 64, same value the r12 constant pinned;
    # a cluster inherits its real slot count instead of a magic 64).
    # Round-robin repartition is row-count balanced — output is
    # independent of the partitioning (per-(i,d) scalar algebra).
    n_spread = 2 * spark.sparkContext.defaultParallelism
    per_i = arr.select(
        "series_id",
        "w",
        "vals",
        F.explode(
            F.sequence(F.lit(0), (F.col("w") - F.lit(M)).cast("int"))
        ).alias("i"),
    ).repartition(n_spread)

    def _qt_terms(d):
        at = lambda off: F.element_at(  # noqa: E731
            F.col("vals"), (F.col("i") + off).cast("int")
        )
        total = None
        for t in range(M):
            p = (at(F.lit(t + 1)) * at(d + F.lit(t + 1))).cast(
                "decimal(30,12)"
            )
            total = p if total is None else total + p
        return total.cast("double")

    d_hi = (F.col("w") - F.lit(M) - F.col("i")).cast("int")
    qt = per_i.select(
        "series_id",
        "i",
        F.explode(
            F.transform(
                F.when(
                    d_hi >= F.lit(EXCL + 1),
                    F.sequence(F.lit(EXCL + 1), d_hi),
                ).otherwise(F.array().cast("array<int>")),
                lambda d: F.struct(
                    d.alias("d"), _qt_terms(d).alias("qt")
                ),
            )
        ).alias("__dq"),
    ).select(
        "series_id", "i", F.col("__dq.d").alias("d"), F.col("__dq.qt").alias("qt")
    )
    sa = stats.select(
        "series_id", "i", F.col("rn").alias("rn_a"),
        F.col("mu").alias("mu_a"), F.col("sig").alias("sig_a"),
        F.col("is_const").alias("ca"),
    )
    sb = stats.select(
        "series_id", F.col("i").alias("ib"), F.col("rn").alias("rn_b"),
        F.col("mu").alias("mu_b"), F.col("sig").alias("sig_b"),
        F.col("is_const").alias("cb"),
    )
    pr = (
        qt.withColumn("ib", F.col("i") + F.col("d"))
        .join(F.broadcast(sa), ["series_id", "i"])
        .join(F.broadcast(sb), ["series_id", "ib"])
    )
    mm = F.lit(float(M))
    ssafe_a = F.when(F.col("ca"), F.lit(1.0)).otherwise(F.col("sig_a"))
    ssafe_b = F.when(F.col("cb"), F.lit(1.0)).otherwise(F.col("sig_b"))
    d2 = (
        F.when(F.col("ca") & F.col("cb"), F.lit(0.0))
        .when(F.col("ca") | F.col("cb"), F.lit(2.0) * mm)
        .otherwise(
            F.lit(2.0)
            * mm
            * (
                F.lit(1.0)
                - (F.col("qt") - mm * F.col("mu_a") * F.col("mu_b"))
                / (mm * ssafe_a * ssafe_b)
            )
        )
    )
    both = pr.select(
        "series_id",
        F.col("i").alias("wi"),
        F.col("rn_a").alias("rn"),
        d2.alias("d2"),
        F.col("ib").alias("nn"),
    ).unionByName(
        pr.select(
            "series_id",
            F.col("ib").alias("wi"),
            F.col("rn_b").alias("rn"),
            d2.alias("d2"),
            F.col("i").alias("nn"),
        )
    )
    best = both.groupBy("series_id", "wi", "rn").agg(
        F.min(F.struct("d2", "nn")).alias("b")
    )
    return best.select(
        "series_id",
        "rn",
        _rnd(
            F.sqrt(F.greatest(F.col("b.d2"), F.lit(0.0))), R
        ).alias("mp"),
        (F.col("b.nn") + F.lit(1)).cast("long").alias("nn_idx"),
    )


def q_matrix_profile_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the matrix profile over each series'
    last 128 points at m=8 (see ``_mp_fixed_plan``): the pair frame
    is k²/2 ≈ 7k rows per series, bounded regardless of series
    length."""
    return _mp_fixed_plan(spark, sf_dir, 128, 128)


ORACLES["matrix_profile_fixed"] = f"""
WITH {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 128),
tl AS (
  SELECT s.series_id, s.rn, s.value, s.rn - (c.n - 128) - 1 AS j
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - 128),
cum AS (
  SELECT series_id, j, rn,
         sum(CAST(value AS DECIMAL(38,12))) OVER wj AS c1,
         sum(CAST(value * value AS DECIMAL(38,12))) OVER wj AS c2
  FROM tl
  WINDOW wj AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
segs AS (
  SELECT series_id, j, rn,
         CAST(lead(c1, 7) OVER wl
              - coalesce(lag(c1) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s1,
         CAST(lead(c2, 7) OVER wl
              - coalesce(lag(c2) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s2
  FROM cum
  WINDOW wl AS (PARTITION BY series_id ORDER BY j)),
stats AS (
  SELECT series_id, j AS i, rn,
         s1 / 8.0 AS mu,
         sqrt(greatest(s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0), 0.0)) AS sig,
         sqrt(greatest(s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0), 0.0))
           <= 1e-7 * greatest(1.0, abs(s1 / 8.0)) AS is_const
  FROM segs WHERE j <= 120),
prods AS (
  SELECT a.series_id, b.j - a.j AS d, a.j,
         a.value * b.value AS p
  FROM tl a JOIN tl b ON b.series_id = a.series_id
  WHERE b.j - a.j > 4 AND b.j - a.j <= 120),
pc AS (
  SELECT series_id, d, j,
         sum(CAST(p AS DECIMAL(38,12))) OVER wd AS cp
  FROM prods
  WINDOW wd AS (PARTITION BY series_id, d ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
qt AS (
  SELECT series_id, j AS i, d,
         CAST(lead(cp, 7) OVER wdl
              - coalesce(lag(cp) OVER wdl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS qt
  FROM pc
  WINDOW wdl AS (PARTITION BY series_id, d ORDER BY j)),
pr AS (
  SELECT q.series_id, q.i, q.i + q.d AS ib, q.qt,
         a.rn AS rn_a, a.mu AS mu_a, a.sig AS sig_a, a.is_const AS ca,
         b.rn AS rn_b, b.mu AS mu_b, b.sig AS sig_b, b.is_const AS cb
  FROM qt q
  JOIN stats a ON a.series_id = q.series_id AND a.i = q.i
  JOIN stats b ON b.series_id = q.series_id AND b.i = q.i + q.d
  WHERE q.qt IS NOT NULL AND q.i + q.d <= 120),
dd AS (
  SELECT series_id, i, ib, rn_a, rn_b,
         CASE WHEN ca AND cb THEN 0.0
              WHEN ca OR cb THEN 2.0 * 8.0
              ELSE 2.0 * 8.0 * (1.0 - (qt - 8.0 * mu_a * mu_b)
                   / (8.0 * (CASE WHEN ca THEN 1.0 ELSE sig_a END)
                          * (CASE WHEN cb THEN 1.0 ELSE sig_b END)))
         END AS d2
  FROM pr),
bth AS (
  SELECT series_id, i AS w, rn_a AS rn, d2, ib AS nn FROM dd
  UNION ALL
  SELECT series_id, ib AS w, rn_b AS rn, d2, i AS nn FROM dd),
best AS (
  SELECT series_id, w, rn,
         min({{'d2': d2, 'nn': nn}}) AS b
  FROM bth GROUP BY 1, 2, 3)
SELECT series_id, rn,
       round(sqrt(greatest(b.d2, 0.0)), {R}) AS mp,
       CAST(b.nn + 1 AS BIGINT) AS nn_idx
FROM best
"""


def q_matrix_profile_fixed_full(spark, sf_dir):
    """FULL-EXTENT hash-gated matrix-profile twin (r08 verdict item
    #1): the matrix-profile twin over each series' last
    ``w = least(n, 2048)`` points at m=8 — at the gate SF (sf0.01,
    ~2000-point series) the ENTIRE series, so the hash gate covers the
    extent the rows-only ``matrix_profile`` operator processes.  See
    ``_mp_fixed_plan``."""
    return _mp_fixed_plan(spark, sf_dir, 2048, 64)


ORACLES["matrix_profile_fixed_full"] = f"""
WITH {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n, least(count(*), 2048) AS w
  FROM s GROUP BY 1
  HAVING count(*) >= 64),
tl AS (
  SELECT s.series_id, s.rn, s.value, s.rn - (c.n - c.w) - 1 AS j, c.w
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - c.w),
segs AS (
  SELECT series_id, j, rn, w,
         CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wr AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) OVER wr
              AS DOUBLE) AS s2
  FROM tl
  WINDOW wr AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
stats AS (
  SELECT series_id, j AS i, rn,
         s1 / 8.0 AS mu,
         sqrt(greatest(s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0), 0.0)) AS sig,
         sqrt(greatest(s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0), 0.0))
           <= 1e-7 * greatest(1.0, abs(s1 / 8.0)) AS is_const
  FROM segs WHERE j <= w - 8),
prods AS (
  SELECT a.series_id, b.j - a.j AS d, a.j, a.w,
         a.value * b.value AS p
  FROM tl a JOIN tl b ON b.series_id = a.series_id
  WHERE b.j - a.j > 4 AND b.j - a.j <= a.w - 8),
qt AS (
  SELECT series_id, j AS i, d,
         CAST(sum(CAST(p AS DECIMAL(38,12))) OVER wdr AS DOUBLE) AS qt
  FROM prods
  WINDOW wdr AS (PARTITION BY series_id, d ORDER BY j
                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
  QUALIFY j + d <= w - 8),
pr AS (
  SELECT q.series_id, q.i, q.i + q.d AS ib, q.qt,
         a.rn AS rn_a, a.mu AS mu_a, a.sig AS sig_a, a.is_const AS ca,
         b.rn AS rn_b, b.mu AS mu_b, b.sig AS sig_b, b.is_const AS cb
  FROM qt q
  JOIN stats a ON a.series_id = q.series_id AND a.i = q.i
  JOIN stats b ON b.series_id = q.series_id AND b.i = q.i + q.d),
dd AS (
  SELECT series_id, i, ib, rn_a, rn_b,
         CASE WHEN ca AND cb THEN 0.0
              WHEN ca OR cb THEN 2.0 * 8.0
              ELSE 2.0 * 8.0 * (1.0 - (qt - 8.0 * mu_a * mu_b)
                   / (8.0 * (CASE WHEN ca THEN 1.0 ELSE sig_a END)
                          * (CASE WHEN cb THEN 1.0 ELSE sig_b END)))
         END AS d2
  FROM pr),
bth AS (
  SELECT series_id, i AS wi, rn_a AS rn, d2, ib AS nn FROM dd
  UNION ALL
  SELECT series_id, ib AS wi, rn_b AS rn, d2, i AS nn FROM dd),
best AS (
  SELECT series_id, wi, rn,
         min({{'d2': d2, 'nn': nn}}) AS b
  FROM bth GROUP BY 1, 2, 3)
SELECT series_id, rn,
       round(sqrt(greatest(b.d2, 0.0)), {R}) AS mp,
       CAST(b.nn + 1 AS BIGINT) AS nn_idx
FROM best
"""


def q_matrix_profile_tiled(spark, sf_dir):
    """The matrix profile's 100 TB path, exercised as its own gate
    query: SCAMP-style tile-pair decomposition (Zimmerman et al. SoCC
    2019) — T(T+1)/2 bounded-state AB-join tasks per series,
    min-merged — instead of one whole-series STOMP task.  Rows-only
    (same recurrence-free kernels, still non-SQL); the parity test
    pins agreement with the monolithic profile and identical discord
    ranking."""
    from ..functions.matrix_profile import matrix_profile_tiled

    # tile sized so the gate SFs run ~15 pair-kernels per series (the
    # distributed shape) without drowning local[32] in task overhead;
    # at real scale the knob trades per-task memory for task count
    out = matrix_profile_tiled(_series(spark, sf_dir), m=24, tile=4096)
    return out.select(
        "series_id", "rn",
        _rnd("mp", R).alias("mp"),
        "nn_idx", "is_discord",
    )


def q_shesd_flags(spark, sf_dir):
    """Seasonal Hybrid ESD (Twitter AnomalyDetection, arXiv:1704.07706):
    STL seasonal removal + median centering, then a generalized ESD
    test with robust scores decides HOW MANY anomalies are significant.
    Iterative per series → rows-only gate; the ESD core is unit-tested
    against a naive reference implementation."""
    from ..functions.shesd import shesd_flags

    out = shesd_flags(_series(spark, sf_dir), period=24)
    return out.select(
        "series_id", "rn",
        _rnd("resid", R).alias("resid"),
        "anomaly",
    )


def _shesd_lams(n: int = 128, alpha: float = 0.05, k: int = 6):
    """ESD critical values λ_i for the fixed twin, computed once from
    the engine's own scipy-free t-quantile (functions/shesd.t_ppf) and
    rounded to 12 decimals — shared literals, so the one
    transcendental chain (normal PPF expansion) never runs inside
    either engine."""
    import math

    from ..functions.shesd import t_ppf

    out = []
    for i in range(1, k + 1):
        m = n - i + 1
        p = 1 - alpha / (2 * m)
        t = t_ppf(p, m - 2)
        out.append(round((m - 1) * t / math.sqrt((m - 2 + t * t) * m), 12))
    return out


_SHESD_LAMS = _shesd_lams()


# λ critical values for EVERY test-set size an S-H-ESD twin can see
# (w = least(n, 2048), n >= 128) — one shared literal table, so
# the t-quantile transcendental chain never runs inside either engine
# (the literal-table recipe that made harmonic_forecast_fixed exact)
_SHESD_LAM_TABLE = [
    (w, *_shesd_lams(w)) for w in range(128, 2049)
]


def _shesd_fixed_plan(spark, sf_dir, cap, min_n):
    """Shared builder for the hash-gated S-H-ESD twins: each series'
    last ``w = least(n, cap)`` points (series with ``n >= min_n``),
    period-24 seasonal medians + overall-median centering (exact
    percentiles — engine-identical), then K=6 generalized-ESD rounds
    with robust median/MAD scores.

    The iterative remove-the-max loop UNROLLS: K is fixed, so each
    round is a block of deterministic column algebra over the
    remaining-values array (sorted-array medians with the midpoint
    rule, strict-> argmax fold keeping the first max like np.argmax,
    λ_i compare, list_filter removal) — Spark chains six withColumn
    blocks, DuckDB chains six CTE blocks, no recursion needed.  The
    ESD critical values λ_i depend on the test-set size, so the twin
    joins the shared literal table ``_SHESD_LAM_TABLE`` (λ_1..λ_6 for
    every w in [128, 2048], precomputed from the engine's own
    t-quantile and rounded to 12 decimals) as a broadcast frame; the
    128-point oracle bakes the same w=128 row in as literals, the
    full-extent one joins the table as a VALUES list.  Every op is
    fixed-order double algebra on exact-median / raw-double inputs,
    so the gate is exact.  The anomaly count is the largest i whose
    test statistic exceeded λ_i (the paper's rule); flags mark the
    first n_det removed points."""
    PERIOD, K = 24, 6
    tail = (
        _last_w(spark, sf_dir, cap, min_n)
        .select("series_id", "rn", "value", "j", "w")
        .withColumn("pos", (F.col("j") % F.lit(PERIOD)).cast("int"))
    )
    seas = tail.groupBy("series_id", "pos").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("seasonal")
    )
    detr = tail.join(F.broadcast(seas), ["series_id", "pos"]).withColumn(
        "detr", F.col("value") - F.col("seasonal")
    )
    medall = detr.groupBy("series_id").agg(
        F.percentile(F.col("detr"), F.lit(0.5)).alias("med_all")
    )
    rz = detr.join(F.broadcast(medall), "series_id").withColumn(
        "resid", F.col("detr") - F.col("med_all")
    )
    lam_df = spark.createDataFrame(
        _SHESD_LAM_TABLE,
        "w int, lam1 double, lam2 double, lam3 double, "
        "lam4 double, lam5 double, lam6 double",
    )
    ser = (
        rz.groupBy("series_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("j").cast("int").alias("idx"),
                            F.col("resid").alias("v"),
                        )
                    )
                ),
                lambda t: F.struct(t["v"].alias("v"), t["idx"].alias("idx")),
            ).alias("st0"),
            F.max("w").cast("int").alias("w"),
        )
        .withColumn("cands0", F.array().cast("array<int>"))
        .withColumn("ndet0", F.lit(0))
        .join(F.broadcast(lam_df), "w")
    )

    def arr_median(ls):
        m = F.size(ls)
        half = (m / F.lit(2)).cast("int")
        return F.when(
            m % 2 == 1,
            F.element_at(ls, ((m + F.lit(1)) / F.lit(2)).cast("int")),
        ).otherwise(
            (F.element_at(ls, half) + F.element_at(ls, half + F.lit(1)))
            / F.lit(2.0)
        )

    for i in range(1, K + 1):
        p = f"st{i - 1}"
        av_sorted = F.array_sort(F.transform(F.col(p), lambda t: t["v"]))
        ser = ser.withColumn(f"med{i}", arr_median(av_sorted))
        ad_sorted = F.array_sort(
            F.transform(F.col(p), lambda t: F.abs(t["v"] - F.col(f"med{i}")))
        )
        ser = ser.withColumn(
            f"mad{i}", F.lit(1.4826) * arr_median(ad_sorted)
        )
        med_i, mad_i = F.col(f"med{i}"), F.col(f"mad{i}")
        best = F.aggregate(
            F.col(p),
            F.struct(
                F.lit(float("-inf")).alias("score"), F.lit(-1).alias("idx")
            ),
            lambda a, t: F.when(
                F.abs(t["v"] - med_i) / mad_i > a["score"],
                F.struct(
                    (F.abs(t["v"] - med_i) / mad_i).alias("score"),
                    t["idx"].alias("idx"),
                ),
            ).otherwise(a),
        )
        ser = ser.withColumn(f"best{i}", best)
        ok = mad_i >= F.lit(1e-12)
        bi = F.col(f"best{i}")
        ser = (
            ser.withColumn(
                f"st{i}",
                F.when(
                    ok,
                    F.filter(F.col(p), lambda t: t["idx"] != bi["idx"]),
                ).otherwise(F.col(p)),
            )
            .withColumn(
                f"cands{i}",
                F.when(
                    ok,
                    F.concat(
                        F.col(f"cands{i - 1}"), F.array(bi["idx"])
                    ),
                ).otherwise(F.col(f"cands{i - 1}")),
            )
            .withColumn(
                f"ndet{i}",
                F.when(
                    ok & (bi["score"] > F.col(f"lam{i}")),
                    F.lit(i),
                ).otherwise(F.col(f"ndet{i - 1}")),
            )
        )
    anoms = ser.select(
        "series_id",
        F.slice(F.col(f"cands{K}"), 1, F.col(f"ndet{K}")).alias("anoms"),
    )
    out = rz.join(F.broadcast(anoms), "series_id")
    return out.select(
        "series_id",
        "rn",
        _rnd("value", R).alias("value"),
        _rnd("resid", R).alias("resid"),
        F.array_contains(
            F.col("anoms"), F.col("j").cast("int")
        ).cast("int").alias("anomaly"),
    )


def q_shesd_fixed(spark, sf_dir):
    """Hash-gated fixed twin of S-H-ESD over each series' last 128
    points (see ``_shesd_fixed_plan``)."""
    return _shesd_fixed_plan(spark, sf_dir, 128, 128)


def _shesd_fixed_sql() -> str:
    """DuckDB mirror of q_shesd_fixed: the K=6 ESD rounds unroll as
    CTE blocks (med/mad from sorted-list midpoint medians, argmax via
    a strict-> list_reduce keeping the first max, λ literals)."""
    steps = []
    for i in range(1, 7):
        p = f"s{i - 1}"
        lam = f"{_SHESD_LAMS[i - 1]:.12f}"
        steps.append(f"""
m{i} AS (
  SELECT series_id, st, cands, ndet,
         list_sort(list_transform(st, t -> t.v)) AS ls
  FROM {p}),
m{i}b AS (
  SELECT series_id, st, cands, ndet,
         CASE WHEN len(ls) % 2 = 1 THEN ls[(len(ls) + 1) // 2]
              ELSE (ls[len(ls) // 2] + ls[len(ls) // 2 + 1]) / 2.0
         END AS med
  FROM m{i}),
m{i}c AS (
  SELECT series_id, st, cands, ndet, med,
         list_sort(list_transform(st, t -> abs(t.v - med))) AS ad
  FROM m{i}b),
m{i}d AS (
  SELECT series_id, st, cands, ndet, med,
         1.4826 * (CASE WHEN len(ad) % 2 = 1 THEN ad[(len(ad) + 1) // 2]
                        ELSE (ad[len(ad) // 2] + ad[len(ad) // 2 + 1]) / 2.0
                   END) AS mad
  FROM m{i}c),
m{i}e AS (
  SELECT series_id, st, cands, ndet, med, mad,
         list_reduce(
           list_transform(st, t -> {{'score': abs(t.v - med) / mad,
                                     'idx': t.idx}}),
           (a, b) -> CASE WHEN b.score > a.score THEN b ELSE a END)
           AS best
  FROM m{i}d),
s{i} AS (
  SELECT series_id,
         CASE WHEN mad >= 1e-12
              THEN list_filter(st, t -> t.idx != best.idx)
              ELSE st END AS st,
         CASE WHEN mad >= 1e-12
              THEN list_append(cands, best.idx)
              ELSE cands END AS cands,
         CASE WHEN mad >= 1e-12 AND best.score > {lam}
              THEN {i} ELSE ndet END AS ndet
  FROM m{i}e)""")
    step_sql = ",".join(steps)
    return f"""
WITH {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 128),
tl AS (
  SELECT s.series_id, s.rn, s.value,
         s.rn - (c.n - 128) - 1 AS j,
         CAST((s.rn - (c.n - 128) - 1) % 24 AS INT) AS pos
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - 128),
seas AS (
  SELECT series_id, pos, quantile_cont(value, 0.5) AS seasonal
  FROM tl GROUP BY 1, 2),
detr AS (
  SELECT t.series_id, t.rn, t.j, t.value,
         t.value - se.seasonal AS detr
  FROM tl t JOIN seas se ON se.series_id = t.series_id
                        AND se.pos = t.pos),
medall AS (
  SELECT series_id, quantile_cont(detr, 0.5) AS med_all
  FROM detr GROUP BY 1),
rz AS (
  SELECT d.series_id, d.rn, d.j, d.value,
         d.detr - m.med_all AS resid
  FROM detr d JOIN medall m USING (series_id)),
s0 AS (
  SELECT series_id,
         list_transform(
           list_sort(list(
             {{'idx': CAST(j AS INT), 'v': resid}})),
           t -> {{'v': t.v, 'idx': t.idx}}) AS st,
         []::INT[] AS cands,
         0 AS ndet
  FROM rz GROUP BY 1),
{step_sql},
an AS (
  SELECT series_id, cands[1:ndet] AS anoms FROM s6)
SELECT r.series_id, r.rn,
       round(r.value, {R}) AS value,
       round(r.resid, {R}) AS resid,
       CAST(CASE WHEN list_contains(a.anoms, CAST(r.j AS INT))
            THEN 1 ELSE 0 END AS INT) AS anomaly
FROM rz r JOIN an a USING (series_id)
"""


ORACLES["shesd_fixed"] = _shesd_fixed_sql()
ORACLES["acf_fft_fixed"] = _acf_fft_fixed_sql()
ORACLES["acf_fft_fixed_512"] = _acf_fft_fixed_sql(512, 1024, 16)


def q_shesd_fixed_full(spark, sf_dir):
    """FULL-EXTENT hash-gated S-H-ESD twin (r08 verdict item #1): the
    S-H-ESD twin over each series' last ``w = least(n, 2048)`` points
    — the ENTIRE series at the gate SF (sf0.01, ~2000 points), so the
    hash gate covers the extent the rows-only ``shesd_flags``
    operator processes.  See ``_shesd_fixed_plan``."""
    return _shesd_fixed_plan(spark, sf_dir, 2048, 128)


def _shesd_fixed_full_sql() -> str:
    """DuckDB mirror of q_shesd_fixed_full: the K=6 rounds unroll as
    CTE blocks exactly like ``_shesd_fixed_sql``, but λ comes from the
    shared per-w literal table instead of n=128 constants."""
    lam_rows = ",\n".join(
        "(%d, %.12f, %.12f, %.12f, %.12f, %.12f, %.12f)" % row
        for row in _SHESD_LAM_TABLE
    )
    steps = []
    for i in range(1, 7):
        p = f"s{i - 1}"
        steps.append(f"""
m{i} AS (
  SELECT series_id, st, cands, ndet, lam{i},
         {"lam" + ", lam".join(str(k) for k in range(i + 1, 7)) + "," if i < 6 else ""}
         list_sort(list_transform(st, t -> t.v)) AS ls
  FROM {p}),
m{i}b AS (
  SELECT * EXCLUDE (ls),
         CASE WHEN len(ls) % 2 = 1 THEN ls[(len(ls) + 1) // 2]
              ELSE (ls[len(ls) // 2] + ls[len(ls) // 2 + 1]) / 2.0
         END AS med
  FROM m{i}),
m{i}c AS (
  SELECT * EXCLUDE (med), med,
         list_sort(list_transform(st, t -> abs(t.v - med))) AS ad
  FROM m{i}b),
m{i}d AS (
  SELECT * EXCLUDE (ad, med), med,
         1.4826 * (CASE WHEN len(ad) % 2 = 1 THEN ad[(len(ad) + 1) // 2]
                        ELSE (ad[len(ad) // 2] + ad[len(ad) // 2 + 1]) / 2.0
                   END) AS mad
  FROM m{i}c),
m{i}e AS (
  SELECT * EXCLUDE (sc, mx), list_filter(sc, t -> t.score = mx)[1] AS best
  FROM (
    SELECT *, list_max(list_transform(sc, t -> t.score)) AS mx
    FROM (
      SELECT * EXCLUDE (med, mad), med, mad,
             list_transform(st, t -> {{'score': abs(t.v - med) / mad,
                                       'idx': t.idx}}) AS sc
      FROM m{i}d))),
s{i} AS (
  SELECT series_id,
         {"lam" + ", lam".join(str(k) for k in range(i + 1, 7)) + "," if i < 6 else ""}
         CASE WHEN mad >= 1e-12
              THEN list_filter(st, t -> t.idx != best.idx)
              ELSE st END AS st,
         CASE WHEN mad >= 1e-12
              THEN list_append(cands, best.idx)
              ELSE cands END AS cands,
         CASE WHEN mad >= 1e-12 AND best.score > lam{i}
              THEN {i} ELSE ndet END AS ndet
  FROM m{i}e)""")
    step_sql = ",".join(steps)
    return f"""
WITH {SQL_S},
lams(w, lam1, lam2, lam3, lam4, lam5, lam6) AS (VALUES
{lam_rows}),
cnt AS (
  SELECT series_id, count(*) AS n,
         CAST(least(count(*), 2048) AS INT) AS w
  FROM s GROUP BY 1
  HAVING count(*) >= 128),
tl AS (
  SELECT s.series_id, s.rn, s.value,
         s.rn - (c.n - c.w) - 1 AS j,
         CAST((s.rn - (c.n - c.w) - 1) % 24 AS INT) AS pos
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - c.w),
seas AS (
  SELECT series_id, pos, quantile_cont(value, 0.5) AS seasonal
  FROM tl GROUP BY 1, 2),
detr AS (
  SELECT t.series_id, t.rn, t.j, t.value,
         t.value - se.seasonal AS detr
  FROM tl t JOIN seas se ON se.series_id = t.series_id
                        AND se.pos = t.pos),
medall AS (
  SELECT series_id, quantile_cont(detr, 0.5) AS med_all
  FROM detr GROUP BY 1),
rz AS (
  SELECT d.series_id, d.rn, d.j, d.value,
         d.detr - m.med_all AS resid
  FROM detr d JOIN medall m USING (series_id)),
s0 AS (
  SELECT g.series_id,
         l.lam1, l.lam2, l.lam3, l.lam4, l.lam5, l.lam6,
         g.st, g.cands, g.ndet
  FROM (
    SELECT series_id,
           list_transform(
             list_sort(list(
               {{'idx': CAST(j AS INT), 'v': resid}})),
             t -> {{'v': t.v, 'idx': t.idx}}) AS st,
           []::INT[] AS cands,
           0 AS ndet
    FROM rz GROUP BY 1) g
  JOIN cnt c USING (series_id)
  JOIN lams l ON l.w = c.w),
{step_sql},
an AS (
  SELECT series_id, cands[1:ndet] AS anoms FROM s6)
SELECT r.series_id, r.rn,
       round(r.value, {R}) AS value,
       round(r.resid, {R}) AS resid,
       CAST(CASE WHEN list_contains(a.anoms, CAST(r.j AS INT))
            THEN 1 ELSE 0 END AS INT) AS anomaly
FROM rz r JOIN an a USING (series_id)
"""


ORACLES["shesd_fixed_full"] = _shesd_fixed_full_sql()


def _baseline_long(s):
    """(model, series_id, rn, value, pred_mean) for the three baseline
    forecasters on the Test split — shared by q_baseline_forecasts and
    the forecast leaderboard."""
    w = Window.partitionBy("series_id").orderBy("rn")
    nn = s.groupBy("series_id").agg(F.max("rn").alias("__n"))
    nn = nn.withColumn("__T", F.floor(F.col("__n") * 0.75).cast("long"))
    anchors = (
        s.join(F.broadcast(nn), "series_id")
        .where((F.col("rn") == 1) | (F.col("rn") == F.col("__T")))
        .groupBy("series_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("__y1"),
            F.max(F.when(F.col("rn") == F.col("__T"), F.col("value"))).alias("__yT"),
        )
    )
    base = (
        s.withColumn("__p_naive", F.lag("value", 1).over(w))
        .withColumn("__p_snaive", F.lag("value", 24).over(w))
        .join(F.broadcast(nn), "series_id")
        .join(F.broadcast(anchors), "series_id")
        .where(F.col("rn") > F.col("__T"))
    )
    drift = F.col("__yT") + (F.col("rn") - F.col("__T")) * (
        (F.col("__yT") - F.col("__y1")) / (F.col("__T") - F.lit(1)).cast("double")
    )
    frames = [
        base.select(
            F.lit("naive").alias("model"), "series_id", "rn", "value",
            F.col("__p_naive").alias("pred_mean"),
        ),
        base.select(
            F.lit("seasonal_naive").alias("model"), "series_id", "rn", "value",
            F.col("__p_snaive").alias("pred_mean"),
        ),
        base.select(
            F.lit("drift").alias("model"), "series_id", "rn", "value",
            drift.alias("pred_mean"),
        ),
    ]
    return frames[0].unionByName(frames[1]).unionByName(frames[2])


def q_baseline_forecasts(spark, sf_dir):
    """Standard forecast baselines (naive / seasonal-naive / drift)
    backtested on the Test split with the engine's accuracy table —
    the sanity floor every model leaderboard needs: a model that can't
    beat seasonal-naive isn't forecasting.  Pure window algebra +
    one grouped aggregate per model, unioned; fully hash-gated."""
    from ..operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    out = forecast_accuracy(_baseline_long(s), keys=("model", "series_id"))
    return out.select(
        "model", "series_id", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("mape", R).alias("mape"),
        _rnd("smape", R).alias("smape"),
    )


def q_forecast_leaderboard(spark, sf_dir):
    """Five forecasters — naive / seasonal-naive / drift / theta /
    AR(1) — scored on the SAME Test split and RANKED per series by
    RMSE: the model-selection table, fully hash-gated (every branch is
    itself oracled algebra; ranks compare bit-identical doubles)."""
    from ..functions.ar import ar1_forecast_native
    from ..functions.theta import theta_forecast
    from ..operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    nn = s.groupBy("series_id").agg(
        F.floor(F.max("rn") * 0.75).cast("long").alias("__T")
    )
    theta = theta_forecast(s).select(
        F.lit("theta").alias("model"), "series_id", "rn", "value", "pred_mean"
    )
    ar1 = (
        ar1_forecast_native(s)
        .join(F.broadcast(nn), "series_id")
        .where(F.col("rn") > F.col("__T"))
        .where(F.col("pred_mean").isNotNull())
        .select(
            F.lit("ar1").alias("model"), "series_id", "rn", "value", "pred_mean"
        )
    )
    long = _baseline_long(s).unionByName(theta).unionByName(ar1)
    acc = forecast_accuracy(long, keys=("model", "series_id"))
    wr = Window.partitionBy("series_id").orderBy(
        F.col("rmse").asc(), F.col("model").asc()
    )
    return acc.withColumn("rank", F.row_number().over(wr)).select(
        "series_id", "model", "rank", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("smape", R).alias("smape"),
    )


ORACLES["forecast_leaderboard"] = f"""
WITH RECURSIVE {SQL_S},
nn AS (SELECT series_id, max(rn) AS n,
              CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
       FROM s GROUP BY 1),
an AS (
  SELECT s.series_id,
         max(CASE WHEN s.rn = 1 THEN s.value END) AS y1,
         max(CASE WHEN s.rn = nn.T THEN s.value END) AS yT
  FROM s JOIN nn USING (series_id)
  WHERE s.rn = 1 OR s.rn = nn.T GROUP BY 1),
lg AS (
  SELECT series_id, rn, value,
         lag(value, 1) OVER (PARTITION BY series_id ORDER BY rn) AS p_naive,
         lag(value, 24) OVER (PARTITION BY series_id ORDER BY rn) AS p_snaive
  FROM s),
base AS (
  SELECT lg.series_id, lg.rn, lg.value, lg.p_naive, lg.p_snaive,
         an.yT + (lg.rn - nn.T)
              * ((an.yT - an.y1) / CAST(nn.T - 1 AS DOUBLE)) AS p_drift
  FROM lg JOIN nn USING (series_id) JOIN an USING (series_id)
  WHERE lg.rn > nn.T),
tr AS (SELECT s.series_id, s.rn, s.value
       FROM s JOIN nn USING (series_id) WHERE s.rn <= nn.T),
fsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(CAST(rn AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) AS st,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)
                       AS DECIMAL(38,12))) AS DOUBLE) AS stt,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * value AS DECIMAL(38,12)))
              AS DOUBLE) AS sty
  FROM tr GROUP BY 1),
f0 AS (
  SELECT series_id, n, st, sy,
         (n * sty - st * sy) / (n * stt - st * st) AS b
  FROM fsum),
ft AS (SELECT series_id, b, (sy - b * st) / n AS a FROM f0),
l2 AS (
  SELECT tr.series_id, tr.rn,
         2e0 * tr.value - (ft.a + ft.b * CAST(tr.rn AS DOUBLE)) AS l
  FROM tr JOIN ft USING (series_id)),
rec AS (
  SELECT series_id, rn, CAST(l AS DOUBLE) AS sv FROM l2 WHERE rn = 1
  UNION ALL
  SELECT q.series_id, q.rn, r.sv + 0.25 * (q.l - r.sv) AS sv
  FROM rec r JOIN l2 q
    ON q.series_id = r.series_id AND q.rn = r.rn + 1),
sT AS (
  SELECT r.series_id, r.sv AS s_T
  FROM rec r JOIN nn ON nn.series_id = r.series_id AND r.rn = nn.T),
alag AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM alag WHERE prev IS NOT NULL GROUP BY 1),
af0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
af AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM af0),
longf AS (
  SELECT 'naive' AS model, series_id, value AS a, p_naive AS p
  FROM base WHERE p_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive', series_id, value, p_snaive
  FROM base WHERE p_snaive IS NOT NULL
  UNION ALL
  SELECT 'drift', series_id, value, p_drift
  FROM base WHERE p_drift IS NOT NULL
  UNION ALL
  SELECT 'theta', te.series_id, te.value,
         5e-1 * (ft.a + ft.b * CAST(te.rn AS DOUBLE)) + 5e-1 * sT.s_T
  FROM (SELECT s.series_id, s.rn, s.value
        FROM s JOIN nn USING (series_id) WHERE s.rn > nn.T) te
  JOIN ft USING (series_id) JOIN sT USING (series_id)
  UNION ALL
  SELECT 'ar1', al.series_id, al.value,
         af.icept + af.slope * al.prev
  FROM alag al JOIN af USING (series_id) JOIN nn USING (series_id)
  WHERE al.prev IS NOT NULL AND al.rn > nn.T),
ag AS (
  SELECT model, series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM longf GROUP BY 1, 2),
mt AS (
  SELECT model, series_id, n,
         sae / n AS mae, sqrt(sse / n) AS rmse, ssm / n AS smape
  FROM ag),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY rmse ASC, model ASC) AS rank
  FROM mt)
SELECT series_id, model, rank, n,
       round(mae, {R}) AS mae,
       round(rmse, {R}) AS rmse,
       round(smape, {R}) AS smape
FROM rk
"""


ORACLES_BASELINE_BODY = """
nn AS (SELECT series_id, max(rn) AS n,
              CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
       FROM s GROUP BY 1),
an AS (
  SELECT s.series_id,
         max(CASE WHEN s.rn = 1 THEN s.value END) AS y1,
         max(CASE WHEN s.rn = nn.T THEN s.value END) AS yT
  FROM s JOIN nn USING (series_id)
  WHERE s.rn = 1 OR s.rn = nn.T GROUP BY 1),
lg AS (
  SELECT series_id, rn, value,
         lag(value, 1) OVER (PARTITION BY series_id ORDER BY rn) AS p_naive,
         lag(value, 24) OVER (PARTITION BY series_id ORDER BY rn) AS p_snaive
  FROM s),
base AS (
  SELECT lg.series_id, lg.rn, lg.value, lg.p_naive, lg.p_snaive,
         an.yT + (lg.rn - nn.T)
              * ((an.yT - an.y1) / CAST(nn.T - 1 AS DOUBLE)) AS p_drift
  FROM lg JOIN nn USING (series_id) JOIN an USING (series_id)
  WHERE lg.rn > nn.T),
longf AS (
  SELECT 'naive' AS model, series_id, value AS a, p_naive AS p
  FROM base WHERE p_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive', series_id, value, p_snaive
  FROM base WHERE p_snaive IS NOT NULL
  UNION ALL
  SELECT 'drift', series_id, value, p_drift
  FROM base WHERE p_drift IS NOT NULL),
ag AS (
  SELECT model, series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(abs(a - p) / (abs(a) + 1e-9) AS DECIMAL(38,12)))
              AS DOUBLE) AS sape,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM longf GROUP BY 1, 2)
"""

ORACLES["baseline_forecasts"] = f"""
WITH {SQL_S},{ORACLES_BASELINE_BODY}
SELECT model, series_id, n,
       round(sae / n, {R}) AS mae,
       round(sqrt(sse / n), {R}) AS rmse,
       round(sape / n, {R}) AS mape,
       round(ssm / n, {R}) AS smape
FROM ag
"""


def q_forecast_mase(spark, sf_dir):
    """MASE (Hyndman & Koehler 2006; the M4 headline metric) for the
    three baseline forecasters: test-split MAE scaled by the TRAIN
    split's in-sample one-step naive MAE — the scale-free accuracy
    number that makes series comparable (MASE > 1 = worse than naive).
    Completes the accuracy family (MAE/RMSE/MAPE/sMAPE are scored by
    forecast_accuracy); denominator is model-independent per series,
    computed once and broadcast.  Fully hash-gated: both numerator
    and denominator are exact-decimal means of bit-identical doubles."""
    from ..operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    acc = forecast_accuracy(_baseline_long(s), keys=("model", "series_id"))
    w = Window.partitionBy("series_id").orderBy("rn")
    nn = s.groupBy("series_id").agg(
        F.floor(F.max("rn") * 0.75).cast("long").alias("__T")
    )
    d = (
        s.withColumn("__prev", F.lag("value", 1).over(w))
        .join(F.broadcast(nn), "series_id")
        .where((F.col("rn") >= 2) & (F.col("rn") <= F.col("__T")))
    )
    scale = d.groupBy("series_id").agg(
        (
            F.sum(F.abs(F.col("value") - F.col("__prev")).cast(DEC_T))
            .cast("double")
            / F.count("*")
        ).alias("scale")
    )
    out = acc.join(F.broadcast(scale), "series_id")
    return out.select(
        "model", "series_id", "n",
        _rnd("scale", R).alias("scale"),
        _rnd(F.col("mae") / F.col("scale"), R).alias("mase"),
    )


ORACLES["forecast_mase"] = f"""
WITH {SQL_S},{ORACLES_BASELINE_BODY},
nn2 AS (
  SELECT series_id, CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
  FROM s GROUP BY 1),
dtr AS (
  SELECT s.series_id, s.rn, nn2.T,
         abs(s.value - lag(s.value)
             OVER (PARTITION BY s.series_id ORDER BY s.rn)) AS ad
  FROM s JOIN nn2 USING (series_id)),
sc AS (
  SELECT series_id,
         CAST(sum(CAST(ad AS DECIMAL(38,12))) AS DOUBLE) / count(*)
           AS scale
  FROM dtr WHERE rn >= 2 AND rn <= T GROUP BY 1)
SELECT ag.model, ag.series_id, ag.n,
       round(sc.scale, {R}) AS scale,
       round((ag.sae / ag.n) / sc.scale, {R}) AS mase
FROM ag JOIN sc USING (series_id)
"""


# ---- trend_test: exact Mann-Kendall + Theil-Sen via the materialized
#      pair set (gate SF only; the engine side accumulates lag-wise) ----
ORACLES["trend_test"] = f"""
WITH {SQL_S},
pr AS (
  SELECT a.series_id,
         b.value - a.value AS dv,
         CAST(b.rn - a.rn AS DOUBLE) AS dr
  FROM s a JOIN s b
    ON a.series_id = b.series_id AND b.rn > a.rn),
mk AS (
  SELECT series_id, count(*) AS m,
         CAST(sum(CASE WHEN dv > 0 THEN 1
                       WHEN dv < 0 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM pr GROUP BY 1),
nn AS (SELECT series_id, count(*) AS n FROM s GROUP BY 1),
tg AS (SELECT series_id, value, count(*) AS t
       FROM s GROUP BY 1, 2 HAVING count(*) > 1),
tc AS (SELECT series_id,
              CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT) AS tie_term
       FROM nn LEFT JOIN tg USING (series_id) GROUP BY 1),
vs AS (
  SELECT nn.series_id, nn.n, mk.m, mk.s_stat, tc.tie_term,
         CAST(nn.n*(nn.n-1)*(2*nn.n+5) - tc.tie_term AS DOUBLE) / 1.8e1 AS var_s
  FROM nn JOIN mk USING (series_id) JOIN tc USING (series_id)),
sl AS (
  SELECT series_id, dv / dr AS slope FROM pr),
rk AS (
  SELECT series_id, slope,
         row_number() OVER (PARTITION BY series_id ORDER BY slope) AS r,
         count(*) OVER (PARTITION BY series_id) AS m
  FROM sl),
med AS (
  SELECT series_id, sum(slope) / count(*) AS sen_slope
  FROM rk WHERE r = (m+1)//2 OR r = (m+2)//2 GROUP BY 1)
SELECT vs.series_id, vs.n, vs.s_stat,
       round(CAST(vs.s_stat AS DOUBLE) / (5e-1 * vs.n * (vs.n-1)), {R}) AS tau,
       round(vs.var_s, {R}) AS var_s,
       round(CASE WHEN vs.s_stat > 0 AND vs.var_s > 0
                  THEN (vs.s_stat - 1) / sqrt(vs.var_s)
                  WHEN vs.s_stat < 0 AND vs.var_s > 0
                  THEN (vs.s_stat + 1) / sqrt(vs.var_s)
                  ELSE 0e0 END, {R}) AS z,
       round(med.sen_slope, {R}) AS sen_slope,
       CASE WHEN vs.var_s > 0 AND vs.s_stat > 0
                 AND (vs.s_stat - 1) / sqrt(vs.var_s) > 1.96e0
            THEN 'increasing'
            WHEN vs.var_s > 0 AND vs.s_stat < 0
                 AND (vs.s_stat + 1) / sqrt(vs.var_s) < -1.96e0
            THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM vs JOIN med USING (series_id)
"""

# ---- score_calibration: ECDF tail p-values over MAD z-scores ----
ORACLES["score_calibration"] = f"""
WITH {SQL_S}, {SQL_MAD},
cal AS (
  SELECT series_id, rn, z_mad,
         count(*) OVER (PARTITION BY series_id ORDER BY z_mad DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ge,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM mads)
SELECT series_id, rn, round(z_mad, {R}) AS z_mad,
       round(CAST(ge AS DOUBLE) / CAST(n AS DOUBLE), {R}) AS p_emp,
       CASE WHEN CAST(ge AS DOUBLE) / CAST(n AS DOUBLE) <= 2e-2
            THEN 1 ELSE 0 END AS flag
FROM cal
"""


_AGREE_DETS = ("w1", "hampel", "band", "diff", "ewma", "cusum")
_AGREE_PAIRS = [
    (a, b)
    for i, a in enumerate(_AGREE_DETS)
    for b in _AGREE_DETS[i + 1 :]
]


def q_detector_agreement(spark, sf_dir):
    """Pairwise agreement matrix over the six hash-gated detectors:
    co-flag counts (n11/n10/n01) and flag-set Jaccard for every
    detector pair per series — the "are my detectors redundant or
    complementary" diagnostic behind ensemble weight choices
    (``src/run_hybrid.py:106-116``).  Pure integer algebra over the
    consensus frame: ONE grouped aggregate with 45 conditional sums,
    unpivoted to 15 rows/series — no joins beyond what the consensus
    frame already does."""
    dc = q_detector_consensus(spark, sf_dir)
    aggs = []
    for a, b in _AGREE_PAIRS:
        fa, fb = F.col(f"{a}_flag"), F.col(f"{b}_flag")
        aggs += [
            F.sum((fa * fb)).cast("long").alias(f"__n11_{a}_{b}"),
            F.sum((fa * (1 - fb))).cast("long").alias(f"__n10_{a}_{b}"),
            F.sum(((1 - fa) * fb)).cast("long").alias(f"__n01_{a}_{b}"),
        ]
    wide = dc.groupBy("series_id").agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', __n11_{a}_{b}, __n10_{a}_{b}, __n01_{a}_{b}"
        for a, b in _AGREE_PAIRS
    )
    long = wide.selectExpr(
        "series_id",
        f"stack({len(_AGREE_PAIRS)}, {stack_args}) AS "
        "(det_a, det_b, n11, n10, n01)",
    )
    denom = F.col("n11") + F.col("n10") + F.col("n01")
    return long.select(
        "series_id", "det_a", "det_b", "n11", "n10", "n01",
        _rnd(
            F.when(denom > 0, F.col("n11").cast("double") / denom), R
        ).alias("jaccard"),
    )


def _agreement_oracle() -> str:
    sums = ",\n    ".join(
        f"CAST(sum({a}_flag * {b}_flag) AS BIGINT) AS n11_{a}_{b},\n"
        f"    CAST(sum({a}_flag * (1 - {b}_flag)) AS BIGINT) AS n10_{a}_{b},\n"
        f"    CAST(sum((1 - {a}_flag) * {b}_flag) AS BIGINT) AS n01_{a}_{b}"
        for a, b in _AGREE_PAIRS
    )
    union = "\nUNION ALL\n".join(
        f"SELECT series_id, '{a}' AS det_a, '{b}' AS det_b, "
        f"n11_{a}_{b} AS n11, n10_{a}_{b} AS n10, n01_{a}_{b} AS n01 FROM agw"
        for a, b in _AGREE_PAIRS
    )
    # MATERIALIZED: the 15-branch union references agw (hence the whole
    # recursive consensus pipeline) 15 times; without materialization
    # DuckDB inlines it per branch and the oracle takes minutes
    return f"""
WITH dcq AS MATERIALIZED ({ORACLES["detector_consensus"]}),
agw AS MATERIALIZED (
  SELECT series_id,
    {sums}
  FROM dcq GROUP BY 1)
SELECT series_id, det_a, det_b, n11, n10, n01,
       round(CASE WHEN n11 + n10 + n01 > 0
                  THEN CAST(n11 AS DOUBLE) / (n11 + n10 + n01) END, {R})
         AS jaccard
FROM ({union})
"""


# wraps the consensus oracle (registered far above), built lazily here
ORACLES["detector_agreement"] = _agreement_oracle()


def q_ensemble_forecast(spark, sf_dir):
    """Equal-weight forecast combination over the five oracled
    forecasters (naive / seasonal-naive / drift / theta / AR(1)) —
    the forecasting twin of the reference's detector fusion
    (``src/run_hybrid.py:106-116``): average the available per-row
    predictions, score the blend, and report it against the best
    single model per series.  The combination is the textbook
    robustness move (simple averages beat single models on M-series
    data); everything is the leaderboard's own algebra plus one
    grouped mean, so the whole thing hash-gates."""
    from ..functions.ar import ar1_forecast_native
    from ..functions.theta import theta_forecast
    from ..operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    nn = s.groupBy("series_id").agg(
        F.floor(F.max("rn") * 0.75).cast("long").alias("__T")
    )
    theta = theta_forecast(s).select(
        F.lit("theta").alias("model"), "series_id", "rn", "value", "pred_mean"
    )
    ar1 = (
        ar1_forecast_native(s)
        .join(F.broadcast(nn), "series_id")
        .where(F.col("rn") > F.col("__T"))
        .where(F.col("pred_mean").isNotNull())
        .select(
            F.lit("ar1").alias("model"), "series_id", "rn", "value", "pred_mean"
        )
    )
    long = (
        _baseline_long(s)
        .unionByName(theta)
        .unionByName(ar1)
        .where(F.col("pred_mean").isNotNull())
    )
    ens = long.groupBy("series_id", "rn").agg(
        F.max("value").alias("value"),
        (_dsum("pred_mean") / F.count("*")).alias("pred_mean"),
    )
    eacc = forecast_accuracy(ens, keys=("series_id",))
    sacc = forecast_accuracy(long, keys=("model", "series_id"))
    best = sacc.groupBy("series_id").agg(F.min("rmse").alias("rmse_best"))
    return eacc.join(best, "series_id").select(
        "series_id", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("smape", R).alias("smape"),
        _rnd("rmse_best", R).alias("rmse_best_single"),
        _rnd(F.col("rmse") / F.col("rmse_best"), R).alias("rmse_ratio"),
    )


def _ensemble_oracle() -> str:
    """Reuses the forecast_leaderboard oracle's model CTEs verbatim
    (sliced at its ``longf`` CTE), then swaps in a ``longf`` that
    carries ``rn`` so the per-row blend can group on it."""
    lead = ORACLES["forecast_leaderboard"]
    prefix = lead[: lead.index("longf AS (")]
    return (
        prefix
        + f"""longf AS (
  SELECT 'naive' AS model, series_id, rn, value AS a, p_naive AS p
  FROM base WHERE p_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive', series_id, rn, value, p_snaive
  FROM base WHERE p_snaive IS NOT NULL
  UNION ALL
  SELECT 'drift', series_id, rn, value, p_drift
  FROM base WHERE p_drift IS NOT NULL
  UNION ALL
  SELECT 'theta', te.series_id, te.rn, te.value,
         5e-1 * (ft.a + ft.b * CAST(te.rn AS DOUBLE)) + 5e-1 * sT.s_T
  FROM (SELECT s.series_id, s.rn, s.value
        FROM s JOIN nn USING (series_id) WHERE s.rn > nn.T) te
  JOIN ft USING (series_id) JOIN sT USING (series_id)
  UNION ALL
  SELECT 'ar1', al.series_id, al.rn, al.value,
         af.icept + af.slope * al.prev
  FROM alag al JOIN af USING (series_id) JOIN nn USING (series_id)
  WHERE al.prev IS NOT NULL AND al.rn > nn.T),
ens AS (
  SELECT series_id, rn, max(a) AS a,
         CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS p
  FROM longf GROUP BY 1, 2),
eag AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM ens GROUP BY 1),
emt AS (
  SELECT series_id, n, sae / n AS mae, sqrt(sse / n) AS rmse,
         ssm / n AS smape
  FROM eag),
sag AS (
  SELECT model, series_id, count(*) AS n,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse
  FROM longf GROUP BY 1, 2),
bs AS (
  SELECT series_id, min(sqrt(sse / n)) AS rmse_best
  FROM sag GROUP BY 1)
SELECT emt.series_id, emt.n,
       round(emt.mae, {R}) AS mae,
       round(emt.rmse, {R}) AS rmse,
       round(emt.smape, {R}) AS smape,
       round(bs.rmse_best, {R}) AS rmse_best_single,
       round(emt.rmse / bs.rmse_best, {R}) AS rmse_ratio
FROM emt JOIN bs USING (series_id)
"""
    )


ORACLES["ensemble_forecast"] = _ensemble_oracle()


def q_changepoint_segments(spark, sf_dir):
    """Changepoint SEGMENTATION, hash-gated: every series row assigned
    to the segment between consecutive reset-on-alarm CUSUM crossings
    (``cusum_alarms``), then one profile row per segment — n, span,
    exact-decimal mean/std and least-squares slope.  The "what regime
    is each era in" table consumers build from the reference's
    changepoint list (``src/changepoint.py:85-107``).  Scale shape:
    the alarm list is tiny (broadcast back), segment membership is a
    running sum over the series exchange every window already pays,
    and the profile is one grouped aggregate."""
    from ..functions.control import cusum_alarms

    s = _series(spark, sf_dir)
    al = (
        cusum_alarms(s)
        .select("series_id", "rn")
        .distinct()
        .withColumn("__ind", F.lit(1))
    )
    j = s.join(F.broadcast(al), ["series_id", "rn"], "left").withColumn(
        "__ind", F.coalesce("__ind", F.lit(0))
    )
    wrun = (
        Window.partitionBy("series_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = j.withColumn(
        "seg_id", (F.sum("__ind").over(wrun) - F.col("__ind")).cast("long")
    )
    rd = F.col("rn").cast("double")
    v = F.col("value")
    g = j.groupBy("series_id", "seg_id").agg(
        F.count("*").cast("long").alias("n"),
        F.min("rn").alias("start_rn"),
        F.max("rn").alias("end_rn"),
        _dsum(v).alias("__sy"),
        _dsum(v * v).alias("__syy"),
        _dsum(rd).alias("__st"),
        _dsum(rd * rd).alias("__stt"),
        _dsum(rd * v).alias("__sty"),
    )
    n = F.col("n")
    mean = F.col("__sy") / n
    var = (F.col("__syy") - F.col("__sy") * F.col("__sy") / n) / (n - 1)
    std = F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
    den = n * F.col("__stt") - F.col("__st") * F.col("__st")
    slope = F.when(
        (n >= 2) & (den != 0),
        (n * F.col("__sty") - F.col("__st") * F.col("__sy")) / den,
    )
    return g.select(
        "series_id", "seg_id", "start_rn", "end_rn", "n",
        _rnd(mean, R).alias("seg_mean"),
        _rnd(std, R).alias("seg_std"),
        _rnd(slope, R).alias("seg_slope"),
    )


def _segments_oracle() -> str:
    """Reuses the cusum_alarms oracle's recursion verbatim (sliced at
    its final SELECT), then assigns segments by a running alarm count
    and profiles each segment."""
    ca = ORACLES["cusum_alarms"]
    prefix = ca[: ca.index("SELECT series_id, rn, 'up'")].rstrip()
    assert prefix.endswith(")")
    return (
        prefix
        + f""",
alx AS MATERIALIZED (
  SELECT DISTINCT series_id, rn FROM rec
  WHERE sp_raw > 5.0 OR sn_raw > 5.0),
jj AS (
  SELECT s.series_id, s.rn, s.value,
         CASE WHEN alx.rn IS NOT NULL THEN 1 ELSE 0 END AS ind
  FROM s LEFT JOIN alx ON alx.series_id = s.series_id AND alx.rn = s.rn),
sg AS (
  SELECT series_id, rn, value,
         CAST(sum(ind) OVER (PARTITION BY series_id ORDER BY rn
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ind
              AS BIGINT) AS seg_id
  FROM jj),
agx AS (
  SELECT series_id, seg_id,
         CAST(count(*) AS BIGINT) AS n,
         min(rn) AS start_rn, max(rn) AS end_rn,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(sum(CAST(CAST(rn AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) AS st,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)
                       AS DECIMAL(38,12))) AS DOUBLE) AS stt,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * value AS DECIMAL(38,12)))
              AS DOUBLE) AS sty
  FROM sg GROUP BY 1, 2)
SELECT series_id, seg_id, start_rn, end_rn, n,
       round(sy / n, {R}) AS seg_mean,
       round(CASE WHEN n >= 2
                  THEN sqrt(greatest((syy - sy * sy / n) / (n - 1), 0.0))
             END, {R}) AS seg_std,
       round(CASE WHEN n >= 2 AND (n * stt - st * st) <> 0
                  THEN (n * sty - st * sy) / (n * stt - st * st)
             END, {R}) AS seg_slope
FROM agx
"""
    )


ORACLES["changepoint_segments"] = _segments_oracle()


def q_pot_flags(spark, sf_dir):
    """Row-level EVT flags: every observation scored against the
    per-series POT/GPD threshold (``pot_threshold``) — the dense flag
    column consumers feed into the W5 event chain, with the tail
    membership alongside.  One broadcast join of the 1-row/series
    threshold frame; detection stays a scan-side projection."""
    from ..operators.evt import pot_threshold

    s = _series(spark, sf_dir)
    th = pot_threshold(s, q_level=0.98, target_p=1e-3).select(
        "series_id", "u", "z_q"
    )
    j = s.join(F.broadcast(th), "series_id")
    return j.select(
        "series_id", "rn",
        _rnd("value", R).alias("value"),
        (F.col("value") > F.col("u")).cast("int").alias("in_tail"),
        (F.col("value") > F.col("z_q")).cast("int").alias("flag"),
    )


def _pot_flags_oracle() -> str:
    """Reuses the pot_threshold oracle's CTEs verbatim (sliced at its
    final SELECT) so the UNROUNDED u/z_q drive the comparisons."""
    pt = ORACLES["pot_threshold"]
    prefix = pt[: pt.index("SELECT p3.series_id")].rstrip()
    return (
        prefix
        + f"""
SELECT s.series_id, s.rn, round(s.value, {R}) AS value,
       CASE WHEN s.value > p3.u THEN 1 ELSE 0 END AS in_tail,
       CASE WHEN s.value > p3.z_q THEN 1 ELSE 0 END AS flag
FROM s JOIN p3 USING (series_id)
"""
    )


# (pot_flags oracle registered just before queries(): it slices
# the pot_threshold oracle, which is defined further down)


def q_seasonal_heatmap(spark, sf_dir):
    """Hour-of-day × day-of-week profile grid per series (mean /
    exact-decimal std / count per cell) — the seasonality heatmap
    panel as a frame (S7 data side, same spirit as ``qq_plot`` /
    ``histogram_fit``), and the lookup table behind
    ``seasonal_profile_flags``.  One grouped aggregate; at 100 TB the
    grid stays |series|·168 rows."""
    s = _series(spark, sf_dir)
    v = F.col("value")
    g = s.groupBy(
        "series_id",
        F.hour("timestamp").cast("int").alias("hod"),
        (F.dayofweek("timestamp") - 1).cast("int").alias("dow"),
    ).agg(
        F.count("value").alias("n"),
        F.sum(v.cast(DEC_T)).cast("double").alias("__s1"),
        F.sum((v * v).cast(DEC_T)).cast("double").alias("__s2"),
    )
    mean = F.col("__s1") / F.col("n")
    var = (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("n")) / (
        F.col("n") - 1
    )
    std = F.when(F.col("n") >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
    return g.select(
        "series_id", "hod", "dow", "n",
        _rnd(mean, R).alias("cell_mean"),
        _rnd(std, R).alias("cell_std"),
    )


ORACLES["seasonal_heatmap"] = f"""
WITH {SQL_S},
g AS (
  SELECT series_id,
         CAST(hour(timestamp) AS INTEGER) AS hod,
         CAST(dayofweek(timestamp) AS INTEGER) AS dow,
         count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s GROUP BY 1, 2, 3)
SELECT series_id, hod, dow, n,
       round(s1 / n, {R}) AS cell_mean,
       round(CASE WHEN n >= 2
                  THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0))
             END, {R}) AS cell_std
FROM g
"""


def q_event_impact(spark, sf_dir):
    """Per-event impact quantification: every detected event (W5
    pipeline, same k=2 flags and gap-merge as ``detect_events``)
    enriched with its pre/during/post context-window means and the
    impact/recovery deltas — the "how big and did it recover" numbers
    analysts read off the reference's event plots
    (``src/plotting.py``).  Scale shape: the event table is tiny and
    rides a broadcast equi-join on series_id with the rn range as a
    post-filter; the decimal-sum means hash-gate."""
    ctx = 24
    s = _series(spark, sf_dir)
    flagged = adaptive_threshold_flags(s, k=2.0)
    # rename the event side before joining: ev derives from s, so a
    # direct self-join column reference would be ambiguous
    ev = flags_to_events(flagged, "flag", gap=3).select(
        F.col("series_id").alias("__esid"),
        F.col("event_id").alias("__eid"),
        "start_idx", "end_idx",
    )
    j = s.join(
        F.broadcast(ev),
        on=[
            F.col("series_id") == F.col("__esid"),
            F.col("rn") >= F.col("start_idx") - ctx,
            F.col("rn") <= F.col("end_idx") + ctx,
        ],
    ).select(
        "series_id",
        F.col("__eid").alias("evt_id"), "start_idx", "end_idx", "rn", "value",
        F.when(F.col("rn") < F.col("start_idx"), "pre")
        .when(F.col("rn") <= F.col("end_idx"), "during")
        .otherwise("post")
        .alias("role"),
    )

    def _mean(role):
        cnt = F.sum(F.when(F.col("role") == role, 1).otherwise(0)).cast("long")
        s1 = F.sum(
            F.when(F.col("role") == role, F.col("value"))
            .otherwise(F.lit(0.0))
            .cast(DEC_T)
        ).cast("double")
        return cnt, s1

    npre, spre = _mean("pre")
    ndur, sdur = _mean("during")
    npost, spost = _mean("post")
    agg = j.groupBy("series_id", "evt_id", "start_idx", "end_idx").agg(
        npre.alias("n_pre"), spre.alias("__spre"),
        ndur.alias("__ndur"), sdur.alias("__sdur"),
        npost.alias("n_post"), spost.alias("__spost"),
    )
    pre_m = F.when(F.col("n_pre") > 0, F.col("__spre") / F.col("n_pre"))
    dur_m = F.col("__sdur") / F.col("__ndur")
    post_m = F.when(F.col("n_post") > 0, F.col("__spost") / F.col("n_post"))
    return agg.select(
        "series_id", F.col("evt_id").alias("event_id"), "start_idx", "end_idx",
        (F.col("end_idx") - F.col("start_idx") + 1).cast("long").alias("duration"),
        "n_pre", "n_post",
        _rnd(pre_m, R).alias("pre_mean"),
        _rnd(dur_m, R).alias("during_mean"),
        _rnd(post_m, R).alias("post_mean"),
        _rnd(dur_m - pre_m, R).alias("impact"),
        _rnd(post_m - pre_m, R).alias("recovery"),
    )


ORACLES["event_impact"] = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_FLAGS_K2},
{_sql_events_keyed("flags2", "ev", "flag", 3)},
jx AS (
  SELECT ev.series_id, ev.event_id, ev.start_idx, ev.end_idx,
         s.rn, s.value,
         CASE WHEN s.rn < ev.start_idx THEN 'pre'
              WHEN s.rn <= ev.end_idx THEN 'during'
              ELSE 'post' END AS role
  FROM s JOIN ev ON s.series_id = ev.series_id
   AND s.rn >= ev.start_idx - 24 AND s.rn <= ev.end_idx + 24),
ag AS (
  SELECT series_id, event_id, start_idx, end_idx,
    CAST(sum(CASE WHEN role = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
    CAST(sum(CAST(CASE WHEN role = 'pre' THEN value ELSE 0.0 END
                  AS DECIMAL(38,12))) AS DOUBLE) AS spre,
    CAST(sum(CASE WHEN role = 'during' THEN 1 ELSE 0 END) AS BIGINT) AS ndur,
    CAST(sum(CAST(CASE WHEN role = 'during' THEN value ELSE 0.0 END
                  AS DECIMAL(38,12))) AS DOUBLE) AS sdur,
    CAST(sum(CASE WHEN role = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
    CAST(sum(CAST(CASE WHEN role = 'post' THEN value ELSE 0.0 END
                  AS DECIMAL(38,12))) AS DOUBLE) AS spost
  FROM jx GROUP BY 1, 2, 3, 4),
fin AS (
  SELECT series_id, event_id, start_idx, end_idx,
         CAST(end_idx - start_idx + 1 AS BIGINT) AS duration,
         n_pre, n_post,
         CASE WHEN n_pre > 0 THEN spre / n_pre END AS pre_mean,
         sdur / ndur AS during_mean,
         CASE WHEN n_post > 0 THEN spost / n_post END AS post_mean
  FROM ag)
SELECT series_id, event_id, start_idx, end_idx, duration, n_pre, n_post,
       round(pre_mean, {R}) AS pre_mean,
       round(during_mean, {R}) AS during_mean,
       round(post_mean, {R}) AS post_mean,
       round(during_mean - pre_mean, {R}) AS impact,
       round(post_mean - pre_mean, {R}) AS recovery
FROM fin
"""


def q_m4_downsample(spark, sf_dir):
    """Pixel-exact M4 downsampling (Jugel et al., VLDB 2014): each
    series reduced to the first/last/min/max survivors of 256 equal
    positional buckets — the constant-egress rendering frame behind
    the reference's full-resolution plots (``src/plotting.py:8-76``),
    the piece that still works when the series is 100 TB."""
    from ..operators.downsample import m4_downsample

    out = m4_downsample(_series(spark, sf_dir), n_buckets=256)
    return out.select(
        "series_id", "bucket", "rn",
        _rnd("value", R).alias("value"),
        "is_min", "is_max", "is_first", "is_last",
    )


ORACLES["m4_downsample"] = f"""
WITH {SQL_S},
np AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
b AS (
  SELECT s.series_id, s.rn, s.value,
         CAST(floor(CAST(s.rn - 1 AS DOUBLE) * 256.0
                    / CAST(np.n AS DOUBLE)) AS BIGINT) AS bucket
  FROM s JOIN np USING (series_id)),
r AS (
  SELECT series_id, bucket, rn, value,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY value ASC, rn ASC) = 1 THEN 1 ELSE 0 END AS is_min,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY value DESC, rn DESC) = 1 THEN 1 ELSE 0 END AS is_max,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY rn ASC) = 1 THEN 1 ELSE 0 END AS is_first,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY rn DESC) = 1 THEN 1 ELSE 0 END AS is_last
  FROM b)
SELECT series_id, bucket, rn, round(value, {R}) AS value,
       is_min, is_max, is_first, is_last
FROM r
WHERE is_min + is_max + is_first + is_last > 0
"""


def q_stl_anomaly(spark, sf_dir):
    """Decomposition-residual anomaly detection — the reference's
    STL-then-threshold idiom (``src/stl_model.py`` residual scoring)
    as one composite: hourly resample → classical decomposition →
    robust MAD z-score on the residual channel → flags.  Every stage
    is native column algebra, so the full pipeline hash-gates."""
    from ..operators.decompose import resample, classical_decompose
    from ..operators.scaling import mad_scores

    s = _series(spark, sf_dir)
    dc = classical_decompose(resample(s, "hour"), period=24)
    rr = dc.filter(F.col("resid").isNotNull())
    z = mad_scores(rr, value_col="resid", out_col="z")
    return z.select(
        "series_id",
        F.col("timestamp").cast("string").alias("bucket"),
        _rnd("resid", R).alias("resid"),
        _rnd("z", R).alias("z"),
        (F.col("z") > 3.0).cast("int").alias("flag"),
    )


ORACLES["stl_anomaly"] = f"""
WITH {SQL_S}, {SQL_RESAMPLE}, {SQL_DECOMP},
rr AS (SELECT series_id, bucket, resid FROM dc WHERE resid IS NOT NULL),
rmed AS (SELECT series_id, median(resid) AS med FROM rr GROUP BY 1),
rmad AS (
  SELECT rr.series_id, median(abs(rr.resid - rmed.med)) AS mad
  FROM rr JOIN rmed USING (series_id) GROUP BY 1),
rz AS (
  SELECT rr.series_id, rr.bucket, rr.resid,
         abs(rr.resid - rmed.med) / (1.4826 * rmad.mad + 1e-9) AS z
  FROM rr JOIN rmed USING (series_id) JOIN rmad USING (series_id))
SELECT series_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(resid, {R}) AS resid, round(z, {R}) AS z,
       CASE WHEN z > 3.0 THEN 1 ELSE 0 END AS flag
FROM rz
"""


def q_pot_threshold(spark, sf_dir):
    """EVT peaks-over-threshold threshold selection (Siffer et al.,
    KDD 2017): closed-form method-of-moments GPD fit to the excesses
    over the per-series 98th percentile, extrapolated to the 1e-3
    exceedance threshold — the heavy-tail-aware replacement for the
    reference's fixed k-sigma rules (``src/utils.py:40-72``)."""
    from ..operators.evt import pot_threshold

    out = pot_threshold(
        _series(spark, sf_dir), q_level=0.98, target_p=1e-3
    )
    return out.select(
        "series_id", "n", "n_tail",
        _rnd("u", R).alias("u"),
        _rnd("xi", R).alias("xi"),
        _rnd("beta", R).alias("beta"),
        _rnd("z_q", R).alias("z_q"),
        "n_above",
    )


ORACLES["pot_threshold"] = f"""
WITH {SQL_S},
base AS (
  SELECT series_id, count(value) AS n,
         quantile_cont(value, 0.98) AS u
  FROM s GROUP BY 1),
tail AS (
  SELECT s.series_id, count(*) AS n_tail,
         CAST(sum(CAST(s.value - base.u AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST((s.value - base.u) * (s.value - base.u)
                       AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s JOIN base USING (series_id)
  WHERE s.value > base.u GROUP BY 1),
p AS (
  SELECT base.series_id, base.n,
         coalesce(tail.n_tail, 0) AS n_tail, base.u,
         s1 / tail.n_tail AS m,
         (s2 - s1 * s1 / tail.n_tail) / tail.n_tail AS var
  FROM base LEFT JOIN tail USING (series_id)),
p2 AS (
  SELECT series_id, n, n_tail, u, m, var,
         (1.0 - m * m / var) / 2.0 AS xi0,
         m * (m * m / var + 1.0) / 2.0 AS beta0,
         1e-3 * n / n_tail AS ratio
  FROM p),
p3 AS (
  SELECT series_id, n, n_tail, u,
         CASE WHEN n_tail = 0 THEN 0.0
              WHEN var > 0 THEN xi0 ELSE 0.0 END AS xi,
         CASE WHEN n_tail = 0 THEN 0.0
              WHEN var > 0 THEN beta0 ELSE m END AS beta,
         CASE WHEN n_tail = 0 THEN u
              WHEN var > 0 AND abs(xi0) > 1e-9
              THEN u + beta0 / xi0 * (power(ratio, -xi0) - 1.0)
              ELSE u - m * ln(ratio) END AS z_q
  FROM p2),
ab AS (
  SELECT s.series_id, CAST(count(*) AS BIGINT) AS n_above
  FROM s JOIN p3 USING (series_id)
  WHERE s.value > p3.z_q GROUP BY 1)
SELECT p3.series_id, p3.n, p3.n_tail,
       round(p3.u, {R}) AS u, round(p3.xi, {R}) AS xi,
       round(p3.beta, {R}) AS beta, round(p3.z_q, {R}) AS z_q,
       coalesce(ab.n_above, CAST(0 AS BIGINT)) AS n_above
FROM p3 LEFT JOIN ab USING (series_id)
"""


def q_rolling_corr(spark, sf_dir):
    """Trailing rolling Pearson correlation between series pairs
    (positional alignment, window 48, min_periods 5) — the time-LOCAL
    companion of ``cross_correlation``'s global lagged view; pandas
    ``rolling(w).corr()`` in the reference's notebook idiom."""
    from ..operators.acf import rolling_corr

    # guard ON (r11 stress finding — see q_cross_correlation)
    out = rolling_corr(_series(spark, sf_dir), window=48, min_periods=5)
    return out.select(
        "series_a", "series_b", "rn", "n_w",
        _rnd("rcorr", R).alias("rcorr"),
    )


ORACLES["rolling_corr"] = f"""
WITH {SQL_S},
p AS (
  SELECT a.series_id AS series_a, b.series_id AS series_b, a.rn,
         a.value AS va, b.value AS vb
  FROM s a JOIN s b ON a.rn = b.rn AND a.series_id < b.series_id),
c AS (
  SELECT series_a, series_b, rn,
         sum(CAST(va AS DECIMAL(38,12))) OVER wr AS ca,
         sum(CAST(vb AS DECIMAL(38,12))) OVER wr AS cb,
         sum(CAST(va * vb AS DECIMAL(38,12))) OVER wr AS cab,
         sum(CAST(va * va AS DECIMAL(38,12))) OVER wr AS caa,
         sum(CAST(vb * vb AS DECIMAL(38,12))) OVER wr AS cbb,
         count(*) OVER wr AS cn
  FROM p
  WINDOW wr AS (PARTITION BY series_a, series_b ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
t AS (
  SELECT series_a, series_b, rn,
         CAST(ca - coalesce(lag(ca, 48) OVER wl,
                            CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sa,
         CAST(cb - coalesce(lag(cb, 48) OVER wl,
                            CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sb,
         CAST(cab - coalesce(lag(cab, 48) OVER wl,
                             CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sab,
         CAST(caa - coalesce(lag(caa, 48) OVER wl,
                             CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS saa,
         CAST(cbb - coalesce(lag(cbb, 48) OVER wl,
                             CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sbb,
         CAST(cn - coalesce(lag(cn, 48) OVER wl, 0) AS DOUBLE) AS nw
  FROM c
  WINDOW wl AS (PARTITION BY series_a, series_b ORDER BY rn)),
f AS (
  SELECT series_a, series_b, rn, nw,
         nw * sab - sa * sb AS cov,
         sqrt(greatest(nw * saa - sa * sa, 0.0)) AS da,
         sqrt(greatest(nw * sbb - sb * sb, 0.0)) AS db
  FROM t)
SELECT series_a, series_b, rn, CAST(nw AS BIGINT) AS n_w,
       round(CASE WHEN nw >= 5 AND da > 0 AND db > 0
                  THEN cov / (da * db) END, {R}) AS rcorr
FROM f
"""


ORACLES["pot_flags"] = _pot_flags_oracle()


# ---------------------------------------------------------------------------
# Round 6: HBOS histogram rarity, SAX symbolization, AR(2) Yule-Walker,
# Borda rank-ensemble, PELT changepoints (rows-only)
# ---------------------------------------------------------------------------


def q_hbos_flags(spark, sf_dir):
    """HBOS histogram rarity detector, hash-gated: equal-width 20-bin
    per-series histogram, rarity = inverse relative density (rational
    form of the classic -log score — same ordering, hashable), flag =
    bins 8x rarer than uniform via a pure integer compare."""
    from ..operators.hbos import hbos_flags

    out = hbos_flags(_series(spark, sf_dir), n_bins=20, rarity_thresh=8.0)
    return out.select(
        "series_id", "rn", "bin", "bin_n",
        _rnd("rarity", R).alias("rarity"),
        F.col("hbos_flag").alias("flag"),
    )


ORACLES["hbos_flags"] = f"""
WITH {SQL_S},
rng AS (
  SELECT series_id, min(value) AS vmin, max(value) AS vmax,
         count(value) AS n
  FROM s GROUP BY 1),
binned AS (
  SELECT s.series_id, s.rn, r.n,
         CAST(CASE WHEN r.vmax = r.vmin THEN 0
              ELSE least(19, CAST(floor((s.value - r.vmin)
                                        / (r.vmax - r.vmin) * 20.0)
                              AS BIGINT))
              END AS INT) AS bin
  FROM s JOIN rng r USING (series_id)),
hist AS (
  SELECT series_id, bin, count(*) AS bin_n FROM binned GROUP BY 1, 2)
SELECT b.series_id, b.rn, b.bin, h.bin_n,
       round(b.n / (20.0 * h.bin_n), {R}) AS rarity,
       CAST(CASE WHEN b.n > 160.0 * h.bin_n THEN 1 ELSE 0 END AS INT)
         AS flag
FROM binned b JOIN hist h USING (series_id, bin)
"""


def q_sax_words(spark, sf_dir):
    """SAX symbolization + rare-word flags, hash-gated: z-normalize
    (exact moments) -> PAA segment means (exact-decimal sums) ->
    Gaussian-breakpoint symbols -> 3-symbol words -> integer rarity
    flag (word in < 1/50 of the series' words)."""
    from ..operators.sax import sax_words

    out = sax_words(
        _series(spark, sf_dir), seg_len=4, alphabet=4, word_len=3,
        rare_x=50,
    )
    return out.select(
        "series_id", "seg",
        _rnd("paa", R).alias("paa"),
        "symbol", "word", "n_word", "n_words", "rare_flag",
    )


ORACLES["sax_words"] = f"""
WITH {SQL_S}, {SQL_MO},
z AS (
  SELECT s.series_id, s.rn,
         (s.value - mo2.mu) / (mo2.sd + 1e-9) AS z,
         CAST(floor((s.rn - 1) / 4) AS BIGINT) AS seg
  FROM s JOIN mo2 USING (series_id)),
paa AS (
  SELECT series_id, seg,
         CAST(sum(CAST(z AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS paa
  FROM z GROUP BY 1, 2),
symed AS (
  SELECT series_id, seg, paa,
         CASE WHEN paa >= 0.67 THEN 'd'
              WHEN paa >= 0.0 THEN 'c'
              WHEN paa >= -0.67 THEN 'b'
              ELSE 'a' END AS symbol
  FROM paa),
worded AS (
  SELECT series_id, seg, paa, symbol,
         symbol || lead(symbol, 1) OVER w || lead(symbol, 2) OVER w
           AS word
  FROM symed WINDOW w AS (PARTITION BY series_id ORDER BY seg)),
wf AS (
  SELECT *,
         count(*) OVER (PARTITION BY series_id, word) AS n_word,
         count(*) OVER (PARTITION BY series_id) AS n_words
  FROM worded WHERE word IS NOT NULL)
SELECT series_id, seg, round(paa, {R}) AS paa, symbol, word,
       n_word, n_words,
       CAST(CASE WHEN n_word * 50 < n_words THEN 1 ELSE 0 END AS INT)
         AS rare_flag
FROM wf
"""


def _sax_dist_values_sql(alphabet: int = 4) -> str:
    """Literal SAX cell-distance table (Lin et al. 2003 Table lookup)
    shared verbatim with the Spark side's broadcast frame."""
    from ..operators.sax import ALPHA, BREAKPOINTS

    bps = BREAKPOINTS[alphabet]
    vals = []
    for i in range(alphabet):
        for j in range(alphabet):
            d = 0.0 if abs(i - j) <= 1 else bps[max(i, j) - 1] - bps[min(i, j)]
            vals.append(f"('{ALPHA[i]}', '{ALPHA[j]}', {float(d)!r})")
    return ", ".join(vals)


def q_sax_mindist(spark, sf_dir):
    """Pairwise time-aligned SAX MINDIST (Lin et al. 2003) — the
    lower-bounding symbolic distance between series, on the shared
    z-norm→PAA→symbol front half.  Cell distances come from a literal
    alphabet² lookup table (broadcast / VALUES, shared verbatim);
    sqrt on bit-identical doubles is exact cross-engine, so the whole
    distance matrix is hash-gated.  |series|² pair frame bounded by
    the cross_correlation API guard."""
    from ..operators.sax import sax_mindist

    out = sax_mindist(_series(spark, sf_dir))
    return out.select(
        "series_a", "series_b", "n_segs",
        _rnd("mindist", R).alias("mindist"),
    )


ORACLES["sax_mindist"] = f"""
WITH {SQL_S}, {SQL_MO},
z AS (
  SELECT s.series_id, s.rn,
         (s.value - mo2.mu) / (mo2.sd + 1e-9) AS z,
         CAST(floor((s.rn - 1) / 4) AS BIGINT) AS seg
  FROM s JOIN mo2 USING (series_id)),
paa AS (
  SELECT series_id, seg,
         CAST(sum(CAST(z AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS paa
  FROM z GROUP BY 1, 2),
symed AS (
  SELECT series_id, seg,
         CASE WHEN paa >= 0.67 THEN 'd'
              WHEN paa >= 0.0 THEN 'c'
              WHEN paa >= -0.67 THEN 'b'
              ELSE 'a' END AS symbol
  FROM paa),
dt(sa, sb, d) AS (VALUES {_sax_dist_values_sql(4)}),
pj AS (
  SELECT a.series_id AS series_a, b.series_id AS series_b, dt.d
  FROM symed a
  JOIN symed b ON a.seg = b.seg AND a.series_id < b.series_id
  JOIN dt ON dt.sa = a.symbol AND dt.sb = b.symbol)
SELECT series_a, series_b,
       CAST(count(*) AS BIGINT) AS n_segs,
       round(sqrt(4.0)
             * sqrt(CAST(sum(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)),
             {R}) AS mindist
FROM pj GROUP BY 1, 2
"""


def q_granger_screen(spark, sf_dir):
    """Granger-style lag screen over ordered series pairs (Granger
    1969): does x's PAST improve a one-lag autoregression of y?  For
    every ordered pair (x → y), closed-form OLS of ``y_t ~ [1,
    y_{t-1}, x_{t-1}]`` vs the restricted ``y_t ~ [1, y_{t-1}]`` —
    both solved by Cramer's rule on the normal equations built from
    TEN exact-decimal sums per pair (the ar2_forecast recipe, one
    aggregation over the pair frame), SSEs via the normal-equation
    identity, and the 1-numerator-df F statistic
    ``(SSE_r − SSE_f)(n−3)/SSE_f``.  The partial-out-autoregression
    complement of cross_correlation's marginal correlations; the
    |series|² pair frame is bounded by the same API guard.  Fully
    hash-gated (every expression is fixed-order double algebra on
    bit-identical decimal sums)."""
    from ..operators.acf import _guard_pair_explosion

    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    # directional=True: this operator emits ORDERED pairs (both x→y
    # and y→x), so the guard budgets n·(n−1) against max_pairs=64
    # instead of admitting twice the pair frame the budget implies
    s = _guard_pair_explosion(
        s, None, 64, False, "granger_screen", directional=True
    )
    w = Window.partitionBy("series_id").orderBy("rn")
    lagd = s.withColumn("vprev", F.lag("value").over(w))
    e = lagd.select(
        F.col("series_id").alias("series_y"),
        "rn",
        F.col("value").alias("y"),
        F.col("vprev").alias("a"),
    )
    c = lagd.select(
        F.col("series_id").alias("series_x"),
        F.col("rn").alias("rn_x"),
        F.col("vprev").alias("b"),
    )
    # self-pairs and lag-undefined rows rejected IN the join condition,
    # not a post-join filter, so the matcher never emits the (x,x)
    # diagonal fan at all
    j = e.join(
        c,
        (F.col("rn") == F.col("rn_x"))
        & (F.col("series_x") != F.col("series_y")),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())

    y, a, b = F.col("y"), F.col("a"), F.col("b")
    g = j.groupBy("series_x", "series_y").agg(
        F.count("*").alias("n"),
        _dsum(a).alias("sa"),
        _dsum(b).alias("sb"),
        _dsum(y).alias("sy"),
        _dsum(a * a).alias("saa"),
        _dsum(b * b).alias("sbb"),
        _dsum(y * y).alias("syy"),
        _dsum(a * b).alias("sab"),
        _dsum(a * y).alias("say"),
        _dsum(b * y).alias("sby"),
    )
    n = F.col("n").cast("double")
    sa, sb, sy = F.col("sa"), F.col("sb"), F.col("sy")
    saa, sbb, syy = F.col("saa"), F.col("sbb"), F.col("syy")
    sab, say, sby = F.col("sab"), F.col("say"), F.col("sby")
    # restricted: y ~ [1, a]
    det2 = n * saa - sa * sa
    a1 = (n * say - sa * sy) / det2
    a0 = (sy - a1 * sa) / n
    sse_r = (syy - a0 * sy) - a1 * say
    # full: y ~ [1, a, b] — Cramer on the symmetric normal matrix
    det = (
        (n * (saa * sbb - sab * sab))
        - (sa * (sa * sbb - sab * sb))
    ) + (sb * (sa * sab - saa * sb))
    d0 = (
        (sy * (saa * sbb - sab * sab))
        - (sa * (say * sbb - sab * sby))
    ) + (sb * (say * sab - saa * sby))
    d1 = (
        (n * (say * sbb - sab * sby))
        - (sy * (sa * sbb - sab * sb))
    ) + (sb * (sa * sby - say * sb))
    d2 = (
        (n * (saa * sby - say * sab))
        - (sa * (sa * sby - say * sb))
    ) + (sy * (sa * sab - saa * sb))
    b0, b1, b2 = d0 / det, d1 / det, d2 / det
    sse_f = ((syy - b0 * sy) - b1 * say) - b2 * sby
    f_stat = ((sse_r - sse_f) * (n - F.lit(3.0))) / sse_f
    r2_gain = (sse_r - sse_f) / sse_r
    return g.select(
        "series_x", "series_y", "n",
        _rnd(sse_r, R).alias("sse_r"),
        _rnd(sse_f, R).alias("sse_f"),
        _rnd(f_stat, R).alias("f_stat"),
        _rnd(r2_gain, R).alias("r2_gain"),
    )


ORACLES["granger_screen"] = f"""
WITH {SQL_S},
lg AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS vprev
  FROM s),
j AS (
  SELECT c.series_id AS series_x, e.series_id AS series_y,
         e.value AS y, e.vprev AS a, c.vprev AS b
  FROM lg e JOIN lg c ON e.rn = c.rn AND c.series_id <> e.series_id
  WHERE e.vprev IS NOT NULL AND c.vprev IS NOT NULL),
g AS (
  SELECT series_x, series_y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE) AS sa,
         CAST(sum(CAST(b AS DECIMAL(38,12))) AS DOUBLE) AS sb,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(a * a AS DECIMAL(38,12))) AS DOUBLE) AS saa,
         CAST(sum(CAST(b * b AS DECIMAL(38,12))) AS DOUBLE) AS sbb,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(sum(CAST(a * b AS DECIMAL(38,12))) AS DOUBLE) AS sab,
         CAST(sum(CAST(a * y AS DECIMAL(38,12))) AS DOUBLE) AS say,
         CAST(sum(CAST(b * y AS DECIMAL(38,12))) AS DOUBLE) AS sby
  FROM j GROUP BY 1, 2),
ft AS (
  SELECT series_x, series_y, n,
         (syy - ((sy - ((CAST(n AS DOUBLE) * say - sa * sy)
                        / (CAST(n AS DOUBLE) * saa - sa * sa)) * sa)
                 / CAST(n AS DOUBLE)) * sy)
         - ((CAST(n AS DOUBLE) * say - sa * sy)
            / (CAST(n AS DOUBLE) * saa - sa * sa)) * say AS sse_r,
         ((CAST(n AS DOUBLE) * (saa * sbb - sab * sab))
          - (sa * (sa * sbb - sab * sb)))
         + (sb * (sa * sab - saa * sb)) AS det,
         ((sy * (saa * sbb - sab * sab))
          - (sa * (say * sbb - sab * sby)))
         + (sb * (say * sab - saa * sby)) AS d0,
         ((CAST(n AS DOUBLE) * (say * sbb - sab * sby))
          - (sy * (sa * sbb - sab * sb)))
         + (sb * (sa * sby - say * sb)) AS d1,
         ((CAST(n AS DOUBLE) * (saa * sby - say * sab))
          - (sa * (sa * sby - say * sb)))
         + (sy * (sa * sab - saa * sb)) AS d2,
         sy, say, sby, syy
  FROM g),
fin AS (
  SELECT series_x, series_y, n, sse_r,
         ((syy - (d0 / det) * sy) - (d1 / det) * say)
         - (d2 / det) * sby AS sse_f
  FROM ft)
SELECT series_x, series_y, n,
       round(sse_r, {R}) AS sse_r,
       round(sse_f, {R}) AS sse_f,
       round(((sse_r - sse_f) * (CAST(n AS DOUBLE) - 3.0)) / sse_f,
             {R}) AS f_stat,
       round((sse_r - sse_f) / sse_r, {R}) AS r2_gain
FROM fin
"""


def q_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall + seasonal Sen slope (Hirsch & Slack
    1984): the trend test that stays powerful on SEASONAL series —
    same-season-only comparisons (period 48), per-season S and
    tie-corrected variances summed, Sen median over same-season
    pairwise Δv/Δrn slopes.  Same exactness recipe as trend_test
    (integer S via Fenwick inversions, ONE /18 on the integer
    variance numerator, rank-median over bit-identical doubles) —
    hash-gated against a same-position materialized-pair oracle."""
    from ..operators.trend import seasonal_mann_kendall_frame

    out = seasonal_mann_kendall_frame(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "n", "period", "s_stat",
        _rnd("tau", R).alias("tau"),
        _rnd("var_s", R).alias("var_s"),
        _rnd("z", R).alias("z"),
        _rnd("sen_slope", R).alias("sen_slope"),
        "trend",
    )


ORACLES["seasonal_mann_kendall"] = f"""
WITH {SQL_S},
sp AS (
  SELECT series_id, rn, value, CAST((rn - 1) % 48 AS BIGINT) AS pos
  FROM s),
pr AS (
  SELECT a.series_id,
         b.value - a.value AS dv,
         CAST(b.rn - a.rn AS DOUBLE) AS dr
  FROM sp a JOIN sp b
    ON a.series_id = b.series_id AND a.pos = b.pos AND b.rn > a.rn),
mk AS (
  SELECT series_id,
         CAST(sum(CASE WHEN dv > 0 THEN 1
                       WHEN dv < 0 THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat,
         CAST(count(*) AS BIGINT) AS d
  FROM pr GROUP BY 1),
ngp AS (SELECT series_id, pos, count(*) AS n_g FROM sp GROUP BY 1, 2),
vb AS (
  SELECT series_id,
         CAST(sum(n_g * (n_g - 1) * (2 * n_g + 5)) AS BIGINT) AS base
  FROM ngp GROUP BY 1),
tt AS (
  SELECT series_id,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT series_id, pos, value, count(*) AS t
        FROM sp GROUP BY 1, 2, 3 HAVING count(*) > 1)
  GROUP BY 1),
nn2 AS (SELECT series_id, CAST(count(*) AS BIGINT) AS n
        FROM s GROUP BY 1),
sl AS (SELECT series_id, dv / dr AS slope FROM pr),
rk AS (
  SELECT series_id, slope,
         row_number() OVER (PARTITION BY series_id ORDER BY slope) AS r,
         count(*) OVER (PARTITION BY series_id) AS m
  FROM sl),
med AS (
  SELECT series_id, sum(slope) / count(*) AS sen_slope
  FROM rk WHERE r = (m+1)//2 OR r = (m+2)//2 GROUP BY 1)
SELECT mk.series_id, nn2.n, CAST(48 AS INT) AS period, mk.s_stat,
       round(mk.s_stat / (5e-1 * mk.d), {R}) AS tau,
       round((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1, {R}) AS var_s,
       round(CASE WHEN mk.s_stat > 0
                   AND (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                  THEN (mk.s_stat - 1)
                       / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                  WHEN mk.s_stat < 0
                   AND (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                  THEN (mk.s_stat + 1)
                       / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                  ELSE 0e0 END, {R}) AS z,
       round(med.sen_slope, {R}) AS sen_slope,
       CASE WHEN (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                 AND mk.s_stat > 0
                 AND (mk.s_stat - 1)
                     / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                     > 1.96e0
            THEN 'increasing'
            WHEN (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                 AND mk.s_stat < 0
                 AND (mk.s_stat + 1)
                     / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                     < -1.96e0
            THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM mk
JOIN nn2 USING (series_id)
JOIN vb USING (series_id)
LEFT JOIN tt USING (series_id)
JOIN med USING (series_id)
"""


def q_demand_classification(spark, sf_dir):
    """Syntetos-Boylan intermittent-demand classification (Syntetos,
    Boylan & Croston 2005): per series, ADI (mean inter-demand
    interval = n / n_demand) and CV² of the positive demand sizes on
    the SAME exceedance-demand definition Croston uses (demand =
    max(value − q90, 0)) → the smooth / intermittent / erratic /
    lumpy quadrant that decides WHICH forecaster applies (Croston for
    intermittent/lumpy, SES/AR for smooth/erratic).  The
    model-selection diagnostic beside the croston_forecast operator;
    pure exact-percentile + decimal-moment algebra, hash-gated."""
    s = _series(spark, sf_dir)
    thr = s.groupBy("series_id").agg(
        F.expr("percentile(value, 0.9)").alias("__thr")
    )
    dem = F.greatest(F.col("value") - F.col("__thr"), F.lit(0.0))
    d = s.join(F.broadcast(thr), "series_id").withColumn("__dem", dem)
    pos = F.col("__dem") > 0
    agg = d.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum(pos.cast("long")).alias("n_demand"),
        F.sum(F.when(pos, F.col("__dem")).cast(DEC_T))
        .cast("double")
        .alias("__s1"),
        F.sum(F.when(pos, F.col("__dem") * F.col("__dem")).cast(DEC_T))
        .cast("double")
        .alias("__s2"),
    )
    nd = F.col("n_demand")
    adi = F.col("n") / nd
    mean = F.col("__s1") / nd
    var = F.greatest(
        (F.col("__s2") - F.col("__s1") * F.col("__s1") / nd) / (nd - 1),
        F.lit(0.0),
    )
    cv2 = F.when(nd >= 2, var / (mean * mean))
    out = agg.withColumn("adi", adi).withColumn("cv2", cv2)
    cls = (
        F.when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when((F.col("adi") < 1.32), "erratic")
        .otherwise("lumpy")
    )
    return out.select(
        "series_id", "n", "n_demand",
        _rnd("adi", R).alias("adi"),
        _rnd("cv2", R).alias("cv2"),
        cls.alias("class"),
    )


ORACLES["demand_classification"] = f"""
WITH {SQL_S},
thr AS (
  SELECT series_id, quantile_cont(value, 0.9) AS thr
  FROM s GROUP BY 1),
d AS (
  SELECT s.series_id,
         greatest(s.value - t.thr, 0.0) AS dem
  FROM s JOIN thr t USING (series_id)),
ag AS (
  SELECT series_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN dem > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_demand,
         CAST(sum(CASE WHEN dem > 0
                       THEN CAST(dem AS DECIMAL(38,12)) END)
              AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN dem > 0
                       THEN CAST(dem * dem AS DECIMAL(38,12)) END)
              AS DOUBLE) AS s2
  FROM d GROUP BY 1),
m AS (
  SELECT series_id, n, n_demand,
         n / n_demand AS adi,
         CASE WHEN n_demand >= 2 THEN
           greatest((s2 - s1 * s1 / n_demand) / (n_demand - 1), 0.0)
             / ((s1 / n_demand) * (s1 / n_demand))
         END AS cv2
  FROM ag)
SELECT series_id, n, n_demand,
       round(adi, {R}) AS adi,
       round(cv2, {R}) AS cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 THEN 'erratic'
            ELSE 'lumpy' END AS class
FROM m
"""


def q_conformal_intervals(spark, sf_dir):
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.
    JASA 2018) on the AR(1) forecaster: fit on the first half,
    calibrate q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest |residual| on the
    next quarter (a pure order statistic — no interpolation, nothing
    to drift), score marginal coverage of pred ± q̂ on the final
    quarter.  α = 0.1.  The distribution-free interval machinery
    beside the Gaussian ones (interval_exceedance's model bands, EWMA
    control limits); finite-sample coverage ≥ 1−α under
    exchangeability is the selling point.  Fully hash-gated: the fit
    is the exact-decimal AR(1) algebra restricted to the fit split,
    the quantile is an order statistic of bit-identical doubles, and
    coverage is integer counting."""
    from .._exact import DEC as _DEC

    s = _series(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("rn")
    nn = s.groupBy("series_id").agg(F.max("rn").alias("__n"))
    nn = nn.withColumn(
        "__T1", F.floor(F.col("__n") * 0.5).cast("long")
    ).withColumn("__T2", F.floor(F.col("__n") * 0.75).cast("long"))
    lg = s.withColumn("__prev", F.lag("value").over(w)).join(
        F.broadcast(nn), "series_id"
    )
    x, y = F.col("__prev"), F.col("value")
    fs = (
        lg.filter(x.isNotNull() & (F.col("rn") <= F.col("__T1")))
        .groupBy("series_id")
        .agg(
            F.count("*").alias("__fn"),
            F.sum(x.cast(_DEC)).cast("double").alias("__sx"),
            F.sum(y.cast(_DEC)).cast("double").alias("__sy"),
            F.sum((x * x).cast(_DEC)).cast("double").alias("__sxx"),
            F.sum((y * x).cast(_DEC)).cast("double").alias("__sxy"),
        )
    )
    fn, sx, sy = F.col("__fn"), F.col("__sx"), F.col("__sy")
    slope = (fn * F.col("__sxy") - sx * sy) / (
        fn * F.col("__sxx") - sx * sx
    )
    ft = fs.withColumn("__slope", slope).withColumn(
        "__icept", (sy - F.col("__slope") * sx) / fn
    )
    pr = (
        lg.filter(x.isNotNull())
        .join(F.broadcast(ft.select("series_id", "__slope", "__icept")),
              "series_id")
        .withColumn("__pred", F.col("__icept") + F.col("__slope") * x)
    )
    cal = pr.filter(
        (F.col("rn") > F.col("__T1")) & (F.col("rn") <= F.col("__T2"))
    ).withColumn("__ar", F.abs(y - F.col("__pred")))
    rk = cal.withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("series_id").orderBy("__ar", "rn")
        ),
    )
    nc = cal.groupBy("series_id").agg(F.count("*").alias("n_cal"))
    kk = nc.withColumn(
        "__k",
        F.least(
            F.ceil((F.col("n_cal") + F.lit(1)) * F.lit(0.9)).cast("long"),
            F.col("n_cal"),
        ),
    )
    qh = (
        rk.join(F.broadcast(kk), "series_id")
        .filter(F.col("__r") == F.col("__k"))
        .select("series_id", "n_cal", F.col("__ar").alias("q_hat"))
    )
    te = pr.filter(F.col("rn") > F.col("__T2")).join(
        F.broadcast(qh), "series_id"
    )
    cov = (
        (y >= F.col("__pred") - F.col("q_hat"))
        & (y <= F.col("__pred") + F.col("q_hat"))
    ).cast("long")
    out = te.groupBy("series_id", "n_cal", "q_hat").agg(
        F.count("*").alias("n_test"),
        F.sum(cov).alias("covered"),
    )
    return out.select(
        "series_id", "n_cal", "n_test", "covered",
        _rnd("q_hat", R).alias("q_hat"),
        _rnd(F.col("covered") / F.col("n_test"), R).alias("coverage"),
    )


ORACLES["conformal_intervals"] = f"""
WITH {SQL_S},
nn AS (
  SELECT series_id,
         CAST(floor(max(rn) * 0.5) AS BIGINT) AS T1,
         CAST(floor(max(rn) * 0.75) AS BIGINT) AS T2
  FROM s GROUP BY 1),
lg AS (
  SELECT s.series_id, s.rn, s.value, nn.T1, nn.T2,
         lag(s.value) OVER (PARTITION BY s.series_id ORDER BY s.rn)
           AS prev
  FROM s JOIN nn USING (series_id)),
fs AS (
  SELECT series_id, count(*) AS fn,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lg WHERE prev IS NOT NULL AND rn <= T1 GROUP BY 1),
ft AS (
  SELECT series_id,
         (fn * sxy - sx * sy) / (fn * sxx - sx * sx) AS slope,
         (sy - (fn * sxy - sx * sy) / (fn * sxx - sx * sx) * sx) / fn
           AS icept
  FROM fs),
pr AS (
  SELECT lg.series_id, lg.rn, lg.value, lg.T1, lg.T2,
         ft.icept + ft.slope * lg.prev AS pred
  FROM lg JOIN ft USING (series_id) WHERE lg.prev IS NOT NULL),
cal AS (
  SELECT series_id, rn, abs(value - pred) AS ar
  FROM pr WHERE rn > T1 AND rn <= T2),
rk AS (
  SELECT series_id, ar,
         row_number() OVER (PARTITION BY series_id ORDER BY ar, rn) AS r
  FROM cal),
nc AS (SELECT series_id, count(*) AS n_cal FROM cal GROUP BY 1),
kk AS (
  SELECT series_id, n_cal,
         least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal) AS k
  FROM nc),
qh AS (
  SELECT rk.series_id, kk.n_cal, rk.ar AS q_hat
  FROM rk JOIN kk ON rk.series_id = kk.series_id AND rk.r = kk.k),
te AS (
  SELECT pr.series_id, pr.value, pr.pred, qh.n_cal, qh.q_hat
  FROM pr JOIN qh USING (series_id) WHERE pr.rn > pr.T2)
SELECT series_id, n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN value >= pred - q_hat
                      AND value <= pred + q_hat
                     THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       round(q_hat, {R}) AS q_hat,
       round(CAST(sum(CASE WHEN value >= pred - q_hat
                            AND value <= pred + q_hat
                           THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), {R}) AS coverage
FROM te GROUP BY series_id, n_cal, q_hat
"""


def q_dtw_distance(spark, sf_dir):
    """Banded DTW distance between series pairs (Sakoe & Chiba 1978)
    on z-normalized PAA-downsampled series — the alignment-elastic
    whole-series distance beside the rigid (cross_correlation) and
    symbolic (sax_mindist) ones.  Rows-only by declared design (DP
    recursion); banded-vs-full parity + metric-property tests pin
    semantics.  |series|² pair frame API-bounded."""
    from ..functions.dtw import dtw_distance

    out = dtw_distance(_series(spark, sf_dir))
    return out.select(
        "series_a", "series_b", "n_a", "n_b", "band",
        _rnd("dtw", R).alias("dtw"),
    )


def _dtw_fixed_plan(spark, sf_dir, L, W, name):
    """Shared builder for the hash-gated fixed DTW twins (r07 verdict
    item #6; r10 widened per the r09 verdict): PAA to exactly ``L``
    segments (integer binning ``g = (rn−1)·L div n``, exact-decimal
    segment means), z-normalized AFTER downsampling, then Sakoe-Chiba
    banded DP (band ``W``, squared local cost, sqrt of the accumulated
    cost — functions/dtw.py:38 semantics at fixed parameters).

    The DP is re-expressed over ANTI-DIAGONALS so it has no intra-step
    dependence: diagonal d needs only diagonals d−1 and d−2, so each
    cell is an independent ``least()`` of three neighbors.  Spark
    folds the 2L−1 diagonals with ``F.aggregate`` over array state
    (two (L+1)-slot diagonals per pair, out-of-band cells pinned to
    the 1e18 sentinel); DuckDB replays the identical recursion as a
    recursive CTE over list state — the kalman/holt list-state recipe
    extended to a 2-D DP.  All arithmetic is fixed-order double
    algebra on decimal-sum inputs, so the gate is exact.  |series|²
    pair frame bounded by the unordered-pair API guard."""
    from ..operators.acf import _guard_pair_explosion

    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    s = _guard_pair_explosion(s, None, 64, False, name)

    cnt = (
        s.groupBy("series_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= L)
    )
    binned = s.join(F.broadcast(cnt), "series_id").withColumn(
        "g", F.expr(f"CAST(((rn - 1) * {L}) DIV n AS INT)")
    )
    paa = binned.groupBy("series_id", "g").agg(
        (_dsum(F.col("value")) / F.count("*")).alias("pa"),
        F.max("n").alias("n"),
    )
    mo = paa.groupBy("series_id").agg(
        F.count("*").alias("c32"),
        _dsum(F.col("pa")).alias("s1"),
        _dsum(F.col("pa") * F.col("pa")).alias("s2"),
        F.max("n").alias("n"),
    )
    mu = F.col("s1") / F.col("c32")
    sd = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("c32"))
            / (F.col("c32") - F.lit(1)),
            F.lit(0.0),
        )
    )
    zed = paa.join(F.broadcast(mo.drop("n")), "series_id").select(
        "series_id",
        "g",
        ((F.col("pa") - mu) / (sd + F.lit(1e-9))).alias("z"),
        "n",
    )
    vec = zed.groupBy("series_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("g", "z"))),
            lambda t: t["z"],
        ).alias("zv"),
        F.max("n").alias("n"),
    )
    a = vec.select(
        F.col("series_id").alias("series_a"),
        F.col("zv").alias("xa"),
        F.col("n").alias("n_a"),
    )
    b = vec.select(
        F.col("series_id").alias("series_b"),
        F.col("zv").alias("xb"),
        F.col("n").alias("n_b"),
    )
    pr = a.join(b, F.col("series_a") < F.col("series_b"))

    INF = F.lit(1e18)

    init = F.struct(
        F.transform(
            F.sequence(F.lit(0), F.lit(L)),
            lambda i: F.when(i == 0, F.lit(0.0)).otherwise(INF),
        ).alias("pm2"),
        F.transform(F.sequence(F.lit(0), F.lit(L)), lambda i: INF).alias(
            "pm1"
        ),
    )

    def step(acc, d):
        def cell(i):
            j = d - i
            diff = F.element_at(F.col("xa"), i.cast("int")) - F.element_at(
                F.col("xb"), j.cast("int")
            )
            best = F.least(
                _el(acc["pm1"], i - 1), _el(acc["pm1"], i), _el(acc["pm2"], i - 1)
            )
            return F.when(
                (i < 1) | (j < 1) | (j > L) | (F.abs(2 * i - d) > W), INF
            ).otherwise(diff * diff + best)

        return F.struct(
            acc["pm1"].alias("pm2"),
            F.transform(F.sequence(F.lit(0), F.lit(L)), cell).alias("pm1"),
        )

    res = F.aggregate(F.sequence(F.lit(2), F.lit(2 * L)), init, step)
    dtw = F.sqrt(F.element_at(res["pm1"], L + 1))
    return pr.select(
        "series_a",
        "series_b",
        "n_a",
        "n_b",
        F.lit(W).cast("int").alias("band"),
        _rnd(dtw, R).alias("dtw"),
    )


def q_dtw_distance_fixed(spark, sf_dir):
    """32-segment / band-8 fixed DTW twin (see _dtw_fixed_plan)."""
    return _dtw_fixed_plan(spark, sf_dir, 32, 8, "dtw_distance_fixed")


def q_dtw_distance_fixed_64(spark, sf_dir):
    """64-segment / band-16 fixed DTW twin (r09 verdict item #1):
    same builder at 2× the gated PAA resolution — 127 anti-diagonals
    over 65-slot state, 4× the DP cells of the 32-segment twin."""
    return _dtw_fixed_plan(spark, sf_dir, 64, 16, "dtw_distance_fixed_64")


def _dtw_fixed_sql(L: int, W: int) -> str:
    """DuckDB mirror of _dtw_fixed_plan at (L, W)."""
    return f"""
WITH RECURSIVE {{SQL_S}},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {L}),
bb AS (
  SELECT s.series_id, s.rn, s.value, c.n,
         CAST(((s.rn - 1) * {L}) // c.n AS INT) AS g
  FROM s JOIN cnt c USING (series_id)),
paa AS (
  SELECT series_id, g,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / count(*)
           AS pa,
         max(n) AS n
  FROM bb GROUP BY 1, 2),
mo AS (
  SELECT series_id, count(*) AS cL,
         CAST(sum(CAST(pa AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(pa * pa AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         max(n) AS n
  FROM paa GROUP BY 1),
zed AS (
  SELECT p.series_id, p.g,
         (p.pa - m.s1 / m.cL)
           / (sqrt(greatest((m.s2 - m.s1 * m.s1 / m.cL)
                            / (m.cL - 1), 0.0)) + 1e-9) AS z,
         m.n
  FROM paa p JOIN mo m USING (series_id)),
vec AS (
  SELECT series_id, list(z ORDER BY g) AS zv, max(n) AS n
  FROM zed GROUP BY 1),
pxy AS (
  SELECT a.series_id AS series_a, b.series_id AS series_b,
         a.zv AS xa, b.zv AS xb, a.n AS n_a, b.n AS n_b
  FROM vec a JOIN vec b ON a.series_id < b.series_id),
dp AS (
  SELECT series_a, series_b, 1 AS d,
         list_transform(generate_series(0, {L}),
                        i -> CASE WHEN i = 0 THEN 0.0 ELSE 1e18 END)
           AS pm2,
         list_transform(generate_series(0, {L}), i -> 1e18 + 0.0 * i)
           AS pm1
  FROM pxy
  UNION ALL
  SELECT dp.series_a, dp.series_b, dp.d + 1,
         dp.pm1,
         list_transform(generate_series(0, {L}), i ->
           CASE WHEN i < 1 OR dp.d + 1 - i < 1 OR dp.d + 1 - i > {L}
                     OR abs(2 * i - (dp.d + 1)) > {W}
                THEN 1e18
                ELSE (p.xa[i] - p.xb[dp.d + 1 - i])
                     * (p.xa[i] - p.xb[dp.d + 1 - i])
                     + least(dp.pm1[i], dp.pm1[i + 1], dp.pm2[i]) END)
  FROM dp
  JOIN pxy p ON p.series_a = dp.series_a AND p.series_b = dp.series_b
  WHERE dp.d < {2 * L})
SELECT p.series_a, p.series_b, p.n_a, p.n_b, CAST({W} AS INT) AS band,
       round(sqrt(dp.pm1[{L + 1}]), {{R}}) AS dtw
FROM dp
JOIN pxy p ON p.series_a = dp.series_a AND p.series_b = dp.series_b
WHERE dp.d = {2 * L}
"""


ORACLES["dtw_distance_fixed_64"] = (
    _dtw_fixed_sql(64, 16).replace("{SQL_S}", SQL_S).replace("{R}", str(R))
)

ORACLES["dtw_distance_fixed"] = (
    _dtw_fixed_sql(32, 8).replace("{SQL_S}", SQL_S).replace("{R}", str(R))
)


def q_ar2_forecast(spark, sf_dir):
    """AR(2) via closed-form Yule-Walker (M5 family beside AR(1)):
    biased autocovariances from exact-decimal sums, the 2x2 system
    solved in rational double algebra, one-step predictions on actual
    lags — fit AND predictions hash-gated."""
    from ..functions.ar import ar2_forecast_native

    out = ar2_forecast_native(_series(spark, sf_dir)).filter(
        F.col("rn") >= 3
    )
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


ORACLES["ar2_forecast"] = f"""
WITH {SQL_S},
mo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
muv AS (SELECT series_id, n, s1 / n AS mu FROM mo),
lagd AS (
  SELECT s.series_id, s.rn, s.value, m.mu, m.n,
         lag(s.value, 1) OVER (PARTITION BY s.series_id ORDER BY s.rn)
           AS p1,
         lag(s.value, 2) OVER (PARTITION BY s.series_id ORDER BY s.rn)
           AS p2
  FROM s JOIN muv m USING (series_id)),
cov AS (
  SELECT series_id,
         CAST(sum(CAST((value - mu) * (value - mu) AS DECIMAL(38,12)))
              AS DOUBLE) AS g0,
         CAST(sum(CAST(CASE WHEN p1 IS NOT NULL
                            THEN (value - mu) * (p1 - mu) END
                       AS DECIMAL(38,12))) AS DOUBLE) AS g1,
         CAST(sum(CAST(CASE WHEN p2 IS NOT NULL
                            THEN (value - mu) * (p2 - mu) END
                       AS DECIMAL(38,12))) AS DOUBLE) AS g2,
         max(n) AS nn
  FROM lagd GROUP BY 1),
fit AS (
  SELECT series_id,
         (g1 / nn) * (g0 / nn - g2 / nn)
           / nullif((g0 / nn) * (g0 / nn) - (g1 / nn) * (g1 / nn), 0.0)
           AS phi1,
         ((g0 / nn) * (g2 / nn) - (g1 / nn) * (g1 / nn))
           / nullif((g0 / nn) * (g0 / nn) - (g1 / nn) * (g1 / nn), 0.0)
           AS phi2
  FROM cov)
SELECT l.series_id, l.rn,
       round(l.mu + f.phi1 * (l.p1 - l.mu) + f.phi2 * (l.p2 - l.mu), {R})
         AS pred_mean,
       round(l.value - (l.mu + f.phi1 * (l.p1 - l.mu)
                        + f.phi2 * (l.p2 - l.mu)), {R}) AS resid
FROM lagd l JOIN fit f USING (series_id)
WHERE l.rn >= 3
"""


def q_detector_rank_ensemble(spark, sf_dir):
    """Borda rank-aggregation ensemble, hash-gated: three per-row
    anomaly scores (MAD z, |global z|, |diff z|) converted to
    per-series ranks and summed — the scale-free fusion that needs no
    score calibration (complements detector_consensus's binary votes).
    Output is ALL-INTEGER (ranks, Borda sum, top-1% flag via
    ``borda*100 <= 3*n``), so nothing can drift the hash."""
    from ..operators.robust import diff_zscore_flags
    from ..operators.scaling import global_zscore, mad_scores

    s = _series(spark, sf_dir)
    m = global_zscore(mad_scores(s))
    d = diff_zscore_flags(m)
    # rank on the QUANTIZED scores: the raw doubles differ across
    # engines in the last ulp (different median/sqrt expression trees)
    # and rank() amplifies any ulp into an off-by-one — the 6-decimal
    # floor quantizer is exactly what the hash gate proves bit-equal
    sc = d.select(
        "series_id",
        "rn",
        _rnd("z_mad").alias("s_mad"),
        _rnd(F.abs(F.col("z_global"))).alias("s_glob"),
        _rnd(F.coalesce(F.abs(F.col("diff_z")), F.lit(0.0))).alias("s_diff"),
    )
    wp = Window.partitionBy("series_id")
    rk = sc.select(
        "series_id",
        "rn",
        F.rank().over(wp.orderBy(F.desc("s_mad"))).cast("long").alias("r_mad"),
        F.rank().over(wp.orderBy(F.desc("s_glob"))).cast("long").alias("r_glob"),
        F.rank().over(wp.orderBy(F.desc("s_diff"))).cast("long").alias("r_diff"),
        F.count("*")
        .over(wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__n"),
    )
    borda = F.col("r_mad") + F.col("r_glob") + F.col("r_diff")
    return rk.select(
        "series_id", "rn", "r_mad", "r_glob", "r_diff",
        borda.alias("borda"),
        (borda * F.lit(100) <= F.lit(3) * F.col("__n")).cast("int").alias("flag"),
    )


ORACLES["detector_rank_ensemble"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_MO},
dif AS (
  SELECT series_id, rn,
         value - lag(value) OVER (PARTITION BY series_id ORDER BY rn)
           AS diff
  FROM s),
dmo AS (
  SELECT series_id, count(diff) AS n,
         CAST(sum(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(diff * diff AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM dif WHERE diff IS NOT NULL GROUP BY 1),
dmo2 AS (
  SELECT series_id, s1 / n AS mu,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM dmo),
sc AS (
  SELECT m.series_id, m.rn,
         round(m.z_mad, {R}) AS s_mad,
         round(abs((m.value - mo2.mu) / (mo2.sd + 1e-9)), {R}) AS s_glob,
         round(coalesce(abs((d.diff - dm.mu) / (dm.sd + 1e-9)), 0.0), {R})
           AS s_diff
  FROM mads m
  JOIN mo2 USING (series_id)
  JOIN dif d ON d.series_id = m.series_id AND d.rn = m.rn
  JOIN dmo2 dm ON dm.series_id = m.series_id),
rk AS (
  SELECT series_id, rn,
         rank() OVER (PARTITION BY series_id ORDER BY s_mad DESC)
           AS r_mad,
         rank() OVER (PARTITION BY series_id ORDER BY s_glob DESC)
           AS r_glob,
         rank() OVER (PARTITION BY series_id ORDER BY s_diff DESC)
           AS r_diff,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM sc)
SELECT series_id, rn, r_mad, r_glob, r_diff,
       r_mad + r_glob + r_diff AS borda,
       CAST(CASE WHEN (r_mad + r_glob + r_diff) * 100 <= 3 * n
            THEN 1 ELSE 0 END AS INT) AS flag
FROM rk
"""


def q_pelt_changepoints(spark, sf_dir):
    """PELT exact L2 changepoint segmentation (Killick et al. 2012),
    rows-only by design (the pruned DP's argmin recursion has no SQL
    form); correctness pinned by the optimal-partitioning parity test
    in tests/test_changepoints.py.  One grouped-map exchange; the
    offline exact complement of CUSUM (hash-gated) and BOCPD
    (rows-only online)."""
    from ..functions.pelt import pelt_segments

    out = pelt_segments(_series(spark, sf_dir))
    return out.select(
        "series_id", "seg", "start_rn", "end_rn", "n",
        _rnd("seg_mean", R).alias("seg_mean"),
    )


# ln(128) as a shared 12-decimal literal — the one transcendental in
# the fixed PELT penalty, pinned so both engines use the same number
_LN128 = "4.852030263920"

# 2π at 12 decimals — the Gaussian-pdf normalizer of the fixed BOCPD
_TWO_PI = "6.283185307180"


def _bocpd_fixed_plan(spark, sf_dir, cap, min_n):
    """Shared builder for the hash-gated BOCPD twins (Adams & MacKay
    2007): known-variance Gaussian predictive with a conjugate-Normal
    mean (prior N(0,1), κ₀=1) over each series' z-normalized last
    ``w = least(n, cap)`` points (series with ``n >= min_n``),
    constant hazard h=1/50.  The run-length posterior recursion —
    growth = R(r)·π_r·(1−h), changepoint mass = Σ R(r)·π_r·h,
    renormalize — carries ONLY the probability vector as state: the
    conjugate posterior mean for a run of length r is a prefix-sum
    ratio ``(Σ last r z's)/(1+r)``, so no per-run statistics are
    stored (the known-variance collapse of functions/bocpd.py's NIG
    recursion).  The one transcendental per cell (exp of the Gaussian
    exponent) is quantized to 8 decimals, after which every engine
    computes identical doubles: Spark folds the w steps with
    ``F.aggregate`` over the probability list; DuckDB replays the
    identical recursion as a recursive CTE over list state.

    The O(w²) recursion stages its per-step intermediates (rp, rn_,
    tot, norm) through ``_let`` bindings so each is computed once per
    step (Catalyst HOF lambdas get no CSE); the full-extent oracle
    stages the same values through nested subqueries.  Outputs mirror
    the full operator: ``cp_prob`` (= h analytically under constant
    hazard — kept as the formal quantity) and ``cp_score``, the
    run-length-≤5 posterior mass whose spike IS the detection signal.
    Parity tests replay the same math in numpy and assert
    bit-equality plus a planted-shift spike."""
    tail = _last_w(spark, sf_dir, cap, min_n)
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
    )
    wj = (
        Window.partitionBy("series_id")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = zed.withColumn(
        "c1", F.sum(F.col("z").cast(DEC_T)).over(wj).cast("double")
    )
    ser = cum.groupBy("series_id").agg(
        F.max("n").alias("n"),
        F.max("w").alias("w"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "z"))),
            lambda t: t["z"],
        ).alias("zv"),
        F.concat(
            F.array(F.lit(0.0)),
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c1"))),
                lambda t: t["c1"],
            ),
        ).alias("l1"),
    )

    H = F.lit(0.02)
    GM = F.lit(0.98)
    TWO_PI = F.lit(float(_TWO_PI))

    init = F.struct(
        F.array(F.lit(1.0)).alias("rv"),
        F.array().cast("array<double>").alias("cps"),
        F.array().cast("array<double>").alias("sh"),
    )

    def step(acc, t):
        def pdf(r):
            rr = r.cast("double")
            v = F.lit(1.0) + F.lit(1.0) / (F.lit(1.0) + rr)
            mu = (_el(F.col("l1"), t) - _el(F.col("l1"), t - r)) / (
                F.lit(1.0) + rr
            )
            d = _el(F.col("zv"), t) - mu
            return _q8(
                F.exp(-(d * d) / (F.lit(2.0) * v)) / F.sqrt(TWO_PI * v)
            )

        ps = F.transform(F.sequence(F.lit(0), t), pdf)
        rp_expr = F.zip_with(acc["rv"], ps, lambda a, b: a * b)

        def with_rp(rp):
            cp0 = F.aggregate(
                F.transform(rp, lambda q: q * H),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            growth = F.transform(rp, lambda q: q * GM)
            rn_expr = F.concat(F.array(cp0), growth)

            def with_rn(rn_):
                tot_expr = F.aggregate(rn_, F.lit(0.0), lambda a, b: a + b)

                def with_tot(tot):
                    # all-zero mass: restart at run length 0
                    norm_expr = F.when(
                        tot > 0, F.transform(rn_, lambda v2: v2 / tot)
                    ).otherwise(
                        F.transform(
                            rn_,
                            lambda _, i: F.when(
                                i == 0, F.lit(1.0)
                            ).otherwise(F.lit(0.0)),
                        )
                    )

                    def with_norm(norm):
                        short = F.aggregate(
                            F.slice(norm, 1, 6),
                            F.lit(0.0),
                            lambda a, b: a + b,
                        )
                        return F.struct(
                            norm.alias("rv"),
                            F.concat(
                                acc["cps"], F.array(_el(norm, F.lit(0)))
                            ).alias("cps"),
                            F.concat(acc["sh"], F.array(short)).alias("sh"),
                        )

                    return _let(norm_expr, with_norm)

                return _let(tot_expr, with_tot)

            return _let(rn_expr, with_rn)

        return _let(rp_expr, with_rp)

    res = F.aggregate(
        F.sequence(F.lit(0), (F.col("w") - F.lit(1)).cast("int")),
        init,
        step,
    )
    ser = ser.withColumn("cps", res["cps"]).withColumn("sh", res["sh"])
    out = ser.select(
        "series_id",
        "n",
        "w",
        F.posexplode(F.arrays_zip("cps", "sh")).alias("t", "pair"),
    )
    return out.select(
        "series_id",
        (F.col("n") - F.col("w") + F.col("t") + 1).cast("long").alias("rn"),
        _rnd(F.col("pair.cps"), R).alias("cp_prob"),
        _rnd(F.col("pair.sh"), R).alias("cp_score"),
    )


def q_bocpd_changepoints_fixed(spark, sf_dir):
    """Hash-gated fixed twin of BOCPD over each series' last 64 points
    (see ``_bocpd_fixed_plan``)."""
    return _bocpd_fixed_plan(spark, sf_dir, 64, 64)


def _bocpd_fixed_sql() -> str:
    """Assemble the DuckDB mirror of q_bocpd_changepoints_fixed — the
    per-cell expression is long, so it is built once here and spliced
    into the three places the recursion needs it (DuckDB lacks lambdas
    across CTE boundaries).  NOTE the parens around the quantizer:
    ``rv * (floor(..)/1e8)`` — ``a * floor(..) / 1e8`` would associate
    as ``(a*floor(..))/1e8`` and drift one ulp from the Spark fold."""
    ps = f"""list_transform(generate_series(0, dp.t), r ->
        (dp.rv[r + 1] * (floor((exp(-((p.zv[dp.t + 1]
             - (p.l1[dp.t + 1] - p.l1[dp.t - r + 1])
               / (1.0 + CAST(r AS DOUBLE)))
           * (p.zv[dp.t + 1]
             - (p.l1[dp.t + 1] - p.l1[dp.t - r + 1])
               / (1.0 + CAST(r AS DOUBLE))))
           / (2.0 * (1.0 + 1.0 / (1.0 + CAST(r AS DOUBLE)))))
           / sqrt({_TWO_PI} * (1.0 + 1.0 / (1.0 + CAST(r AS DOUBLE)))))
           * 100000000.0 + 0.5) / 100000000.0)))"""
    rn_ = f"""list_prepend(
      list_reduce(list_transform({ps}, q -> q * 0.02), (a, b) -> a + b),
      list_transform({ps}, q -> q * 0.98))"""
    tot = f"list_reduce({rn_}, (a, b) -> a + b)"
    norm = f"""CASE WHEN {tot} > 0
         THEN list_transform({rn_}, v2 -> v2 / {tot})
         ELSE list_prepend(CAST(1.0 AS DOUBLE),
                           list_transform(dp.rv, v2 -> 0.0)) END"""
    return f"""
WITH RECURSIVE {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 64),
tl AS (
  SELECT s.series_id, c.n, s.rn - (c.n - 64) - 1 AS j, s.value
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - 64),
mo AS (
  SELECT series_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2
  FROM tl GROUP BY 1),
zed AS (
  SELECT t.series_id, t.n, t.j,
         (t.value - m.s1 / 64.0)
           / (sqrt(greatest((m.s2 - m.s1 * m.s1 / 64.0)
                            / (64.0 - 1.0), 0.0)) + 1e-9) AS z
  FROM tl t JOIN mo m USING (series_id)),
cum AS (
  SELECT series_id, n, j, z,
         CAST(sum(CAST(z AS DECIMAL(38,12))) OVER wj AS DOUBLE) AS c1
  FROM zed
  WINDOW wj AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ser AS (
  SELECT series_id, max(n) AS n,
         list(z ORDER BY j) AS zv,
         list_prepend(0.0, list(c1 ORDER BY j)) AS l1
  FROM cum GROUP BY 1),
dp AS (
  SELECT series_id, 0 AS t, [CAST(1.0 AS DOUBLE)] AS rv,
         []::DOUBLE[] AS cps, []::DOUBLE[] AS sh
  FROM ser
  UNION ALL
  SELECT dp.series_id, dp.t + 1,
         {norm},
         list_append(dp.cps, ({norm})[1]),
         list_append(dp.sh,
           list_reduce(list_slice({norm}, 1, 6), (a, b) -> a + b))
  FROM dp JOIN ser p USING (series_id)
  WHERE dp.t < 64),
fin AS (SELECT series_id, cps, sh FROM dp WHERE t = 64),
ex AS (
  SELECT f.series_id, p.n,
         unnest(generate_series(1, 64)) AS k, f.cps, f.sh
  FROM fin f JOIN ser p USING (series_id))
SELECT series_id,
       CAST(n - 64 + k AS BIGINT) AS rn,
       round(cps[k], {R}) AS cp_prob,
       round(sh[k], {R}) AS cp_score
FROM ex
"""


ORACLES["bocpd_changepoints_fixed"] = _bocpd_fixed_sql()


def _pelt_fixed_plan(spark, sf_dir, cap, min_n, ln_w):
    """Shared builder for the hash-gated PELT twins: the exact optimal
    partitioning (Killick et al. 2012) over each series' last
    ``w = least(n, cap)`` points (series with ``n >= min_n``), L2
    mean-shift cost, BIC penalty ``β = 2·var·ln_w``.  ``ln_w`` is the
    Column that stands for ln(w): the 128-point twin's oracle pins
    the 12-decimal literal ``_LN128``, the full-extent one the
    8-decimal quantized ``ln(w)`` (libm lns agree far beyond 1e-8).

    F(t) = min_s F(s) + sse(s+1..t) + β is a fold over t carrying
    (F-values, argmin backpointers, surviving candidates) as array
    state; the changepoint set comes from a second backtracking fold
    — Spark runs both with ``F.aggregate``, DuckDB replays them as
    recursive CTEs over list state (the dtw_distance_fixed recipe
    extended to argmin-DP + backtrack).  Segment costs come from
    exact-decimal prefix sums; ties in the argmin break to the
    smallest s in both engines.  Output: the same segment schema as
    pelt_changepoints, over the tail window."""
    tail = _last_w(spark, sf_dir, cap, min_n)
    wj = (
        Window.partitionBy("series_id")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = tail.select(
        "series_id",
        "n",
        "w",
        "j",
        F.sum(F.col("value").cast(DEC_T)).over(wj).cast("double").alias("c1"),
        F.sum((F.col("value") * F.col("value")).cast(DEC_T))
        .over(wj)
        .cast("double")
        .alias("c2"),
    )
    ser = cum.groupBy("series_id").agg(
        F.max("n").alias("n"),
        F.max("w").alias("w"),
        F.concat(
            F.array(F.lit(0.0)),
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c1"))),
                lambda t: t["c1"],
            ),
        ).alias("l1"),
        F.concat(
            F.array(F.lit(0.0)),
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c2"))),
                lambda t: t["c2"],
            ),
        ).alias("l2"),
    )
    wd = F.col("w").cast("double")
    s1t = _el(F.col("l1"), F.col("w"))
    s2t = _el(F.col("l2"), F.col("w"))
    var = F.greatest(
        s2t / wd - (s1t / wd) * (s1t / wd),
        F.lit(0.0),
    )
    ser = ser.withColumn("beta", F.lit(2.0) * var * ln_w)

    init = F.struct(
        F.array(F.lit(-1.0) * F.col("beta")).alias("fs"),
        F.array(F.lit(0)).alias("cps"),
        F.array(F.lit(0)).alias("cand"),
    )

    def step(acc, t):
        # TRUE PELT: the argmin scans only the surviving candidate
        # set, and s is pruned once F(s)+C(s+1..t) > F(t) — for the L2
        # cost the pruned s is STRICTLY worse at every future t'
        # (Killick et al. 2012, Thm 3.1), so values, argmins and the
        # first-min tie-break are identical to the full O(w²) scan
        # while the candidate list stays ~O(1) on changepoint-sparse
        # data.  Both engines replay the same pruning on bit-identical
        # doubles, so the kept sets never diverge.  Costs are staged
        # ONCE through _let bindings (Catalyst HOF lambdas get no CSE).
        def cost(sx):
            m = (t - sx).cast("double")
            d1 = _el(F.col("l1"), t) - _el(F.col("l1"), sx)
            d2 = _el(F.col("l2"), t) - _el(F.col("l2"), sx)
            return _el(acc["fs"], sx) + (
                (d2 - (d1 * d1) / m) + F.col("beta")
            )

        vals_expr = F.transform(acc["cand"], lambda sx: cost(sx))

        def with_vals(vals):
            def with_v(v):
                sstar = F.element_at(
                    acc["cand"], F.array_position(vals, v).cast("int")
                )
                kept = F.filter(
                    acc["cand"],
                    lambda sx, i: _el(vals, i) - F.col("beta") <= v,
                )
                return F.struct(
                    F.concat(acc["fs"], F.array(v)).alias("fs"),
                    F.concat(acc["cps"], F.array(sstar)).alias("cps"),
                    F.concat(kept, F.array(t.cast("int"))).alias("cand"),
                )

            return _let(F.array_min(vals), with_v)

        return _let(vals_expr, with_vals)

    dp = F.aggregate(
        F.sequence(F.lit(1), F.col("w").cast("int")), init, step
    )
    ser = ser.withColumn("cps", dp["cps"])

    def back(acc, _):
        cur = acc["cur"]
        nxt = _el(F.col("cps"), cur)
        return F.when(
            cur > 0,
            F.struct(
                nxt.alias("cur"),
                F.concat(acc["bs"], F.array(nxt)).alias("bs"),
            ),
        ).otherwise(acc)

    bt = F.aggregate(
        F.sequence(F.lit(1), F.col("w").cast("int")),
        F.struct(
            F.col("w").cast("int").alias("cur"),
            F.array(F.col("w").cast("int")).alias("bs"),
        ),
        back,
    )
    ser = ser.withColumn(
        "bounds", F.reverse(F.array_distinct(bt["bs"]))
    )
    seg = ser.select(
        "series_id",
        "n",
        "w",
        "l1",
        "bounds",
        F.explode(
            F.sequence(F.lit(1), F.size("bounds") - 1)
        ).alias("i"),
    )
    b1 = F.element_at("bounds", F.col("i"))
    b2 = F.element_at("bounds", F.col("i") + 1)
    segn = (b2 - b1).cast("long")
    mean = (_el(F.col("l1"), b2) - _el(F.col("l1"), b1)) / segn.cast("double")
    base = F.col("n") - F.col("w")
    return seg.select(
        "series_id",
        (F.col("i") - 1).cast("int").alias("seg"),
        (base + b1 + 1).cast("long").alias("start_rn"),
        (base + b2).cast("long").alias("end_rn"),
        segn.alias("n"),
        _rnd(mean, R).alias("seg_mean"),
    )


def q_pelt_changepoints_fixed(spark, sf_dir):
    """Hash-gated fixed twin of PELT over each series' last 128
    points, penalty ``2·var·ln(128)`` with ln(128) the shared literal
    ``_LN128`` (see ``_pelt_fixed_plan``).  Its oracle runs the
    unpruned O(w²) argmin scan, which the pruned fold must equal."""
    return _pelt_fixed_plan(spark, sf_dir, 128, 128, F.lit(float(_LN128)))


ORACLES["pelt_changepoints_fixed"] = f"""
WITH RECURSIVE {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 128),
tl AS (
  SELECT s.series_id, c.n, s.rn - (c.n - 128) - 1 AS j, s.value
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - 128),
cum AS (
  SELECT series_id, n, j,
         CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wj AS DOUBLE)
           AS c1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) OVER wj
              AS DOUBLE) AS c2
  FROM tl
  WINDOW wj AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ser AS (
  SELECT series_id, max(n) AS n,
         list_prepend(0.0, list(c1 ORDER BY j)) AS l1,
         list_prepend(0.0, list(c2 ORDER BY j)) AS l2
  FROM cum GROUP BY 1),
ser2 AS (
  SELECT series_id, n, l1, l2,
         2.0 * greatest(l2[129] / 128.0
                        - (l1[129] / 128.0) * (l1[129] / 128.0), 0.0)
             * {_LN128} AS beta
  FROM ser),
dp AS (
  SELECT series_id, 0 AS t, [-1.0 * beta] AS fs, [0] AS cps
  FROM ser2
  UNION ALL
  SELECT dp.series_id, dp.t + 1,
         list_append(dp.fs, list_reduce(
           list_transform(generate_series(0, dp.t), sx -> {{
             'v': dp.fs[sx + 1]
                  + (((p.l2[dp.t + 2] - p.l2[sx + 1])
                      - (p.l1[dp.t + 2] - p.l1[sx + 1])
                        * (p.l1[dp.t + 2] - p.l1[sx + 1])
                        / CAST(dp.t + 1 - sx AS DOUBLE)) + p.beta),
             's': sx }}),
           (a, b) -> CASE WHEN b.v < a.v THEN b ELSE a END).v),
         list_append(dp.cps, CAST(list_reduce(
           list_transform(generate_series(0, dp.t), sx -> {{
             'v': dp.fs[sx + 1]
                  + (((p.l2[dp.t + 2] - p.l2[sx + 1])
                      - (p.l1[dp.t + 2] - p.l1[sx + 1])
                        * (p.l1[dp.t + 2] - p.l1[sx + 1])
                        / CAST(dp.t + 1 - sx AS DOUBLE)) + p.beta),
             's': sx }}),
           (a, b) -> CASE WHEN b.v < a.v THEN b ELSE a END).s AS INT))
  FROM dp JOIN ser2 p USING (series_id)
  WHERE dp.t < 128),
fin AS (SELECT series_id, cps FROM dp WHERE t = 128),
bt AS (
  SELECT series_id, CAST(128 AS INT) AS cur, [CAST(128 AS INT)] AS bs,
         cps
  FROM fin
  UNION ALL
  SELECT series_id, CAST(cps[cur + 1] AS INT),
         list_append(bs, CAST(cps[cur + 1] AS INT)), cps
  FROM bt WHERE cur > 0),
bounds AS (
  SELECT series_id, list_reverse(bs) AS bounds
  FROM bt WHERE cur = 0),
segs AS (
  SELECT b.series_id, p.n, p.l1, b.bounds,
         unnest(generate_series(1, len(b.bounds) - 1)) AS i
  FROM bounds b JOIN ser2 p USING (series_id))
SELECT series_id,
       CAST(i - 1 AS INT) AS seg,
       CAST(n - 128 + bounds[i] + 1 AS BIGINT) AS start_rn,
       CAST(n - 128 + bounds[i + 1] AS BIGINT) AS end_rn,
       CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS n,
       round((l1[bounds[i + 1] + 1] - l1[bounds[i] + 1])
             / CAST(bounds[i + 1] - bounds[i] AS DOUBLE), {R})
         AS seg_mean
FROM segs
"""


def q_bocpd_changepoints_fixed_full(spark, sf_dir):
    """FULL-EXTENT hash-gated BOCPD twin (r09 verdict item #1): the
    BOCPD twin over each series' last ``w = least(n, 2048)`` points —
    at the gate SF (sf0.01, ~2000-point series) the ENTIRE series, so
    the hash gate covers the extent the rows-only ``bocpd_changepoints``
    operator processes.  Its oracle stages the per-step intermediates
    through nested subqueries (the 64-point oracle's single-expression
    splice re-evaluates the pdf list ~18× per step: harmless at w=64,
    ~30× slower at w=2048).  The cap bounds the quadratic work at
    larger SFs; the uncapped scale path remains the applyInPandas
    ``bocpd_changepoints``.  See ``_bocpd_fixed_plan``."""
    return _bocpd_fixed_plan(spark, sf_dir, 2048, 64)


def _bocpd_fixed_full_sql() -> str:
    """DuckDB mirror of q_bocpd_changepoints_fixed_full.  Unlike the
    64-pt twin's single-expression splice, the per-step intermediates
    are staged through nested subqueries inside the recursive term
    (DuckDB allows any SELECT shape as long as the recursive ref
    appears once): rp (pdf×prob list) is computed ONCE, then rn_,
    then tot, then norm — the fold order of additions matches the
    Spark ``F.aggregate`` left-fold exactly, and the pdf quantizer
    keeps its parens (``rv * (floor(..)/1e8)``) so both engines
    produce identical doubles."""
    pdf = f"""(floor((exp(-((p.zv[dp.t + 1]
             - (p.l1[dp.t + 1] - p.l1[dp.t - r + 1])
               / (1.0 + CAST(r AS DOUBLE)))
           * (p.zv[dp.t + 1]
             - (p.l1[dp.t + 1] - p.l1[dp.t - r + 1])
               / (1.0 + CAST(r AS DOUBLE))))
           / (2.0 * (1.0 + 1.0 / (1.0 + CAST(r AS DOUBLE)))))
           / sqrt({_TWO_PI} * (1.0 + 1.0 / (1.0 + CAST(r AS DOUBLE)))))
           * 100000000.0 + 0.5) / 100000000.0)"""
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
              + 1e-9) AS z
  FROM tl t JOIN mo m USING (series_id)),
cum AS (
  SELECT series_id, n, w, j, z,
         CAST(sum(CAST(z AS DECIMAL(38,12))) OVER wj AS DOUBLE) AS c1
  FROM zed
  WINDOW wj AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ser AS (
  SELECT series_id, max(n) AS n, max(w) AS w,
         list(z ORDER BY j) AS zv,
         list_prepend(0.0, list(c1 ORDER BY j)) AS l1
  FROM cum GROUP BY 1),
dp AS (
  SELECT series_id, 0 AS t, [CAST(1.0 AS DOUBLE)] AS rv,
         []::DOUBLE[] AS cps, []::DOUBLE[] AS sh
  FROM ser
  UNION ALL
  SELECT series_id, t, norm,
         list_append(cps, norm[1]),
         list_append(sh,
           list_reduce(list_slice(norm, 1, 6), (a, b) -> a + b))
  FROM (
    SELECT series_id, t, cps, sh,
           CASE WHEN tot > 0
                THEN list_transform(rn_, v2 -> v2 / tot)
                ELSE list_prepend(CAST(1.0 AS DOUBLE),
                                  list_transform(rn_[2:], v2 -> 0.0))
           END AS norm
    FROM (
      SELECT series_id, t, cps, sh, rn_,
             list_reduce(rn_, (a, b) -> a + b) AS tot
      FROM (
        SELECT series_id, t, cps, sh,
               list_prepend(
                 list_reduce(list_transform(rp, q -> q * 0.02),
                             (a, b) -> a + b),
                 list_transform(rp, q -> q * 0.98)) AS rn_
        FROM (
          SELECT dp.series_id, dp.t + 1 AS t, dp.cps, dp.sh,
                 list_transform(generate_series(0, dp.t), r ->
                   dp.rv[r + 1] * {pdf}) AS rp
          FROM dp JOIN ser p USING (series_id)
          WHERE dp.t < p.w) q1) q2) q3) q4),
fin AS (
  SELECT dp.series_id, p.n, p.w, dp.cps, dp.sh
  FROM dp JOIN ser p USING (series_id)
  WHERE dp.t = p.w),
ex AS (
  SELECT series_id, n, w,
         unnest(generate_series(1, CAST(w AS INT))) AS k, cps, sh
  FROM fin)
SELECT series_id,
       CAST(n - w + k AS BIGINT) AS rn,
       round(cps[k], {R}) AS cp_prob,
       round(sh[k], {R}) AS cp_score
FROM ex
"""


ORACLES["bocpd_changepoints_fixed_full"] = _bocpd_fixed_full_sql()


def q_pelt_changepoints_fixed_full(spark, sf_dir):
    """FULL-EXTENT hash-gated PELT twin (r09 verdict item #1): the
    PELT twin over each series' last ``w = least(n, 2048)`` points —
    the entire series at the gate SF.  The penalty generalizes the
    pinned ln(128) literal to ``2·var·q8(ln(w))``.  Its oracle stages
    the argmin once per step through a nested subquery (the 128-point
    oracle's splice evaluates the candidate scan twice, once for .v
    and once for .s, which doubles the dominant O(w²) term at full
    extent).  See ``_pelt_fixed_plan``."""
    return _pelt_fixed_plan(
        spark, sf_dir, 2048, 64, _q8(F.log(F.col("w").cast("double")))
    )


ORACLES["pelt_changepoints_fixed_full"] = f"""
WITH RECURSIVE {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n, least(count(*), 2048) AS w
  FROM s GROUP BY 1
  HAVING count(*) >= 64),
tl AS (
  SELECT s.series_id, c.n, c.w, s.rn - (c.n - c.w) - 1 AS j, s.value
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - c.w),
cum AS (
  SELECT series_id, n, w, j,
         CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wj AS DOUBLE)
           AS c1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) OVER wj
              AS DOUBLE) AS c2
  FROM tl
  WINDOW wj AS (PARTITION BY series_id ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ser AS (
  SELECT series_id, max(n) AS n, max(w) AS w,
         list_prepend(0.0, list(c1 ORDER BY j)) AS l1,
         list_prepend(0.0, list(c2 ORDER BY j)) AS l2
  FROM cum GROUP BY 1),
ser2 AS (
  SELECT series_id, n, w, l1, l2,
         2.0 * greatest(l2[CAST(w AS INT) + 1] / CAST(w AS DOUBLE)
                        - (l1[CAST(w AS INT) + 1] / CAST(w AS DOUBLE))
                          * (l1[CAST(w AS INT) + 1] / CAST(w AS DOUBLE)),
                        0.0)
             * (floor(ln(CAST(w AS DOUBLE)) * 100000000.0 + 0.5)
                / 100000000.0) AS beta
  FROM ser),
dp AS (
  SELECT series_id, 0 AS t, [-1.0 * beta] AS fs, [0] AS cps,
         [0] AS cand
  FROM ser2
  UNION ALL
  -- TRUE PELT (mirrors the Spark fold): costs over the surviving
  -- candidate set only, staged ONCE; list_min + first-match
  -- list_position keep the earliest-argmin tie-break; s is pruned
  -- once F(s)+C(s+1..t) > F(t) (vals[i]-beta <= v keeps it) — for
  -- the L2 cost pruned candidates are strictly worse at every later
  -- t, so the pruned argmin equals the full scan on both engines
  SELECT series_id, t, list_append(fs, v),
         list_append(cps, CAST(cand[list_position(vals, v)] AS INT)),
         list_append(
           list_transform(
             list_filter(generate_series(1, len(cand)),
                         i -> vals[i] - beta <= v),
             i -> cand[i]),
           t)
  FROM (
    SELECT series_id, t, fs, cps, cand, beta, vals,
           list_min(vals) AS v
    FROM (
      SELECT dp.series_id, dp.t + 1 AS t, dp.fs, dp.cps, dp.cand,
             p.beta,
             list_transform(dp.cand, sx ->
               dp.fs[sx + 1]
               + (((p.l2[dp.t + 2] - p.l2[sx + 1])
                   - (p.l1[dp.t + 2] - p.l1[sx + 1])
                     * (p.l1[dp.t + 2] - p.l1[sx + 1])
                     / CAST(dp.t + 1 - sx AS DOUBLE)) + p.beta)) AS vals
      FROM dp JOIN ser2 p USING (series_id)
      WHERE dp.t < p.w) qa) qb),
fin AS (
  SELECT dp.series_id, p.w, dp.cps
  FROM dp JOIN ser2 p USING (series_id)
  WHERE dp.t = p.w),
bt AS (
  SELECT series_id, CAST(w AS INT) AS cur, [CAST(w AS INT)] AS bs,
         cps
  FROM fin
  UNION ALL
  SELECT series_id, CAST(cps[cur + 1] AS INT),
         list_append(bs, CAST(cps[cur + 1] AS INT)), cps
  FROM bt WHERE cur > 0),
bounds AS (
  SELECT series_id, list_reverse(bs) AS bounds
  FROM bt WHERE cur = 0),
segs AS (
  SELECT b.series_id, p.n, p.w, p.l1, b.bounds,
         unnest(generate_series(1, len(b.bounds) - 1)) AS i
  FROM bounds b JOIN ser2 p USING (series_id))
SELECT series_id,
       CAST(i - 1 AS INT) AS seg,
       CAST(n - w + bounds[i] + 1 AS BIGINT) AS start_rn,
       CAST(n - w + bounds[i + 1] AS BIGINT) AS end_rn,
       CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS n,
       round((l1[bounds[i + 1] + 1] - l1[bounds[i] + 1])
             / CAST(bounds[i + 1] - bounds[i] AS DOUBLE), {R})
         AS seg_mean
FROM segs
"""


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


ORACLES["gp_forecast_fixed"] = _gp_fixed_sql()


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


ORACLES["gp_forecast_fixed_std"] = _gp_fixed_std_sql()


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


ORACLES["lstm_forecast_fixed"] = _lstm_fixed_sql()


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift test (Page 1954; Gama et al. 2014), fully
    native and hash-gated: PH's statistic has a closed prefix form
    (decimal cumsum + running extremum), so — unlike CUSUM's clamped
    recursion (``cusum_changepoints``, recursive-CTE oracle) — it
    needs NO recursion at all.  δ = σ/8, λ = 20σ from exact moments."""
    from ..operators.drift import page_hinkley

    out = page_hinkley(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("ph_up", R).alias("ph_up"),
        _rnd("ph_dn", R).alias("ph_dn"),
        "flag_up", "flag_dn",
    )


ORACLES["page_hinkley"] = f"""
WITH {SQL_S}, {SQL_MO},
cum AS (
  SELECT s.series_id, s.rn, m.mu, m.sd,
         CAST(sum(CAST(s.value AS DECIMAL(38,12))) OVER (
           PARTITION BY s.series_id ORDER BY s.rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS st
  FROM s JOIN mo2 m USING (series_id)),
stat AS (
  SELECT series_id, rn, sd,
         st - rn * (mu + sd * 0.125) AS m_up,
         st - rn * (mu - sd * 0.125) AS m_dn
  FROM cum),
ext AS (
  SELECT series_id, rn, sd, m_up, m_dn,
         min(m_up) OVER w AS mn, max(m_dn) OVER w AS mx
  FROM stat
  WINDOW w AS (PARTITION BY series_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT series_id, rn,
       round(m_up - mn, {R}) AS ph_up,
       round(mx - m_dn, {R}) AS ph_dn,
       CAST(CASE WHEN m_up - mn > sd * 20.0 THEN 1 ELSE 0 END AS INT)
         AS flag_up,
       CAST(CASE WHEN mx - m_dn > sd * 20.0 THEN 1 ELSE 0 END AS INT)
         AS flag_dn
FROM ext
"""


def q_knn_outlier(spark, sf_dir):
    """Exact 1-D kNN distance outlier score (Ramaswamy et al.
    SIGMOD'00), hash-gated: in value order each point's 3 nearest
    values sit among its 3 lags/leads — 6 window columns, no
    self-join.  Fixed 3-term distance sum; top-1% rank flag."""
    from ..operators.neighbors import knn_outlier

    out = knn_outlier(_series(spark, sf_dir), k=3, top_frac=0.01)
    return out.select(
        "series_id", "rn",
        _rnd("knn_score", R).alias("knn_score"),
        _rnd("kth_dist", R).alias("kth_dist"),
        "score_rank", "flag",
    )


ORACLES["knn_outlier"] = f"""
WITH {SQL_S},
nb AS (
  SELECT series_id, rn,
         list_sort(list_filter([
           abs(value - lag(value, 1) OVER wv),
           abs(value - lag(value, 2) OVER wv),
           abs(value - lag(value, 3) OVER wv),
           abs(value - lead(value, 1) OVER wv),
           abs(value - lead(value, 2) OVER wv),
           abs(value - lead(value, 3) OVER wv)],
           x -> x IS NOT NULL)) AS d
  FROM s
  WINDOW wv AS (PARTITION BY series_id ORDER BY value, rn)),
sc AS (
  SELECT series_id, rn,
         (0.0 + d[1] + d[2] + d[3]) / 3.0 AS score, d[3] AS kth
  FROM nb),
rk AS (
  SELECT series_id, rn, score, kth,
         rank() OVER (PARTITION BY series_id
                      ORDER BY score DESC, rn) AS r,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM sc)
SELECT series_id, rn, round(score, {R}) AS knn_score,
       round(kth, {R}) AS kth_dist, r AS score_rank,
       CAST(CASE WHEN r <= greatest(1, floor(n * 0.01))
            THEN 1 ELSE 0 END AS INT) AS flag
FROM rk
"""


def q_kde_rarity(spark, sf_dir):
    """Binned Epanechnikov KDE rarity (Silverman §2.7), hash-gated:
    integer histogram at σ/8 smoothed by the parabolic kernel at
    bandwidth σ/2 (7 fixed offsets, decimal-summed) — the
    kernel-smoothed complement of HBOS; flag = density below ¼ of
    uniform.  O(n + bins), no pairwise KDE anywhere."""
    from ..operators.neighbors import kde_rarity

    out = kde_rarity(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn", "bin",
        _rnd("density", R).alias("density"),
        "flag",
    )


ORACLES["kde_rarity"] = f"""
WITH {SQL_S},
mo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2,
         min(value) AS vmin, max(value) AS vmax
  FROM s GROUP BY 1),
par AS (
  SELECT series_id, n, vmin, vmax,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) * 0.125
           + 1e-9 AS delta,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) * 0.5
           + 1e-9 AS h
  FROM mo),
bins AS (
  SELECT s.series_id, s.rn,
         CAST(floor((s.value - p.vmin) / p.delta) AS BIGINT) AS bin
  FROM s JOIN par p USING (series_id)),
cnts AS (
  SELECT series_id, bin, count(*) AS cnt FROM bins GROUP BY 1, 2),
smear AS (
  SELECT c.series_id, c.bin + t.j AS tbin,
         c.cnt * (0.75 * (1.0 - (t.j * p.delta / p.h)
                                * (t.j * p.delta / p.h))) AS w
  FROM cnts c
  JOIN par p USING (series_id),
       unnest([-3, -2, -1, 0, 1, 2, 3]) AS t(j)),
dens AS (
  SELECT series_id, tbin AS bin,
         CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS sw
  FROM smear GROUP BY 1, 2),
dens2 AS (
  SELECT d.series_id, d.bin, d.sw / (p.n * p.h) AS density,
         0.25 / (p.vmax - p.vmin + 1e-9) AS rare_at
  FROM dens d JOIN par p USING (series_id))
SELECT b.series_id, b.rn, b.bin, round(d.density, {R}) AS density,
       CAST(CASE WHEN d.density < d.rare_at THEN 1 ELSE 0 END AS INT)
         AS flag
FROM bins b JOIN dens2 d ON d.series_id = b.series_id
                        AND d.bin = b.bin
"""


def q_croston_forecast(spark, sf_dir):
    """Croston's intermittent-demand method (Croston 1972), hash-gated
    via a RECURSIVE-CTE oracle: separate dyadic-α SES recursions over
    exceedance sizes and inter-exceedance intervals (demand =
    max(value − q90, 0)); forecast z/p held flat until the next
    demand — the sparse-events complement of the dense forecasters."""
    from ..functions.croston import croston_forecast

    out = croston_forecast(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("demand", R).alias("demand"),
        _rnd("croston", R).alias("croston"),
    )


ORACLES["croston_forecast"] = f"""
WITH RECURSIVE {SQL_S},
thr AS (
  SELECT series_id, quantile_cont(value, 0.9) AS thr
  FROM s GROUP BY 1),
dem AS (
  SELECT s.series_id, s.rn,
         CASE WHEN s.value > t.thr THEN s.value - t.thr
              ELSE 0.0 END AS demand
  FROM s JOIN thr t USING (series_id)),
pts AS (
  SELECT series_id, rn, demand,
         row_number() OVER (PARTITION BY series_id ORDER BY rn) AS k,
         rn - coalesce(lag(rn) OVER (
           PARTITION BY series_id ORDER BY rn), 0) AS gap
  FROM dem WHERE demand > 0),
rec AS (
  SELECT series_id, rn, k,
         CAST(demand AS DOUBLE) AS z, CAST(rn AS DOUBLE) AS p
  FROM pts WHERE k = 1
  UNION ALL
  SELECT q.series_id, q.rn, q.k,
         r.z + 0.25 * (q.demand - r.z) AS z,
         r.p + 0.25 * (q.gap - r.p) AS p
  FROM rec r JOIN pts q
    ON q.series_id = r.series_id AND q.k = r.k + 1)
SELECT d.series_id, d.rn, round(d.demand, {R}) AS demand,
       round(last_value(r.z / r.p IGNORE NULLS) OVER (
         PARTITION BY d.series_id ORDER BY d.rn
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {R})
         AS croston
FROM dem d LEFT JOIN rec r
  ON r.series_id = d.series_id AND r.rn = d.rn
"""


def q_sax_bitmap(spark, sf_dir):
    """SAX bitmap anomaly distance (Wei, Keogh et al. SDM'05),
    hash-gated: 64-segment chunks scored by the squared distance
    between consecutive symbol-BIGRAM count vectors — pure integer
    algebra (Σc² + Σd² − 2Σcd) on broadcast-sized chunk tables."""
    from ..operators.sax import sax_bitmap

    out = sax_bitmap(
        _series(spark, sf_dir), seg_len=4, alphabet=4, chunk_len=64,
        top_frac=0.05,
    )
    return out.select(
        "series_id", "chunk", "dist", "dist_rank", "flag"
    )


ORACLES["sax_bitmap"] = f"""
WITH {SQL_S}, {SQL_MO},
z AS (
  SELECT s.series_id, s.rn,
         (s.value - mo2.mu) / (mo2.sd + 1e-9) AS z,
         CAST(floor((s.rn - 1) / 4) AS BIGINT) AS seg
  FROM s JOIN mo2 USING (series_id)),
paa AS (
  SELECT series_id, seg,
         CAST(sum(CAST(z AS DECIMAL(38,12))) AS DOUBLE) / count(*)
           AS paa
  FROM z GROUP BY 1, 2),
symed AS (
  SELECT series_id, seg,
         CASE WHEN paa >= 0.67 THEN 'd'
              WHEN paa >= 0.0 THEN 'c'
              WHEN paa >= -0.67 THEN 'b'
              ELSE 'a' END AS symbol
  FROM paa),
bi AS (
  SELECT series_id, seg,
         symbol || lead(symbol, 1) OVER (
           PARTITION BY series_id ORDER BY seg) AS bigram,
         CAST(floor(seg / 64) AS BIGINT) AS chunk
  FROM symed),
cnt AS (
  SELECT series_id, chunk, bigram, count(*) AS cnt
  FROM bi WHERE bigram IS NOT NULL GROUP BY 1, 2, 3),
ss AS (
  SELECT series_id, chunk, sum(cnt * cnt) AS ss
  FROM cnt GROUP BY 1, 2),
cross_t AS (
  SELECT a.series_id, a.chunk, sum(a.cnt * b.cnt) AS x
  FROM cnt a JOIN cnt b
    ON b.series_id = a.series_id AND b.chunk = a.chunk + 1
   AND b.bigram = a.bigram
  GROUP BY 1, 2),
pairs AS (
  SELECT a.series_id, a.chunk + 1 AS chunk,
         CAST(a.ss + b.ss - 2 * coalesce(x.x, 0) AS BIGINT) AS dist
  FROM ss a
  JOIN ss b ON b.series_id = a.series_id AND b.chunk = a.chunk + 1
  LEFT JOIN cross_t x
    ON x.series_id = a.series_id AND x.chunk = a.chunk),
rk AS (
  SELECT series_id, chunk, dist,
         rank() OVER (PARTITION BY series_id
                      ORDER BY dist DESC, chunk) AS r,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM pairs)
SELECT series_id, chunk, dist, r AS dist_rank,
       CAST(CASE WHEN r <= greatest(1, floor(n * 0.05))
            THEN 1 ELSE 0 END AS INT) AS flag
FROM rk
"""


def q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test (1988) at q ∈ {2,4,8},
    hash-gated: VR(q) = Var(q-diff)/(q·Var(1-diff)) from exact-decimal
    moment sums + the asymptotic z — the FORMAL random-walk test
    behind the ACF plots the reference eyeballs.  One window pass,
    one aggregate, q rows per series."""
    from ..operators.stattests import variance_ratio

    out = variance_ratio(_series(spark, sf_dir))
    return out.select(
        "series_id", "q", "n",
        _rnd("var1", R).alias("var1"),
        _rnd("varq", R).alias("varq"),
        _rnd("vr", R).alias("vr"),
        _rnd("z", R).alias("z"),
    )


ORACLES["variance_ratio"] = f"""
WITH {SQL_S},
lagd AS (
  SELECT series_id, rn,
         value - lag(value, 1) OVER w AS d1,
         value - lag(value, 2) OVER w AS d2,
         value - lag(value, 4) OVER w AS d4,
         value - lag(value, 8) OVER w AS d8
  FROM s WINDOW w AS (PARTITION BY series_id ORDER BY rn)),
agg AS (
  SELECT series_id,
         count(d1) AS n,
         (CAST(sum(CAST(d1 AS DECIMAL(38,12))) AS DOUBLE)) AS a1,
         (CAST(sum(CAST(d1 * d1 AS DECIMAL(38,12))) AS DOUBLE)) AS b1,
         count(d2) AS n2,
         (CAST(sum(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE)) AS a2,
         (CAST(sum(CAST(d2 * d2 AS DECIMAL(38,12))) AS DOUBLE)) AS b2,
         count(d4) AS n4,
         (CAST(sum(CAST(d4 AS DECIMAL(38,12))) AS DOUBLE)) AS a4,
         (CAST(sum(CAST(d4 * d4 AS DECIMAL(38,12))) AS DOUBLE)) AS b4,
         count(d8) AS n8,
         (CAST(sum(CAST(d8 AS DECIMAL(38,12))) AS DOUBLE)) AS a8,
         (CAST(sum(CAST(d8 * d8 AS DECIMAL(38,12))) AS DOUBLE)) AS b8
  FROM lagd GROUP BY 1),
vv AS (
  SELECT series_id, n,
         (b1 - a1 * a1 / n) / (n - 1) AS var1,
         (b2 - a2 * a2 / n2) / (n2 - 1) AS varq_2,
         (b4 - a4 * a4 / n4) / (n4 - 1) AS varq_4,
         (b8 - a8 * a8 / n8) / (n8 - 1) AS varq_8
  FROM agg),
vals AS (
  SELECT series_id, n, var1, 2 AS q, varq_2 AS varq FROM vv
  UNION ALL
  SELECT series_id, n, var1, 4 AS q, varq_4 AS varq FROM vv
  UNION ALL
  SELECT series_id, n, var1, 8 AS q, varq_8 AS varq FROM vv)
SELECT series_id, q, n,
       round(var1, {R}) AS var1,
       round(varq, {R}) AS varq,
       round(varq / (q * var1), {R}) AS vr,
       round((varq / (q * var1) - 1.0)
             / sqrt((2.0 * (2.0 * q - 1.0) * (q - 1.0))
                    / (3.0 * q * n)), {R}) AS z
FROM vals
"""


def q_forecast_features(spark, sf_dir):
    """Forecast feature table: short lags + seasonal lag + trailing
    W1 rolling mean/std + calendar keys + positional split fraction —
    the feature-engineering pass a tabular forecaster trains on
    (generalizes src/lstm_model.py:18-30's hand-built windows).
    Fully native; one series exchange."""
    from ..operators.features import feature_table

    out = feature_table(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("roll_mean", R).alias("roll_mean"),
        _rnd("roll_std", R).alias("roll_std"),
        _rnd("lag_1", R).alias("lag_1"),
        _rnd("lag_2", R).alias("lag_2"),
        _rnd("lag_3", R).alias("lag_3"),
        _rnd("lag_s48", R).alias("lag_s48"),
        "hod", "dow",
        _rnd("pos_frac", R).alias("pos_frac"),
    )


ORACLES["forecast_features"] = f"""
WITH {SQL_S}, {SQL_ROLL},
lagd AS (
  SELECT series_id, rn, timestamp,
         lag(value, 1) OVER w AS lag_1,
         lag(value, 2) OVER w AS lag_2,
         lag(value, 3) OVER w AS lag_3,
         lag(value, 48) OVER w AS lag_s48,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM s WINDOW w AS (PARTITION BY series_id ORDER BY rn)),
feat AS (
  SELECT l.series_id, l.rn,
         r.roll_mean, r.roll_std,
         l.lag_1, l.lag_2, l.lag_3, l.lag_s48,
         CAST(hour(l.timestamp) AS INTEGER) AS hod,
         CAST(dayofweek(l.timestamp) AS INTEGER) AS dow,
         l.rn / l.n AS pos_frac
  FROM lagd l JOIN roll r ON r.series_id = l.series_id
                         AND r.rn = l.rn)
SELECT series_id, rn,
       round(roll_mean, {R}) AS roll_mean,
       round(roll_std, {R}) AS roll_std,
       round(lag_1, {R}) AS lag_1,
       round(lag_2, {R}) AS lag_2,
       round(lag_3, {R}) AS lag_3,
       round(lag_s48, {R}) AS lag_s48,
       hod, dow,
       round(pos_frac, {R}) AS pos_frac
FROM feat
"""


def q_rs_hurst(spark, sf_dir):
    """Rescaled-range (R/S) analysis (Hurst 1951) at block scales
    {64, 256}, hash-gated: per-block range of mean-adjusted cumulative
    deviations over the population std, block-averaged per scale —
    the long-memory diagnostic beside variance_ratio.  The Hurst
    slope itself (a cross-engine-unstable log ratio) stays
    driver-side."""
    from ..operators.stattests import rs_analysis

    out = rs_analysis(_series(spark, sf_dir))
    return out.select(
        "series_id", "scale", "n_blocks",
        _rnd("rs_mean", R).alias("rs_mean"),
    )


def _rs_scale_ctes(s: int) -> str:
    return f"""
blk{s} AS (
  SELECT series_id, rn, value,
         CAST(floor((rn - 1) / {s}) AS BIGINT) AS b
  FROM s),
cum{s} AS (
  SELECT series_id, b, rn,
         CAST(sum(CAST(value AS DECIMAL(38,12))) OVER (
           PARTITION BY series_id, b ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS c,
         rn - b * {s} AS pos
  FROM blk{s}),
bs{s} AS (
  SELECT series_id, b, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2
  FROM blk{s} GROUP BY 1, 2),
bm{s} AS (
  SELECT series_id, b, s1 / n AS m,
         sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)) AS sd
  FROM bs{s} WHERE n = {s}),
zz{s} AS (
  SELECT c.series_id, c.b, m.sd, c.c - c.pos * m.m AS z
  FROM cum{s} c JOIN bm{s} m ON m.series_id = c.series_id
                            AND m.b = c.b),
rr{s} AS (
  SELECT series_id, b, max(z) - min(z) AS r, any_value(sd) AS sd
  FROM zz{s} GROUP BY 1, 2),
ag{s} AS (
  SELECT series_id, CAST({s} AS INT) AS scale,
         count(*) AS n_blocks,
         CAST(sum(CAST(r / (sd + 1e-9) AS DECIMAL(38,12)))
              AS DOUBLE) / count(*) AS rs_mean
  FROM rr{s} GROUP BY 1)"""


ORACLES["rs_hurst"] = f"""
WITH {SQL_S},{_rs_scale_ctes(64)},{_rs_scale_ctes(256)}
SELECT series_id, scale, n_blocks, round(rs_mean, {R}) AS rs_mean
FROM ag64
UNION ALL
SELECT series_id, scale, n_blocks, round(rs_mean, {R}) AS rs_mean
FROM ag256
"""


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov train/test drift test (the formal
    statistic behind the split_drift decile TVD), hash-gated: integer
    cumulative ECDF counts over one value-ordered window; α=0.05
    rejection flag."""
    from ..operators.stattests import ks_drift

    out = ks_drift(_series(spark, sf_dir), train_frac=0.7)
    return out.select(
        "series_id", "n_train", "n_test",
        _rnd("ks", R).alias("ks"),
        _rnd("ks_at", R).alias("ks_at"),
        "flag",
    )


ORACLES["ks_drift"] = f"""
WITH {SQL_S},
n AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
tagged AS (
  SELECT s.series_id, s.value AS val,
         CAST(CASE WHEN s.rn <= floor(n.n * 0.7) THEN 1 ELSE 0 END
              AS BIGINT) AS tr
  FROM s JOIN n USING (series_id)),
pv AS (
  SELECT series_id, val,
         CAST(sum(tr) AS BIGINT) AS c_tr,
         CAST(sum(1 - tr) AS BIGINT) AS c_te
  FROM tagged GROUP BY 1, 2),
tot AS (
  SELECT series_id, CAST(sum(c_tr) AS BIGINT) AS n_train,
         CAST(sum(c_te) AS BIGINT) AS n_test
  FROM pv GROUP BY 1),
ecdf AS (
  SELECT p.series_id, p.val, t.n_train, t.n_test,
         sum(p.c_tr) OVER w AS f_tr,
         sum(p.c_te) OVER w AS f_te
  FROM pv p JOIN tot t USING (series_id)
  WINDOW w AS (PARTITION BY p.series_id ORDER BY p.val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
dd AS (
  SELECT series_id, val, n_train, n_test,
         abs(f_tr / n_train - f_te / n_test) AS d,
         row_number() OVER (
           PARTITION BY series_id
           ORDER BY abs(f_tr / n_train - f_te / n_test) DESC, val)
           AS r
  FROM ecdf)
SELECT series_id, n_train, n_test,
       round(d, {R}) AS ks, round(val, {R}) AS ks_at,
       CAST(CASE WHEN d > 1.358 * sqrt((n_train + n_test)
                 / CAST(n_train * n_test AS DOUBLE))
            THEN 1 ELSE 0 END AS INT) AS flag
FROM dd WHERE r = 1
"""


def q_cusum_squares(spark, sf_dir):
    """Inclán-Tiao CUSUM-of-squares variance-changepoint test (JASA
    1994), hash-gated: D_k = C_k/C_n − k/n over decimal cumulative
    squares, argmax location + sqrt(n/2)·max|D| against the 1.358
    α=0.05 critical value — the VARIANCE complement of the mean-shift
    charts."""
    from ..operators.stattests import cusum_squares

    out = cusum_squares(_series(spark, sf_dir))
    return out.select(
        "series_id", "k_hat",
        _rnd("d_abs_max", R).alias("d_abs_max"),
        _rnd("it_stat", R).alias("it_stat"),
        "flag",
    )


ORACLES["cusum_squares"] = f"""
WITH {SQL_S},
tot AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS cn
  FROM s GROUP BY 1),
cum AS (
  SELECT s.series_id, s.rn, t.n, t.cn,
         CAST(sum(CAST(s.value * s.value AS DECIMAL(38,12))) OVER (
           PARTITION BY s.series_id ORDER BY s.rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS ck
  FROM s JOIN tot t USING (series_id)),
dd AS (
  SELECT series_id, rn, n,
         abs(ck / cn - rn / n) AS d,
         row_number() OVER (
           PARTITION BY series_id
           ORDER BY abs(ck / cn - rn / n) DESC, rn) AS r
  FROM cum)
SELECT series_id, rn AS k_hat, round(d, {R}) AS d_abs_max,
       round(sqrt(n / 2.0) * d, {R}) AS it_stat,
       CAST(CASE WHEN sqrt(n / 2.0) * d > 1.358 THEN 1 ELSE 0 END
            AS INT) AS flag
FROM dd WHERE r = 1
"""


def q_holt_linear(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing with fixed
    dyadic (α=1/4, β=1/16), hash-gated via RECURSIVE-CTE oracle —
    completes the exponential family between theta's SES and the
    seasonal holt_winters_fixed.  Two scalars of state; init
    l=y₁, b=y₂−y₁; one-step predictions from rn=3."""
    from ..functions.holt_winters import holt_linear_fixed

    out = holt_linear_fixed(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("pred", R).alias("pred"),
        _rnd("resid", R).alias("resid"),
    )


ORACLES["holt_linear"] = f"""
WITH RECURSIVE {SQL_S},
rec AS (
  SELECT s2.series_id, CAST(2 AS BIGINT) AS rn,
         CAST(s1.value AS DOUBLE) AS l,
         CAST(s2.value - s1.value AS DOUBLE) AS b
  FROM s s1 JOIN s s2 ON s2.series_id = s1.series_id
                     AND s1.rn = 1 AND s2.rn = 2
  UNION ALL
  SELECT q.series_id, q.rn,
         0.25 * q.value + 0.75 * (r.l + r.b) AS l,
         0.0625 * ((0.25 * q.value + 0.75 * (r.l + r.b)) - r.l)
           + 0.9375 * r.b AS b
  FROM rec r JOIN s q ON q.series_id = r.series_id
                     AND q.rn = r.rn + 1)
SELECT s.series_id, s.rn,
       round(r.l + r.b, {R}) AS pred,
       round(s.value - (r.l + r.b), {R}) AS resid
FROM rec r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
"""


def q_harmonic_forecast(spark, sf_dir):
    """Fourier-term harmonic regression (trend + K=3 seasonal
    sinusoids at period 48), closed-form OLS per series on the train
    prefix — the non-iterative seasonal benchmark beside the
    state-space fits.  Rows-only by declared design (sin/cos are not
    cross-engine bit-stable); numpy-parity + planted-seasonality R²
    tests pin semantics."""
    from ..functions.harmonic import harmonic_forecast

    out = harmonic_forecast(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn", "split",
        _rnd("pred", R).alias("pred"),
        _rnd("resid", R).alias("resid"),
    )


def _harmonic_table(m: int = 48):
    """Quantized sinusoid design table for the hash-gated harmonic
    twin: sin/cos(2πk·pos/m), k=1,2, rounded to 12 decimals.  Both
    engines consume the SAME decimal literals (Spark as a broadcast
    literal frame, DuckDB as a VALUES list), so the transcendentals
    never enter the comparison — the design matrix is *defined* as
    this table (``pos = rn % m``; sinusoids are m-periodic in rn)."""
    import numpy as np

    rows = []
    vals_sql = []
    for pos in range(m):
        w = 2.0 * np.pi * pos / m
        s1, c1 = round(float(np.sin(w)), 12), round(float(np.cos(w)), 12)
        s2, c2 = round(float(np.sin(2 * w)), 12), round(float(np.cos(2 * w)), 12)
        rows.append((pos, s1, c1, s2, c2))
        vals_sql.append(
            f"({pos}, {s1:.12f}, {c1:.12f}, {s2:.12f}, {c2:.12f})"
        )
    return rows, ",\n    ".join(vals_sql)


_HARMONIC_ROWS, _HARMONIC_VALUES_SQL = _harmonic_table(48)


def q_harmonic_forecast_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the harmonic forecaster (r06 verdict
    item #6): level + K=2 sinusoids at period 48, coefficients by the
    exact DFT projection ``a_k = 2·Σ(y·c_k)/n_tr`` over a train
    prefix truncated to whole periods (``n_tr = 48·⌊⌊0.7n⌋/48⌋``) —
    on whole periods the quantized sinusoid regressors are
    (near-)orthogonal and the projection IS the least-squares fit of
    this design table.  Every sum is exact-decimal; sin/cos enter
    only through the shared 48-row literal table, so both engines
    compute bit-identical coefficients and predictions.  Fully
    native: two broadcast joins (counts, table) + one grouped
    decimal aggregate — no UDF, one shuffle on series_id."""
    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    h = spark.createDataFrame(
        _HARMONIC_ROWS, "pos long, s1 double, c1 double, s2 double, c2 double"
    )
    cnt = s.groupBy("series_id").agg(F.count("*").alias("n"))
    n_tr = F.greatest(
        F.lit(48) * F.floor(F.floor(F.lit(0.7) * F.col("n")) / F.lit(48)),
        F.lit(1),
    ).cast("double")
    cnt = cnt.withColumn("n_tr", n_tr)
    j = (
        s.withColumn("pos", F.col("rn") % F.lit(48))
        .join(F.broadcast(cnt), "series_id")
        .join(F.broadcast(h), "pos")
    )
    v = F.col("value")

    tr = (
        j.filter(F.col("rn") <= F.col("n_tr"))
        .groupBy("series_id")
        .agg(
            _dsum(v).alias("sy"),
            _dsum(v * F.col("c1")).alias("syc1"),
            _dsum(v * F.col("s1")).alias("sys1"),
            _dsum(v * F.col("c2")).alias("syc2"),
            _dsum(v * F.col("s2")).alias("sys2"),
        )
    )
    co = tr.join(cnt.select("series_id", "n_tr"), "series_id").select(
        "series_id",
        (F.col("sy") / F.col("n_tr")).alias("a0"),
        (F.lit(2.0) * F.col("syc1") / F.col("n_tr")).alias("a1"),
        (F.lit(2.0) * F.col("sys1") / F.col("n_tr")).alias("b1"),
        (F.lit(2.0) * F.col("syc2") / F.col("n_tr")).alias("a2"),
        (F.lit(2.0) * F.col("sys2") / F.col("n_tr")).alias("b2"),
    )
    out = j.join(F.broadcast(co), "series_id")
    pred = (
        (
            (
                (F.col("a0") + F.col("a1") * F.col("c1"))
                + F.col("b1") * F.col("s1")
            )
            + F.col("a2") * F.col("c2")
        )
        + F.col("b2") * F.col("s2")
    )
    return out.select(
        "series_id",
        "rn",
        F.when(F.col("rn") <= F.col("n_tr"), F.lit("Train"))
        .otherwise(F.lit("Test"))
        .alias("split"),
        _rnd(pred, R).alias("pred"),
        _rnd(v - pred, R).alias("resid"),
    )


ORACLES["harmonic_forecast_fixed"] = f"""
WITH {SQL_S},
h(pos, s1, c1, s2, c2) AS (
  VALUES
    {_HARMONIC_VALUES_SQL}
),
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1),
cnt2 AS (
  SELECT series_id,
         CAST(greatest(48 * FLOOR(FLOOR(0.7 * n) / 48), 1) AS DOUBLE)
           AS n_tr
  FROM cnt),
j AS (
  SELECT s.series_id, s.rn, s.value, c.n_tr,
         h.s1, h.c1, h.s2, h.c2
  FROM s
  JOIN cnt2 c USING (series_id)
  JOIN h ON h.pos = s.rn % 48),
tr AS (
  SELECT series_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(value * c1 AS DECIMAL(38,12))) AS DOUBLE) AS syc1,
         CAST(sum(CAST(value * s1 AS DECIMAL(38,12))) AS DOUBLE) AS sys1,
         CAST(sum(CAST(value * c2 AS DECIMAL(38,12))) AS DOUBLE) AS syc2,
         CAST(sum(CAST(value * s2 AS DECIMAL(38,12))) AS DOUBLE) AS sys2
  FROM j WHERE rn <= n_tr GROUP BY 1),
co AS (
  SELECT t.series_id,
         t.sy / c.n_tr AS a0,
         2.0 * t.syc1 / c.n_tr AS a1,
         2.0 * t.sys1 / c.n_tr AS b1,
         2.0 * t.syc2 / c.n_tr AS a2,
         2.0 * t.sys2 / c.n_tr AS b2
  FROM tr t JOIN cnt2 c USING (series_id))
SELECT j.series_id, j.rn,
       CASE WHEN j.rn <= j.n_tr THEN 'Train' ELSE 'Test' END AS split,
       round((((co.a0 + co.a1 * j.c1) + co.b1 * j.s1)
              + co.a2 * j.c2) + co.b2 * j.s2, {R}) AS pred,
       round(j.value - ((((co.a0 + co.a1 * j.c1) + co.b1 * j.s1)
              + co.a2 * j.c2) + co.b2 * j.s2), {R}) AS resid
FROM j JOIN co USING (series_id)
"""


def q_detector_ap_leaderboard(spark, sf_dir):
    """Score-quality leaderboard across four hash-stable detector
    scores (MAD z, global z, first-difference z, 1-D kNN distance):
    per-(series, detector) average precision against the labeled
    windows, ranked per series — the forecast_leaderboard's analogue
    for DETECTORS (A7/A8 composition).  Every score and the AP
    algebra reuse already-gated operators bit-for-bit."""
    from ..operators.evaluate import average_precision
    from ..operators.neighbors import knn_outlier
    from ..operators.robust import diff_zscore_flags
    from ..operators.scaling import global_zscore

    base = _scored_with_truth(spark, sf_dir)
    base = global_zscore(base)
    base = diff_zscore_flags(base)
    base = knn_outlier(base)
    scores = [
        ("diff", F.coalesce(F.abs(F.col("diff_z")), F.lit(0.0))),
        ("glob", F.abs(F.col("z_global"))),
        ("knn", F.col("knn_score")),
        ("mad", F.col("z_mad")),
    ]
    # melt the four score columns to (detector, score) rows via stack
    # (ONE evaluation of the scored DAG, 4 rows out per input row) and
    # run ONE keyed AP pass over (series_id, detector) — one window
    # shuffle instead of four per-detector jobs re-deriving the same
    # scored frame (r07; output bit-identical, per-partition algebra
    # unchanged, oracle untouched)
    sc = base.select(
        "series_id",
        "is_anomaly",
        *[expr.alias(f"s_{det}") for det, expr in scores],
    )
    stack_args = ", ".join(f"'{det}', s_{det}" for det, _ in scores)
    melted = sc.selectExpr(
        "series_id",
        "is_anomaly",
        f"stack({len(scores)}, {stack_args}) AS (detector, __score)",
    )
    ap = average_precision(
        melted, "__score", "is_anomaly", keys=("series_id", "detector")
    ).withColumnRenamed("average_precision", "__ap")
    wr = Window.partitionBy("series_id").orderBy(
        F.desc("__ap"), F.asc("detector")
    )
    return ap.withColumn("ap_rank", F.rank().over(wr)).select(
        "series_id",
        "detector",
        _rnd("__ap", R).alias("average_precision"),
        "ap_rank",
    )


ORACLES["detector_ap_leaderboard"] = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH}, {SQL_MO},
dif AS (
  SELECT series_id, rn,
         value - lag(value) OVER (PARTITION BY series_id ORDER BY rn)
           AS diff
  FROM s),
dmo AS (
  SELECT series_id, count(diff) AS n,
         CAST(sum(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(diff * diff AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM dif WHERE diff IS NOT NULL GROUP BY 1),
dmo2 AS (
  SELECT series_id, s1 / n AS mu,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM dmo),
nb AS (
  SELECT series_id, rn,
         list_sort(list_filter([
           abs(value - lag(value, 1) OVER wv),
           abs(value - lag(value, 2) OVER wv),
           abs(value - lag(value, 3) OVER wv),
           abs(value - lead(value, 1) OVER wv),
           abs(value - lead(value, 2) OVER wv),
           abs(value - lead(value, 3) OVER wv)],
           x -> x IS NOT NULL)) AS d
  FROM s
  WINDOW wv AS (PARTITION BY series_id ORDER BY value, rn)),
scores AS (
  SELECT d.series_id, d.rn, 'diff' AS detector,
         coalesce(abs((d.diff - m2.mu) / (m2.sd + 1e-9)), 0.0) AS score
  FROM dif d JOIN dmo2 m2 USING (series_id)
  UNION ALL
  SELECT s.series_id, s.rn, 'glob',
         abs((s.value - mo2.mu) / (mo2.sd + 1e-9))
  FROM s JOIN mo2 USING (series_id)
  UNION ALL
  SELECT series_id, rn, 'knn', (0.0 + d[1] + d[2] + d[3]) / 3.0
  FROM nb
  UNION ALL
  SELECT series_id, rn, 'mad', z_mad FROM mads),
prj AS (
  SELECT sc.series_id, sc.detector, sc.score, t.is_anomaly AS y
  FROM scores sc JOIN truth t USING (series_id, rn)),
prcum AS (
  SELECT series_id, detector, score,
         sum(y) OVER w AS cum_tp,
         count(*) OVER w - sum(y) OVER w AS cum_fp,
         sum(y) OVER (PARTITION BY series_id, detector) AS n_pos
  FROM prj
  WINDOW w AS (PARTITION BY series_id, detector ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
prt AS (
  SELECT series_id, detector, score,
         CAST(max(cum_tp) AS BIGINT) AS tp,
         CAST(max(cum_fp) AS BIGINT) AS fp,
         CAST(max(n_pos) AS BIGINT) AS n_pos
  FROM prcum GROUP BY 1, 2, 3),
stepped AS (
  SELECT series_id, detector,
         tp * 1.0 / (tp + fp) AS precision,
         tp / (n_pos + 1e-9) AS recall,
         coalesce(lag(tp / (n_pos + 1e-9)) OVER (
           PARTITION BY series_id, detector ORDER BY score DESC),
           0.0) AS prev_recall
  FROM prt),
ap AS (
  SELECT series_id, detector,
         CAST(sum(CAST((recall - prev_recall) * precision
                       AS DECIMAL(38,12))) AS DOUBLE) AS ap_val
  FROM stepped GROUP BY 1, 2)
SELECT series_id, detector, round(ap_val, {R}) AS average_precision,
       rank() OVER (PARTITION BY series_id
                    ORDER BY ap_val DESC, detector) AS ap_rank
FROM ap
"""


def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau whiteness test (h=10, χ² crit 18.307) —
    the statsmodels acorr_ljungbox diagnostic the reference's forecast
    fits imply, built on the hash-gated statsmodels-convention ACF;
    decimal-accumulated 10-term sum.  Hash-gated."""
    from ..operators.stattests import ljung_box

    out = ljung_box(_series(spark, sf_dir))
    return out.select(
        "series_id", "n",
        _rnd("q_stat", R).alias("q_stat"),
        "flag",
    )


ORACLES["ljung_box"] = f"""
WITH {SQL_S},
smo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
smu AS (SELECT series_id, s1 / n AS mu FROM smo),
sden AS (
  SELECT s.series_id,
         CAST(sum(CAST((s.value - smu.mu) * (s.value - smu.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS den
  FROM s JOIN smu USING (series_id) GROUP BY 1),
slags AS (SELECT unnest(generate_series(1, 10)) AS lag),
sshift AS (
  SELECT s.series_id, l.lag, s.value, smu.mu,
         lag(s.value, l.lag) OVER (PARTITION BY s.series_id, l.lag
                                   ORDER BY s.rn) AS prev
  FROM s CROSS JOIN slags l JOIN smu USING (series_id)),
snum AS (
  SELECT series_id, lag,
         CAST(sum(CAST((value - mu) * (prev - mu) AS DECIMAL(38,12)))
              AS DOUBLE) AS num
  FROM sshift WHERE prev IS NOT NULL GROUP BY 1, 2),
rho AS (
  SELECT n.series_id, n.lag, n.num / d.den AS acf
  FROM snum n JOIN sden d USING (series_id)),
qq AS (
  SELECT r.series_id, m.n,
         CAST(sum(CAST((r.acf * r.acf) / (m.n - r.lag)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssum
  FROM rho r JOIN smo m USING (series_id)
  GROUP BY 1, 2)
SELECT series_id, n,
       round(n * (n + 2.0) * ssum, {R}) AS q_stat,
       CAST(CASE WHEN n * (n + 2.0) * ssum > 18.307
            THEN 1 ELSE 0 END AS INT) AS flag
FROM qq
"""


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test about the exact median — the
    nonparametric randomness companion to Ljung-Box; pure integer
    run counting + one rational z.  Hash-gated."""
    from ..operators.stattests import runs_test

    out = runs_test(_series(spark, sf_dir))
    return out.select(
        "series_id", "n1", "n2", "n_runs",
        _rnd("z", R).alias("z"),
        "flag",
    )


ORACLES["runs_test"] = f"""
WITH {SQL_S},
rmed AS (
  SELECT series_id, quantile_cont(value, 0.5) AS med
  FROM s GROUP BY 1),
sgn AS (
  SELECT s.series_id, s.rn,
         CAST(CASE WHEN s.value > m.med THEN 1 ELSE 0 END AS INT)
           AS sg
  FROM s JOIN rmed m USING (series_id)
  WHERE s.value <> m.med),
chg AS (
  SELECT series_id, sg,
         CASE WHEN lag(sg) OVER (PARTITION BY series_id ORDER BY rn)
                   IS NULL
               OR sg <> lag(sg) OVER (PARTITION BY series_id
                                      ORDER BY rn)
              THEN 1 ELSE 0 END AS c
  FROM sgn),
agg AS (
  SELECT series_id,
         CAST(sum(sg) AS BIGINT) AS n1,
         CAST(sum(1 - sg) AS BIGINT) AS n2,
         CAST(sum(c) AS BIGINT) AS n_runs
  FROM chg GROUP BY 1)
SELECT series_id, n1, n2, n_runs,
       round((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
             / sqrt((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
                    / CAST((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1)
                           AS DOUBLE)
                    + 1e-30), {R}) AS z,
       CAST(CASE WHEN abs((n_runs - (2.0 * n1 * n2 / (n1 + n2)
                                     + 1.0))
                 / sqrt((2.0 * n1 * n2)
                        * (2.0 * n1 * n2 - n1 - n2)
                        / CAST((n1 + n2) * (n1 + n2)
                               * ((n1 + n2) - 1) AS DOUBLE)
                        + 1e-30)) > 1.96
            THEN 1 ELSE 0 END AS INT) AS flag
FROM agg
"""


def q_rolling_moments(spark, sf_dir):
    """Rolling skewness / excess kurtosis (trailing 96, min 24) — the
    distribution-shape complement of W1/W3's rolling mean/std (a
    regime can keep σ but fatten a tail).  Four decimal power cumsums
    + lag differencing, O(n), one exchange.  Hash-gated."""
    from ..operators.rolling import rolling_moments

    out = rolling_moments(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("roll_skew", R).alias("roll_skew"),
        _rnd("roll_kurt", R).alias("roll_kurt"),
    )


ORACLES["rolling_moments"] = f"""
WITH {SQL_S},
cumm AS (
  SELECT series_id, rn,
         sum(CAST(value AS DECIMAL(38,12))) OVER wr AS d1,
         sum(CAST(value * value AS DECIMAL(38,12))) OVER wr AS d2,
         sum(CAST(value * value * value AS DECIMAL(38,12))) OVER wr
           AS d3,
         sum(CAST((value * value) * (value * value)
                  AS DECIMAL(38,12))) OVER wr AS d4,
         count(value) OVER wr AS dn
  FROM s
  WINDOW wr AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
trail AS (
  SELECT series_id, rn,
         CAST(d1 - coalesce(lag(d1, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s1,
         CAST(d2 - coalesce(lag(d2, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s2,
         CAST(d3 - coalesce(lag(d3, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s3,
         CAST(d4 - coalesce(lag(d4, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s4,
         dn - coalesce(lag(dn, 96) OVER wl, 0) AS cnt
  FROM cumm
  WINDOW wl AS (PARTITION BY series_id ORDER BY rn)),
mom AS (
  SELECT series_id, rn, cnt,
         s1 / cnt AS mu,
         s2 / cnt - (s1 / cnt) * (s1 / cnt) AS m2,
         s3 / cnt - 3.0 * (s1 / cnt) * (s2 / cnt)
           + 2.0 * ((s1 / cnt) * (s1 / cnt) * (s1 / cnt)) AS m3,
         s4 / cnt - 4.0 * (s1 / cnt) * (s3 / cnt)
           + 6.0 * ((s1 / cnt) * (s1 / cnt)) * (s2 / cnt)
           - 3.0 * (((s1 / cnt) * (s1 / cnt))
                    * ((s1 / cnt) * (s1 / cnt))) AS m4
  FROM trail)
SELECT series_id, rn,
       round(CASE WHEN cnt >= 24 AND m2 > 1e-18
                  THEN m3 / sqrt(m2 * m2 * m2) END, {R}) AS roll_skew,
       round(CASE WHEN cnt >= 24 AND m2 > 1e-18
                  THEN m4 / (m2 * m2) - 3.0 END, {R}) AS roll_kurt
FROM mom
"""


def q_stl_forecast(spark, sf_dir):
    """Decompose-based seasonal forecast, hash-gated: classical
    decomposition (the gated resample_decompose DAG) → trend
    extrapolated by its end-to-end drift + per-phase seasonal repeat
    over a 24-bucket horizon — the seasonal upgrade of the drift
    baseline, with zero model fitting."""
    from ..operators.decompose import (
        classical_decompose,
        resample,
        stl_forecast,
    )

    s = _series(spark, sf_dir)
    dc = classical_decompose(resample(s, "hour"), period=24)
    out = stl_forecast(dc, horizon=24)
    return out.select(
        "series_id", "step",
        F.col("bucket").cast("string").alias("bucket"),
        _rnd("trend_fc", R).alias("trend_fc"),
        _rnd("seasonal", R).alias("seasonal"),
        _rnd("pred", R).alias("pred"),
    )


ORACLES["stl_forecast"] = f"""
WITH {SQL_S}, {SQL_RESAMPLE}, {SQL_DECOMP},
tstats AS (
  SELECT series_id,
         min(CASE WHEN trend IS NOT NULL THEN brn END) AS brn0,
         max(CASE WHEN trend IS NOT NULL THEN brn END) AS brn1,
         max(brn) AS brn_last,
         max(bucket) AS bucket_last
  FROM tr GROUP BY 1),
tv AS (
  SELECT t.series_id,
         max(CASE WHEN t.brn = ts.brn0 THEN t.trend END) AS trend0,
         max(CASE WHEN t.brn = ts.brn1 THEN t.trend END) AS trend1
  FROM tr t JOIN tstats ts USING (series_id)
  WHERE t.brn = ts.brn0 OR t.brn = ts.brn1
  GROUP BY 1),
sl AS (
  SELECT ts.series_id, ts.brn1, ts.brn_last, ts.bucket_last,
         tv.trend1,
         (tv.trend1 - tv.trend0) / (ts.brn1 - ts.brn0) AS slope
  FROM tstats ts JOIN tv USING (series_id)),
hz AS (SELECT unnest(generate_series(1, 24)) AS step),
fc AS (
  SELECT s2.series_id, h.step,
         s2.bucket_last + h.step * INTERVAL 1 HOUR AS bucket,
         s2.trend1 + (s2.brn_last + h.step - s2.brn1) * s2.slope
           AS trend_fc
  FROM sl s2 CROSS JOIN hz h),
seas AS (
  SELECT series_id, phase, max(sraw) AS sr
  FROM srw GROUP BY 1, 2),
seas2 AS (
  SELECT s3.series_id, s3.phase, s3.sr - m.pm_mean AS seasonal
  FROM seas s3 JOIN phm m USING (series_id))
SELECT f.series_id, f.step,
       strftime(f.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(f.trend_fc, {R}) AS trend_fc,
       round(s4.seasonal, {R}) AS seasonal,
       round(f.trend_fc + s4.seasonal, {R}) AS pred
FROM fc f JOIN seas2 s4
  ON s4.series_id = f.series_id
 AND s4.phase = CAST(hour(f.bucket) AS INT)
"""


def q_rolling_quantile_flags(spark, sf_dir):
    """Trailing rolling [2%,98%] ECDF band (previous 48 rows, current
    row excluded — one-step-ahead), hash-gated: the LOCAL version of
    quantile_flags that survives level shifts.  Served by the grouped
    sliding-quantile fast path (one vectorized sort per series; r06
    verdict item #3) whose output is bit-identical to the native
    sorted-in-frame-array plan — the parity test pins the equality and
    the unchanged DuckDB oracle hash-gates it."""
    from ..operators.robust import rolling_quantile_flags_grouped

    out = rolling_quantile_flags_grouped(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("band_lo", R).alias("band_lo"),
        _rnd("band_hi", R).alias("band_hi"),
        F.col("rq_flag").alias("flag"),
    )


ORACLES["rolling_quantile_flags"] = f"""
WITH {SQL_S},
win AS (
  SELECT series_id, rn, value,
         list_sort(list(value) OVER (
           PARTITION BY series_id ORDER BY rn
           ROWS BETWEEN 48 PRECEDING AND 1 PRECEDING)) AS l
  FROM s),
qs AS (
  SELECT series_id, rn, value, l, len(l) AS n,
         1.0 + 0.02 * CAST(len(l) - 1 AS DOUBLE) AS pos_lo,
         1.0 + 0.98 * CAST(len(l) - 1 AS DOUBLE) AS pos_hi
  FROM win),
bands AS (
  SELECT series_id, rn, value, n,
         CASE WHEN n >= 12 THEN
           l[CAST(floor(pos_lo) AS INT)]
           + (pos_lo - floor(pos_lo))
             * (l[least(CAST(floor(pos_lo) AS INT) + 1, n)]
                - l[CAST(floor(pos_lo) AS INT)])
         END AS band_lo,
         CASE WHEN n >= 12 THEN
           l[CAST(floor(pos_hi) AS INT)]
           + (pos_hi - floor(pos_hi))
             * (l[least(CAST(floor(pos_hi) AS INT) + 1, n)]
                - l[CAST(floor(pos_hi) AS INT)])
         END AS band_hi
  FROM qs)
SELECT series_id, rn,
       round(band_lo, {R}) AS band_lo,
       round(band_hi, {R}) AS band_hi,
       CAST(CASE WHEN band_lo IS NULL THEN NULL
                 WHEN value < band_lo OR value > band_hi THEN 1
                 ELSE 0 END AS INT) AS flag
FROM bands
"""


def q_max_drawdown(spark, sf_dir):
    """Maximum drawdown per series (peak-to-trough depth, location,
    and the preceding peak) — the cumulative-damage diagnostic beside
    Page-Hinkley's drift statistic (same prefix form: running max +
    argmax, zero recursion).  Hash-gated."""
    s = _series(spark, sf_dir)
    w = (
        Window.partitionBy("series_id")
        .orderBy("timestamp", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = s.withColumn("__peak", F.max("value").over(w)).withColumn(
        "__dd", F.col("__peak") - F.col("value")
    )
    wr = Window.partitionBy("series_id").orderBy(
        F.desc("__dd"), F.asc("rn")
    )
    top = d.withColumn("__r", F.row_number().over(wr)).filter(
        F.col("__r") == 1
    )
    return top.select(
        "series_id",
        F.col("rn").alias("dd_rn"),
        _rnd("__peak", R).alias("peak"),
        _rnd("value", R).alias("trough"),
        _rnd("__dd", R).alias("max_drawdown"),
    )


ORACLES["max_drawdown"] = f"""
WITH {SQL_S},
dd AS (
  SELECT series_id, rn, value,
         max(value) OVER (PARTITION BY series_id ORDER BY rn
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
  FROM s),
rk AS (
  SELECT series_id, rn, value, peak, peak - value AS d,
         row_number() OVER (PARTITION BY series_id
                            ORDER BY peak - value DESC, rn) AS r
  FROM dd)
SELECT series_id, rn AS dd_rn,
       round(peak, {R}) AS peak,
       round(value, {R}) AS trough,
       round(d, {R}) AS max_drawdown
FROM rk WHERE r = 1
"""


def _scoped(fn):
    """Release the PREVIOUS query's tracked caches at each query
    boundary, so a sequential multi-query session (driver gate, bench)
    never holds more than one query's cached frames.  ``wraps`` keeps
    ``inspect.unwrap`` reaching the real query body."""

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        from ..session import release_caches

        release_caches()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_<name>`` function of this module and of
    registry_datapipe, in definition order, keyed ``<name>``.  The
    driver's gate order is computed in ``__spark_entry__.queries()``."""
    from . import registry_datapipe

    out = {}
    for mod in (sys.modules[__name__], registry_datapipe):
        for attr, fn in vars(mod).items():
            if attr.startswith("q_") and inspect.isfunction(fn):
                assert attr[2:] not in out, f"duplicate query {attr}"
                out[attr[2:]] = _scoped(fn)
    return out


def _materialize_ctes(sql: str) -> str:
    """Mark every non-self-referencing CTE of a WITH RECURSIVE oracle
    as ``AS MATERIALIZED``.  DuckDB inlines plain CTEs, and an inlined
    CTE that is JOINed inside a recursive term is RE-EVALUATED — scan,
    windows and all — at every iteration of the recursion: the
    full-extent PELT twin's oracle measured 112 s with its ser2 CTE
    inlined vs 4.3 s materialized (2048 iterations × a re-run parquet
    scan + prefix-sum window).  Materializing is semantics-preserving,
    so it is applied mechanically to all recursive oracles rather than
    hand-annotated per query.  CTE headers are recognized at line
    start (``name AS (``); WINDOW clauses are indented and never
    match.  The recursive CTEs themselves (which reference their own
    name inside their balanced-paren body) are left untouched —
    MATERIALIZED is invalid on them."""
    import re as _re

    if "WITH RECURSIVE" not in sql:
        return sql
    out = []
    last = 0
    for m in _re.finditer(r"(?m)^([A-Za-z_]\w*) AS \(", sql):
        name = m.group(1)
        # balanced-paren scan of the CTE body
        depth, i = 1, m.end()
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end(): i - 1]
        if _re.search(rf"\b{name}\b", body):
            continue  # self-referencing: the recursive member
        out.append(sql[last: m.start()])
        out.append(f"{name} AS MATERIALIZED (")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def oracle_sql() -> dict[str, str]:
    from . import registry_datapipe

    out = dict(ORACLES)
    out.update(registry_datapipe.ORACLES)
    return {
        name: _materialize_ctes(tieproof_round_sql(sql))
        for name, sql in out.items()
    }
