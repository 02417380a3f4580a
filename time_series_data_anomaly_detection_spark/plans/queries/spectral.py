"""Autocorrelation and spectra: ACF/PACF (exact, statsmodels and FFT
forms), period detection, cross-correlation and Spectral Residual, with
the fixed-DFT twins."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..._exact import DEC as DEC_T, dsum as _dsum
from ._shared import R, SQL_S, _last_w, _q8, _rnd, _series


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


def q_acf(spark, sf_dir):
    from ...operators.acf import acf
    s = _series(spark, sf_dir)
    out = acf(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("acf", R).alias("acf"))


o_acf = f"""
WITH {SQL_S}, {SQL_ACF_U}
SELECT series_id, lag, round(acf, {R}) AS acf FROM acfu
"""


def q_acf_statsmodels(spark, sf_dir):
    """W8 in the reference's exact estimator convention (statsmodels
    ``acf``: global mean, constant denominator)."""
    from ...operators.acf import acf_statsmodels

    s = _series(spark, sf_dir)
    out = acf_statsmodels(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("acf", R).alias("acf"))


# W8, statsmodels estimator: global mean, constant denominator —
# mirrors operators.acf.acf_statsmodels
o_acf_statsmodels = f"""
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


def q_acf_fft(spark, sf_dir):
    """W8's large-max_lag path: all-lags-at-once FFT ACF per series
    (Wiener–Khinchin), statsmodels convention.  Rows-only by design
    (float FFT vs the decimal-sum oracle differs below 1e-9 — the
    stack-plan agreement is pinned in tests/test_control_robust.py);
    the plan replaces the stack plan's max_lag-fold row multiply with
    one O(n log n) pass per series."""
    from ...operators.acf import acf_fft

    s = _series(spark, sf_dir)
    out = acf_fft(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("acf", R).alias("acf"))


def q_acf_fft_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the FFT-ACF path (r08 verdict item
    #5) at the original extent: last 64 points, nfft=128, lags 1..16
    — see ``_acf_fft_fixed_plan``."""
    return _acf_fft_fixed_plan(spark, sf_dir, *ACF_FFT_FIXED_CONFIGS[0])


o_acf_fft_fixed = _acf_fft_fixed_sql()


def q_acf_fft_fixed_512(spark, sf_dir):
    """Widened FFT-ACF twin (r09): last 512 points, nfft=1024, lags
    1..16 — the same literal-twiddle spectral pipeline over 8× the
    gated extent (the matrix_profile_fixed_full / shesd_fixed_full /
    spectral_residual_fixed_512 widening theme).  The 512×1024 DFT
    fan is ~0.5M exact-decimal terms per series — bounded per-series
    state, benchable at any SF."""
    return _acf_fft_fixed_plan(spark, sf_dir, *ACF_FFT_FIXED_CONFIGS[1])


o_acf_fft_fixed_512 = _acf_fft_fixed_sql(512, 1024, 16)


def q_pacf(spark, sf_dir):
    from ...operators.acf import pacf

    s = _series(spark, sf_dir)
    out = pacf(s, max_lag=10)
    return out.select("series_id", "lag", _rnd("pacf", R).alias("pacf"))


def _pacf_oracle(max_lag: int = 10) -> str:
    """DuckDB mirror of operators.acf.pacf: pivot acfu wide, chain the
    SAME generated Durbin–Levinson select stages, unpivot phi_k_k."""
    from ...operators.acf import durbin_levinson_steps

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


o_pacf = _pacf_oracle(10)


def q_detect_period(spark, sf_dir):
    """Dominant-period auto-detection, hash-gated: argmax ACF over
    lags 2..60 — the data-driven read of the seasonal_periods knob the
    reference hard-codes (``src/run_final_benchmark.py:24-40``)."""
    from ...operators.diagnostics import detect_period_frame

    out = detect_period_frame(_series(spark, sf_dir), max_lag=60)
    return out.select(
        "series_id", "period", _rnd("peak_acf", R).alias("peak_acf")
    )


# ---- detect_period: the acf machinery over lags 2..60 + per-series
#      argmax (acf desc, lag asc). ----
o_detect_period = f"""
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


def q_cross_correlation(spark, sf_dir):
    """Multivariate diagnostic, hash-gated: lagged cross-correlation
    between series pairs (positional alignment, J3) — which series
    lead which, the view the per-series ACF (W8) cannot see."""
    from ...operators.acf import cross_correlation

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


# ---- cross_correlation: per-(pair, lag) Pearson on positionally
#      aligned series, decimal-exact moments (the acf algebra over
#      pairs; negative lag = lead). ----
o_cross_correlation = f"""
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


def q_spectral_residual(spark, sf_dir):
    """Spectral Residual saliency (Ren et al. KDD'19): FFT-based
    model-free point-anomaly detector.  Sequential FFT per series —
    non-SQL, rows-only gate; the unit test plants a spike and asserts
    SR ranks it first."""
    from ...functions.spectral import spectral_residual_scores

    out = spectral_residual_scores(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("saliency", R).alias("saliency"),
        _rnd("sr_score", R).alias("sr_score"),
        "flag",
    )


def q_spectral_residual_fixed(spark, sf_dir):
    """Hash-gated fixed SR twin at the paper's streaming window
    (last 64 points) — see ``_sr_fixed_plan``."""
    return _sr_fixed_plan(spark, sf_dir, 64)


o_spectral_residual_fixed = _sr_fixed_sql(64)


def q_spectral_residual_fixed_512(spark, sf_dir):
    """Hash-gated fixed SR twin over the last 512 points — widens the
    value-hash-gated extent of the SR algebra 8× beyond the 64-point
    streaming window (r09; the matrix_profile_fixed_full /
    shesd_fixed_full widening theme applied to SR).  512² keeps the
    O(nfft²) literal-DFT fan at ~1.3M rows per series — benchable —
    while covering a quarter of each sf0.01 gate series."""
    return _sr_fixed_plan(spark, sf_dir, 512)


o_spectral_residual_fixed_512 = _sr_fixed_sql(512)
