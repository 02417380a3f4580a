"""Subsequence methods: matrix profile (FFT, fixed and tiled), banded DTW
and SAX words, distances and bitmaps."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..._exact import DEC as DEC_T, dsum as _dsum
from ._shared import R, SQL_MO, SQL_S, _el, _last_w, _rnd, _series


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
    from ...operators.acf import _guard_pair_explosion

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


def q_matrix_profile(spark, sf_dir):
    """Matrix profile + top-3 discords per series (Yeh et al. ICDM'16):
    z-normalized nearest-neighbor window distances via batched FFT dot
    products — the shape-anomaly detector the pointwise family can't
    replicate.  FFT per series → rows-only gate; unit tests cross-check
    a naive O(n²m) reference and a planted discord."""
    from ...functions.matrix_profile import matrix_profile_scores

    out = matrix_profile_scores(_series(spark, sf_dir), m=24)
    return out.select(
        "series_id", "rn",
        _rnd("mp", R).alias("mp"),
        "nn_idx", "is_discord",
    )


def q_matrix_profile_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the matrix profile over each series'
    last 128 points at m=8 (see ``_mp_fixed_plan``): the pair frame
    is k²/2 ≈ 7k rows per series, bounded regardless of series
    length."""
    return _mp_fixed_plan(spark, sf_dir, 128, 128)


o_matrix_profile_fixed = f"""
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


o_matrix_profile_fixed_full = f"""
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
    from ...functions.matrix_profile import matrix_profile_tiled

    # tile sized so the gate SFs run ~15 pair-kernels per series (the
    # distributed shape) without drowning local[32] in task overhead;
    # at real scale the knob trades per-task memory for task count
    out = matrix_profile_tiled(_series(spark, sf_dir), m=24, tile=4096)
    return out.select(
        "series_id", "rn",
        _rnd("mp", R).alias("mp"),
        "nn_idx", "is_discord",
    )


def q_sax_words(spark, sf_dir):
    """SAX symbolization + rare-word flags, hash-gated: z-normalize
    (exact moments) -> PAA segment means (exact-decimal sums) ->
    Gaussian-breakpoint symbols -> 3-symbol words -> integer rarity
    flag (word in < 1/50 of the series' words)."""
    from ...operators.sax import sax_words

    out = sax_words(
        _series(spark, sf_dir), seg_len=4, alphabet=4, word_len=3,
        rare_x=50,
    )
    return out.select(
        "series_id", "seg",
        _rnd("paa", R).alias("paa"),
        "symbol", "word", "n_word", "n_words", "rare_flag",
    )


o_sax_words = f"""
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
    from ...operators.sax import ALPHA, BREAKPOINTS

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
    from ...operators.sax import sax_mindist

    out = sax_mindist(_series(spark, sf_dir))
    return out.select(
        "series_a", "series_b", "n_segs",
        _rnd("mindist", R).alias("mindist"),
    )


o_sax_mindist = f"""
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


def q_dtw_distance(spark, sf_dir):
    """Banded DTW distance between series pairs (Sakoe & Chiba 1978)
    on z-normalized PAA-downsampled series — the alignment-elastic
    whole-series distance beside the rigid (cross_correlation) and
    symbolic (sax_mindist) ones.  Rows-only by declared design (DP
    recursion); banded-vs-full parity + metric-property tests pin
    semantics.  |series|² pair frame API-bounded."""
    from ...functions.dtw import dtw_distance

    out = dtw_distance(_series(spark, sf_dir))
    return out.select(
        "series_a", "series_b", "n_a", "n_b", "band",
        _rnd("dtw", R).alias("dtw"),
    )


def q_dtw_distance_fixed(spark, sf_dir):
    """32-segment / band-8 fixed DTW twin (see _dtw_fixed_plan)."""
    return _dtw_fixed_plan(spark, sf_dir, 32, 8, "dtw_distance_fixed")


o_dtw_distance_fixed = (
    _dtw_fixed_sql(32, 8).replace("{SQL_S}", SQL_S).replace("{R}", str(R))
)


def q_dtw_distance_fixed_64(spark, sf_dir):
    """64-segment / band-16 fixed DTW twin (r09 verdict item #1):
    same builder at 2× the gated PAA resolution — 127 anti-diagonals
    over 65-slot state, 4× the DP cells of the 32-segment twin."""
    return _dtw_fixed_plan(spark, sf_dir, 64, 16, "dtw_distance_fixed_64")


o_dtw_distance_fixed_64 = (
    _dtw_fixed_sql(64, 16).replace("{SQL_S}", SQL_S).replace("{R}", str(R))
)


def q_sax_bitmap(spark, sf_dir):
    """SAX bitmap anomaly distance (Wei, Keogh et al. SDM'05),
    hash-gated: 64-segment chunks scored by the squared distance
    between consecutive symbol-BIGRAM count vectors — pure integer
    algebra (Σc² + Σd² − 2Σcd) on broadcast-sized chunk tables."""
    from ...operators.sax import sax_bitmap

    out = sax_bitmap(
        _series(spark, sf_dir), seg_len=4, alphabet=4, chunk_len=64,
        top_frac=0.05,
    )
    return out.select(
        "series_id", "chunk", "dist", "dist_rank", "flag"
    )


o_sax_bitmap = f"""
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
