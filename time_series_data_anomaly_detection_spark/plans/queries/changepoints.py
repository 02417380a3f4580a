"""Control charts, changepoints and drift detectors: EWMA and CUSUM charts,
segmentation, BOCPD, PELT (with their fixed twins), Page-Hinkley and
CUSUM of squares."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..._exact import DEC as DEC_T, dsum as _dsum
from ._shared import R, SQL_MO, SQL_S, _el, _last_w, _let, _q8, _rnd, _series


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


def q_ewma_flags(spark, sf_dir):
    """W7-adjacent, hash-gated: EWMA control chart — the classical
    drift detector beside BOCPD (``src/bocpd_model.py:50-104``), whose
    scalar recursion (unlike BOCPD's O(T²) posterior) carries a DuckDB
    RECURSIVE-CTE oracle.  Dyadic λ=1/4, exact-decimal seed moments."""
    from ...functions.control import ewma_chart

    out = ewma_chart(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("ewma", R).alias("ewma"),
        _rnd("ucl", R).alias("ucl"),
        _rnd("lcl", R).alias("lcl"),
        "flag",
    )


# ---- ewma_flags / cusum_changepoints: scalar control-chart
#      recursions — RECURSIVE CTEs over the exact-decimal moment CTE
#      (SQL_MO), expression trees textually in lockstep with
#      functions/control.py (dyadic constants throughout). ----
o_ewma_flags = f"""
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


def q_cusum_changepoints(spark, sf_dir):
    """W7-adjacent, hash-gated: two-sided tabular CUSUM on the
    standardized series — the level-shift/changepoint chart that
    complements BOCPD with a fully oracle-checkable recursion
    (k=0.5, h=5.0, exact-decimal μ/σ)."""
    from ...functions.control import cusum_chart

    out = cusum_chart(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("cusum_pos", R).alias("cusum_pos"),
        _rnd("cusum_neg", R).alias("cusum_neg"),
        "flag",
    )


o_cusum_changepoints = f"""
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


def q_cusum_alarms(spark, sf_dir):
    """Changepoint LOCALIZATION, hash-gated: reset-on-alarm CUSUM —
    the output is the changepoint list itself (one row per crossing,
    like the peaks consumers read off BOCPD's cp_prob in
    ``src/changepoint.py:85-107``), not a dense flag column."""
    from ...functions.control import cusum_alarms

    out = cusum_alarms(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn", "direction",
        _rnd("stat", R).alias("stat"),
    )


# ---- cusum_alarms: the CUSUM recursion with reset-on-alarm carried
#      through the CTE (raw statistic emitted, carry zeroed on
#      crossing — mirrors functions.control.cusum_alarms). ----
o_cusum_alarms = f"""
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


def q_bocpd_changepoints(spark, sf_dir):
    from ...functions import bocpd_changepoints
    out = bocpd_changepoints(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("cp_prob", R).alias("cp_prob"),
        _rnd("cp_score", R).alias("cp_score"),
    )


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
    from ...functions.control import cusum_alarms

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
    ca = o_cusum_alarms
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


o_changepoint_segments = _segments_oracle()


def q_pelt_changepoints(spark, sf_dir):
    """PELT exact L2 changepoint segmentation (Killick et al. 2012),
    rows-only by design (the pruned DP's argmin recursion has no SQL
    form); correctness pinned by the optimal-partitioning parity test
    in tests/test_changepoints.py.  One grouped-map exchange; the
    offline exact complement of CUSUM (hash-gated) and BOCPD
    (rows-only online)."""
    from ...functions.pelt import pelt_segments

    out = pelt_segments(_series(spark, sf_dir))
    return out.select(
        "series_id", "seg", "start_rn", "end_rn", "n",
        _rnd("seg_mean", R).alias("seg_mean"),
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


o_bocpd_changepoints_fixed = _bocpd_fixed_sql()


# ln(128) as a shared 12-decimal literal — the one transcendental in
# the fixed PELT penalty, pinned so both engines use the same number
_LN128 = "4.852030263920"


def q_pelt_changepoints_fixed(spark, sf_dir):
    """Hash-gated fixed twin of PELT over each series' last 128
    points, penalty ``2·var·ln(128)`` with ln(128) the shared literal
    ``_LN128`` (see ``_pelt_fixed_plan``).  Its oracle runs the
    unpruned O(w²) argmin scan, which the pruned fold must equal."""
    return _pelt_fixed_plan(spark, sf_dir, 128, 128, F.lit(float(_LN128)))


o_pelt_changepoints_fixed = f"""
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


o_bocpd_changepoints_fixed_full = _bocpd_fixed_full_sql()


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


o_pelt_changepoints_fixed_full = f"""
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


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift test (Page 1954; Gama et al. 2014), fully
    native and hash-gated: PH's statistic has a closed prefix form
    (decimal cumsum + running extremum), so — unlike CUSUM's clamped
    recursion (``cusum_changepoints``, recursive-CTE oracle) — it
    needs NO recursion at all.  δ = σ/8, λ = 20σ from exact moments."""
    from ...operators.drift import page_hinkley

    out = page_hinkley(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("ph_up", R).alias("ph_up"),
        _rnd("ph_dn", R).alias("ph_dn"),
        "flag_up", "flag_dn",
    )


o_page_hinkley = f"""
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


def q_cusum_squares(spark, sf_dir):
    """Inclán-Tiao CUSUM-of-squares variance-changepoint test (JASA
    1994), hash-gated: D_k = C_k/C_n − k/n over decimal cumulative
    squares, argmax location + sqrt(n/2)·max|D| against the 1.358
    α=0.05 critical value — the VARIANCE complement of the mean-shift
    charts."""
    from ...operators.stattests import cusum_squares

    out = cusum_squares(_series(spark, sf_dir))
    return out.select(
        "series_id", "k_hat",
        _rnd("d_abs_max", R).alias("d_abs_max"),
        _rnd("it_stat", R).alias("it_stat"),
        "flag",
    )


o_cusum_squares = f"""
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
