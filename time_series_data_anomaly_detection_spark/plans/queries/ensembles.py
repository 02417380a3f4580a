"""Detector ensembles: score fusion, the six-detector consensus, pairwise
agreement, Borda rank aggregation and the AP leaderboard."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...operators.rolling import adaptive_threshold_flags, rolling_stats
from ...operators.scaling import global_zscore, mad_scores
from ...operators.events import persistence_filter
from ._shared import (
    R,
    SQL_FLAGS,
    SQL_MAD,
    SQL_MO,
    SQL_ROLL,
    SQL_S,
    SQL_TRUTH,
    _rnd,
    _scored_with_truth,
    _series,
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


o_ensemble_fusion = f"""
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
    from ...functions.control import cusum_chart, ewma_chart
    from ...operators.robust import (
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


# ---- detector_consensus: the six hash-gated detectors voting per
#      row.  Every branch CTE is the corresponding standalone oracle's
#      text (W1+persistence = SQL_ROLL/SQL_FLAGS; hampel/quantile/diff
#      inlined; EWMA/CUSUM recursions renamed rec_e/rec_c — same
#      expression trees, so same values).  Integer votes join on
#      (series_id, rn). ----
o_detector_consensus = f"""
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
WITH dcq AS MATERIALIZED ({o_detector_consensus}),
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


# wraps the consensus oracle, built lazily here
o_detector_agreement = _agreement_oracle()


def q_detector_rank_ensemble(spark, sf_dir):
    """Borda rank-aggregation ensemble, hash-gated: three per-row
    anomaly scores (MAD z, |global z|, |diff z|) converted to
    per-series ranks and summed — the scale-free fusion that needs no
    score calibration (complements detector_consensus's binary votes).
    Output is ALL-INTEGER (ranks, Borda sum, top-1% flag via
    ``borda*100 <= 3*n``), so nothing can drift the hash."""
    from ...operators.robust import diff_zscore_flags
    from ...operators.scaling import global_zscore, mad_scores

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


o_detector_rank_ensemble = f"""
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


def q_detector_ap_leaderboard(spark, sf_dir):
    """Score-quality leaderboard across four hash-stable detector
    scores (MAD z, global z, first-difference z, 1-D kNN distance):
    per-(series, detector) average precision against the labeled
    windows, ranked per series — the forecast_leaderboard's analogue
    for DETECTORS (A7/A8 composition).  Every score and the AP
    algebra reuse already-gated operators bit-for-bit."""
    from ...operators.evaluate import average_precision
    from ...operators.neighbors import knn_outlier
    from ...operators.robust import diff_zscore_flags
    from ...operators.scaling import global_zscore

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


o_detector_ap_leaderboard = f"""
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
