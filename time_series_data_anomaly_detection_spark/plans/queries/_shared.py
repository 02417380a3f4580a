"""SQL fragments and Spark helpers used by more than one query family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...sources import events_as_series, with_row_index
from ...operators.scaling import mad_scores
from ...operators.labeling import mark_top_value_windows
from ...operators.sweep import k_grid
from ..._exact import r6 as _r6col
from ...datapipe.dedup import BAND_ROWS, MERSENNE_P, NUM_PERM, PERM_A, PERM_B
from ...datapipe.text import LANG_MARKERS, STOPWORDS, TOKEN_RE


R = 6  # output rounding decimals


def _rnd(col, _r=R):
    """Drop-in for _rnd(col, 6) on float OUTPUT columns: the
    tie-proof quantizer of _exact.r6 (round() half-ties resolve
    differently across engines; floor(x*1e6+0.5)/1e6 is bit-identical
    given bit-identical x)."""
    return _r6col(col)


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_row_index(events_as_series(spark, sf_dir))


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


def _scored_with_truth(spark, sf_dir):
    # consumed 2-3x by curve/AP windows and the sweeps' event tables —
    # materialize the mad + label pipeline once
    s = _series(spark, sf_dir)
    from ...session import eager_cache
    return eager_cache(mark_top_value_windows(mad_scores(s), 5, 3))


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


_KS = ", ".join(str(k) for k in k_grid())


JACCARD_T = 0.5


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_STOP = ", ".join(f"'{s}'" for s in STOPWORDS)

SQL_TOKS = f"""
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents
)
"""


# distinct trigram shingle hashes per doc (mirrors datapipe.dedup.shingles)
SQL_SHINGLES = """
sh AS (
  SELECT DISTINCT doc_id,
    CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS shingle_hash
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> array_to_string(t[i:i+2], ' ')))) AS s
    FROM toks
  )
),
szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
"""


_MARKER_SCORES = ",\n         ".join(
    "len(list_filter(t, x -> x IN ({}))) AS s_{}".format(
        ", ".join(f"'{m}'" for m in markers), lang
    )
    for lang, markers in LANG_MARKERS.items()
)
_LANGS_ASC = sorted(LANG_MARKERS)
_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"


def _minhash_cols(num_perm: int = NUM_PERM) -> str:
    return ",\n         ".join(
        # full-range affine constants overflow BIGINT — the oracle's
        # exact affine step runs in HUGEINT; Spark computes the same
        # values in pure int64 via Mersenne folding (dedup._affine_mod_p,
        # equality vs the wide-int form pinned over the full 48-bit
        # domain in tests/test_datapipe.py)
        f"min(CAST((CAST({PERM_A[i]} AS HUGEINT) * shingle_hash + {PERM_B[i]})"
        f" % {MERSENNE_P} AS BIGINT)) AS m{i}"
        for i in range(num_perm)
    )


def _band_selects(band_rows: int = BAND_ROWS, num_perm: int = NUM_PERM) -> str:
    return "\n  UNION ALL\n".join(
        "  SELECT doc_id, {band} AS band, md5(concat_ws('_', {cols})) AS band_key FROM sig".format(
            band=band,
            cols=", ".join(
                f"m{band * band_rows + r}" for r in range(band_rows)
            ),
        )
        for band in range(num_perm // band_rows)
    )


_MINHASH_COLS = _minhash_cols()
_BAND_SELECTS = _band_selects()


_QUALITY = (
    "least(len(t) / 50.0, 1.0) * 0.4"
    f" + least((len(list_filter(t, x -> x IN ({_STOP}))) / (len(t) + 1e-9))"
    " * 5.0, 1.0) * 0.3"
    " + (len(list_distinct(t)) / (len(t) + 1e-9)) * 0.3"
)
