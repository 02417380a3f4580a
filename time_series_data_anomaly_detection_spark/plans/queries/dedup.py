"""Near-duplicate detection over ``documents``: exact digests, winnowing,
shingle Jaccard, MinHash-LSH (and its recall probes), clusters, SimHash
and containment."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...datapipe import (
    exact_dedup,
    fingerprint,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ...datapipe.dedup import SIMHASH_BITS
from ...datapipe.text import TOKEN_RE
from ._shared import (
    JACCARD_T,
    R,
    SQL_SHINGLES,
    SQL_TOKS,
    _BAND_SELECTS,
    _MINHASH_COLS,
    _QUALITY,
    _band_selects,
    _docs,
    _minhash_cols,
    _rnd,
)


SQL_JACCARD_PAIRS = f"""
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle_hash = b.shingle_hash
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         inter * 1.0 / (na.n_sh + nb.n_sh - inter) AS jaccard
  FROM inter
  JOIN szs na ON na.doc_id = id_a
  JOIN szs nb ON nb.doc_id = id_b
)
"""


# the threshold-matched banding OPT-IN config (8 bands of 6 rows from
# 48 perms — sharper s-curve); hash-gated alongside the default so the
# knob itself is driver-checked cross-engine, not just unit-tested
B6_ROWS, B6_PERMS = 6, 48


def q_fingerprint(spark, sf_dir):
    out = fingerprint(_docs(spark, sf_dir))
    return out.select("doc_id", "fingerprint", "fingerprint_int")


o_fingerprint = f"""
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
       CAST('0x' || substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 12)
            AS BIGINT) AS fingerprint_int
FROM documents
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (k=8 char-grams, window 16):
    the substring-robust document fingerprint next to the whole-doc
    digest (q_fingerprint)."""
    from ...datapipe.text import winnow_fingerprints

    out = winnow_fingerprints(_docs(spark, sf_dir), k=8, window=16)
    return out.select("doc_id", "fp_hash", "first_pos")


# winnowing: windowed min over char-8-gram hashes, distinct selected
# hashes, first occurrence position — mirrors text.winnow_fingerprints
o_winnow_fingerprints = """
WITH grams AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(substring(text, i, 8)), 1, 12) AS BIGINT)
           AS gh
  FROM documents,
       unnest(generate_series(1, greatest(strlen(text) - 7, 0))) AS t(i)
),
wins AS (
  SELECT DISTINCT doc_id, wmin
  FROM (
    SELECT doc_id, pos,
           min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS wmin
    FROM grams
  ) WHERE pos >= 16
),
first AS (
  SELECT doc_id, gh, min(pos) AS first_pos FROM grams GROUP BY 1, 2
)
SELECT w.doc_id, w.wmin AS fp_hash, f.first_pos
FROM wins w JOIN first f ON f.doc_id = w.doc_id AND f.gh = w.wmin
"""


def q_winnow_near_dup(spark, sf_dir):
    """Passage-level near-dup pairs by shared winnowing fingerprints
    (Schleimer et al. SIGMOD'03 / MOSS) — catches copied substrings
    that whole-doc MinHash dilutes.  Postings self-join through the
    salted skew guard; containment overlap = shared/min(n_a, n_b),
    a rational of integers."""
    from ...datapipe.dedup import winnow_near_dup

    out = winnow_near_dup(_docs(spark, sf_dir), min_overlap=0.5)
    return out.select(
        "id_a", "id_b", "shared", "n_a", "n_b",
        _rnd("overlap", R).alias("overlap"),
    )


# winnow_near_dup: the winnow_fingerprints CTEs (verbatim) feeding a
# postings self-join + containment overlap — mirrors dedup.winnow_near_dup
o_winnow_near_dup = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(substring(text, i, 8)), 1, 12)
              AS BIGINT) AS gh
  FROM documents,
       unnest(generate_series(1, greatest(strlen(text) - 7, 0)))
         AS t(i)),
wins AS (
  SELECT DISTINCT doc_id, wmin AS fp_hash
  FROM (
    SELECT doc_id, pos,
           min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
             AS wmin
    FROM grams
  ) WHERE pos >= 16),
sz AS (SELECT doc_id, count(*) AS n_fp FROM wins GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM wins a JOIN wins b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.id_a, s.id_b, s.shared, na.n_fp AS n_a, nb.n_fp AS n_b,
       round(s.shared / least(na.n_fp, nb.n_fp), {R}) AS overlap
FROM shared s
JOIN sz na ON na.doc_id = s.id_a
JOIN sz nb ON nb.doc_id = s.id_b
WHERE s.shared / least(na.n_fp, nb.n_fp) >= 0.5
"""


def q_doc_novelty(spark, sf_dir):
    """Per-doc novelty: share of the doc's distinct 3-gram shingles
    with corpus document-frequency 1 — the template/boilerplate
    detector dual to near-dup pair scoring.  Integers end to end; no
    pair join (one df aggregate on the shingle hash)."""
    from ...datapipe.corpus import doc_novelty

    out = doc_novelty(_docs(spark, sf_dir), n=3)
    return out.select(
        "doc_id", "n_shingles", "n_shared",
        _rnd("novelty", R).alias("novelty"),
    )


o_doc_novelty = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
dfreq AS (
  SELECT shingle_hash, count(*) AS df FROM sh GROUP BY 1),
per_doc AS (
  SELECT s.doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM sh s JOIN dfreq f USING (shingle_hash)
  GROUP BY 1)
SELECT d.doc_id, p.n_shingles, p.n_shared,
       round(1.0 - p.n_shared / p.n_shingles, {R}) AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_exact_dedup(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir)).select(
        "doc_id", "dup_group", "group_size", "keep"
    )


o_exact_dedup = """
WITH h AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS dup_group
  FROM documents
)
SELECT doc_id, dup_group,
       count(*) OVER (PARTITION BY dup_group) AS group_size,
       CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY dup_group)
            THEN 1 ELSE 0 END AS keep
FROM h
"""


def q_ngram_jaccard(spark, sf_dir):
    out = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=JACCARD_T)
    return out.select("id_a", "id_b", _rnd("jaccard", R).alias("jaccard"))


o_ngram_jaccard = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES}, {SQL_JACCARD_PAIRS}
SELECT id_a, id_b, round(jaccard, {R}) AS jaccard
FROM jac WHERE jaccard >= {JACCARD_T}
"""


def q_minhash_lsh(spark, sf_dir):
    out = minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=JACCARD_T)
    return out.select("id_a", "id_b", _rnd("jaccard", R).alias("jaccard"))


o_minhash_lsh = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
sig AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, inter * 1.0 / (na.n_sh + nb.n_sh - inter) AS jaccard
  FROM inter JOIN szs na ON na.doc_id = id_a JOIN szs nb ON nb.doc_id = id_b
)
SELECT id_a, id_b, round(jaccard, {R}) AS jaccard
FROM jac WHERE jaccard >= {JACCARD_T}
"""


def q_minhash_lsh_banded(spark, sf_dir):
    """The threshold-matched banding OPT-IN (8 bands × 6 rows, 48
    perms) through the same pipeline — hash-gating the knob itself:
    the DuckDB oracle replays the 6-row band keys, so a regression in
    the parameterized signature/banding path (e.g. the r12 degenerate-
    permutation class of bug, whose smoking gun was bit-identical
    candidates across band layouts) breaks this gate while the default
    4×4 gate stays green."""
    out = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, threshold=JACCARD_T,
        band_rows=B6_ROWS, num_perm=B6_PERMS,
    )
    return out.select("id_a", "id_b", _rnd("jaccard", R).alias("jaccard"))


o_minhash_lsh_banded = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
sig AS (
  SELECT doc_id,
         {_minhash_cols(48)}
  FROM sh GROUP BY doc_id
),
banded AS (
{_band_selects(6, 48)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, inter * 1.0 / (na.n_sh + nb.n_sh - inter) AS jaccard
  FROM inter JOIN szs na ON na.doc_id = id_a JOIN szs nb ON nb.doc_id = id_b
)
SELECT id_a, id_b, round(jaccard, {R}) AS jaccard
FROM jac WHERE jaccard >= {JACCARD_T}
"""


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash-LSH pair graph — the
    corpus dedup decision step (canonical doc per near-dup cluster).
    Oracle: transitive closure by recursive CTE + min-reachable label,
    which the Spark min-label-propagation fixpoint equals exactly."""
    from ...datapipe.dedup import near_dup_clusters

    out = near_dup_clusters(_docs(spark, sf_dir), n=3, threshold=JACCARD_T)
    return out.select("doc_id", "cluster_id", "cluster_size", "keep")


# transitive closure of the (undirected) LSH pair graph, then the
# component label = min reachable node — identically what Spark's
# min-label propagation converges to
o_dedup_clusters = f"""
WITH RECURSIVE {SQL_TOKS}, {SQL_SHINGLES},
sig AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, inter * 1.0 / (na.n_sh + nb.n_sh - inter) AS jaccard
  FROM inter JOIN szs na ON na.doc_id = id_a JOIN szs nb ON nb.doc_id = id_b
),
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {JACCARD_T}),
e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
),
comp AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a)
SELECT d.doc_id,
       coalesce(c.label, d.doc_id) AS cluster_id,
       count(*) OVER (PARTITION BY coalesce(c.label, d.doc_id))
         AS cluster_size,
       CASE WHEN d.doc_id = coalesce(c.label, d.doc_id) THEN 1 ELSE 0 END
         AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q_dedup_clusters_best(spark, sf_dir):
    """dedup_clusters with the production retention rule: keep the
    HIGHEST-QUALITY member of each near-dup cluster (tie: smaller id)
    instead of the smallest id — near-dups differ, keep the best copy."""
    from ...datapipe.dedup import near_dup_clusters

    out = near_dup_clusters(
        _docs(spark, sf_dir), n=3, threshold=JACCARD_T,
        keep_policy="max_quality",
    )
    return out.select("doc_id", "cluster_id", "cluster_size", "keep")


# dedup_clusters with max-quality retention: the cluster assignment
# oracle composed with the doc_stats quality CTE; survivor =
# row_number over (quality desc, id asc) per cluster
o_dedup_clusters_best = f"""
WITH base AS (
  SELECT * FROM ({{DEDUP_CLUSTERS}})
),
q AS (
  SELECT doc_id, round({{QUALITY}}, {R}) AS qual
  FROM (
    SELECT doc_id, regexp_extract_all(lower(text), '{{TOKRE}}') AS t
    FROM documents
  )
)
SELECT b.doc_id, b.cluster_id, b.cluster_size,
       CASE WHEN row_number() OVER (
              PARTITION BY b.cluster_id
              ORDER BY q.qual DESC, b.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS keep
FROM base b JOIN q ON q.doc_id = b.doc_id
""".replace("{DEDUP_CLUSTERS}", o_dedup_clusters).replace(
    "{QUALITY}", _QUALITY
).replace("{TOKRE}", TOKEN_RE)


def q_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")


_BIT_SUMS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_FP_SUM = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)

o_simhash = f"""
WITH {SQL_TOKS},
tok AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(u), 1, 12) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(list_distinct(t)) AS u FROM toks)
),
agg AS (
  SELECT doc_id,
         {_BIT_SUMS}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({_FP_SUM} AS BIGINT) AS simhash FROM agg
"""


INCR_SPLIT = 400  # doc_id < 400 = existing corpus, >= 400 = ingest batch


def q_incremental_dedup(spark, sf_dir):
    """Ingest-batch dedup against an existing corpus (exact digest +
    LSH near-dup, batch-side-driven joins): one verdict per new doc."""
    from ...datapipe.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < INCR_SPLIT)
    batch = docs.filter(F.col("doc_id") >= INCR_SPLIT)
    return incremental_dedup(
        corpus, batch, n=3, threshold=JACCARD_T
    ).select("doc_id", "verdict")


# incremental (batch-vs-corpus) dedup — the same digest + banded-LSH
# layers as exact_dedup/minhash_lsh, with the pair set restricted to
# pairs touching the batch and the ladder picking the first failure
o_incremental_dedup = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
sig AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b
  FROM inter JOIN szs na ON na.doc_id = id_a JOIN szs nb ON nb.doc_id = id_b
  WHERE inter * 1.0 / (na.n_sh + nb.n_sh - inter) >= {JACCARD_T}
),
h AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS dup_group
  FROM documents
),
bx AS (
  SELECT doc_id, dup_group,
         min(doc_id) FILTER (WHERE doc_id >= {INCR_SPLIT})
           OVER (PARTITION BY dup_group) AS min_b,
         bool_or(doc_id < {INCR_SPLIT}) OVER (PARTITION BY dup_group)
           AS in_c
  FROM h
),
near_c AS (
  SELECT DISTINCT CASE WHEN id_a >= {INCR_SPLIT} THEN id_a ELSE id_b END
           AS doc_id
  FROM jac
  WHERE (id_a >= {INCR_SPLIT}) <> (id_b >= {INCR_SPLIT})
),
near_b AS (
  SELECT DISTINCT id_b AS doc_id
  FROM jac WHERE id_a >= {INCR_SPLIT} AND id_b >= {INCR_SPLIT}
)
SELECT b.doc_id,
       CASE WHEN b.in_c THEN 'duplicate_of_corpus'
            WHEN b.min_b < b.doc_id THEN 'duplicate_in_batch'
            WHEN nc.doc_id IS NOT NULL THEN 'near_dup_of_corpus'
            WHEN nb.doc_id IS NOT NULL THEN 'near_dup_in_batch'
            ELSE 'new' END AS verdict
FROM bx b
LEFT JOIN near_c nc ON nc.doc_id = b.doc_id
LEFT JOIN near_b nb ON nb.doc_id = b.doc_id
WHERE b.doc_id >= {INCR_SPLIT}
"""


CONTAIN_T = 0.8


def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle containment |A∩B|/|A| ≥ 0.8 — catches
    quote/subset absorption that symmetric Jaccard misses."""
    from ...datapipe.dedup import containment_pairs

    out = containment_pairs(_docs(spark, sf_dir), n=3, threshold=CONTAIN_T)
    return out.select(
        "id_contained",
        "id_container",
        _rnd("containment", R).alias("containment"),
    )


o_containment_pairs = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle_hash = b.shingle_hash
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairsz AS (
  SELECT id_a, id_b, inter, na.n_sh AS n_a, nb.n_sh AS n_b
  FROM inter JOIN szs na ON na.doc_id = id_a
             JOIN szs nb ON nb.doc_id = id_b
),
dir AS (
  SELECT id_a AS id_contained, id_b AS id_container,
         inter * 1.0 / n_a AS containment FROM pairsz
  UNION ALL
  SELECT id_b AS id_contained, id_a AS id_container,
         inter * 1.0 / n_b AS containment FROM pairsz
)
SELECT id_contained, id_container, round(containment, {R}) AS containment
FROM dir WHERE containment >= {CONTAIN_T}
"""


def q_dup_source_matrix(spark, sf_dir):
    """Cross-source duplication matrix over the verified MinHash-LSH
    pair set: pair counts and exact-universe pair rates per (source,
    source) — the leakage/overlap report between lake sources."""
    from ...datapipe.dedup import dup_source_matrix

    out = dup_source_matrix(_docs(spark, sf_dir), n=3, threshold=JACCARD_T)
    return out.select(
        "source_a",
        "source_b",
        "n_pairs",
        "n_docs_a",
        "n_docs_b",
        _rnd("pair_rate", R).alias("pair_rate"),
    )


o_dup_source_matrix = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
sig AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle_hash = a.shingle_hash
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, inter * 1.0 / (na.n_sh + nb.n_sh - inter) AS jaccard
  FROM inter JOIN szs na ON na.doc_id = id_a JOIN szs nb ON nb.doc_id = id_b
),
pr AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM jac j JOIN documents da ON da.doc_id = j.id_a
             JOIN documents db ON db.doc_id = j.id_b
  WHERE j.jaccard >= {JACCARD_T}
),
mat AS (
  SELECT source_a, source_b, count(*) AS n_pairs FROM pr GROUP BY 1, 2
),
cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT m.source_a, m.source_b, m.n_pairs,
       ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
       round(m.n_pairs / (CASE WHEN m.source_a = m.source_b
                  THEN CAST(ca.n_docs * (ca.n_docs - 1) AS DOUBLE) / 2.0
                  ELSE CAST(ca.n_docs * cb.n_docs AS DOUBLE) END), {R})
         AS pair_rate
FROM mat m JOIN cnt ca ON ca.source = m.source_a
           JOIN cnt cb ON cb.source = m.source_b
"""


def q_minhash_recall(spark, sf_dir):
    """LSH acceptance probe: recall of the banded MinHash candidate
    set vs the exact n-gram-Jaccard pair set at the dedup threshold,
    plus candidate precision — completes the probe family
    (ann_recall, pq_recall) for the near-dup path."""
    from ...datapipe.dedup import lsh_recall_stats

    out = lsh_recall_stats(_docs(spark, sf_dir), n=3, threshold=JACCARD_T)
    return out.select(
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        _rnd("recall", R).alias("recall"),
        _rnd("candidate_precision", R).alias("candidate_precision"),
    )


o_minhash_recall = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES}, {SQL_JACCARD_PAIRS},
sig AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
truth AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {JACCARD_T}),
tc AS (SELECT count(*) AS n_true_pairs FROM truth),
cc AS (SELECT count(*) AS n_candidates FROM cand),
hc AS (SELECT count(*) AS n_hits
       FROM truth t JOIN cand c USING (id_a, id_b))
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(CASE WHEN n_true_pairs > 0
                  THEN n_hits * 1.0 / n_true_pairs END, {R}) AS recall,
       round(CASE WHEN n_candidates > 0
                  THEN n_hits * 1.0 / n_candidates END, {R})
         AS candidate_precision
FROM tc, cc, hc
"""


def q_minhash_recall_banded(spark, sf_dir):
    """The recall probe AT the banding opt-in config (8×6, 48 perms) —
    'recall reported at both settings' as a driver-checked gate, not a
    one-off measurement: anyone flipping the knob reads this row next
    to ``minhash_recall`` and sees exactly what the sharper s-curve
    buys and costs on the same corpus."""
    from ...datapipe.dedup import lsh_recall_stats

    out = lsh_recall_stats(
        _docs(spark, sf_dir), n=3, threshold=JACCARD_T,
        band_rows=B6_ROWS, num_perm=B6_PERMS,
    )
    return out.select(
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        _rnd("recall", R).alias("recall"),
        _rnd("candidate_precision", R).alias("candidate_precision"),
    )


o_minhash_recall_banded = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES}, {SQL_JACCARD_PAIRS},
sig AS (
  SELECT doc_id,
         {_minhash_cols(48)}
  FROM sh GROUP BY doc_id
),
banded AS (
{_band_selects(6, 48)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
truth AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {JACCARD_T}),
tc AS (SELECT count(*) AS n_true_pairs FROM truth),
cc AS (SELECT count(*) AS n_candidates FROM cand),
hc AS (SELECT count(*) AS n_hits
       FROM truth t JOIN cand c USING (id_a, id_b))
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(CASE WHEN n_true_pairs > 0
                  THEN n_hits * 1.0 / n_true_pairs END, {R}) AS recall,
       round(CASE WHEN n_candidates > 0
                  THEN n_hits * 1.0 / n_candidates END, {R})
         AS candidate_precision
FROM tc, cc, hc
"""
