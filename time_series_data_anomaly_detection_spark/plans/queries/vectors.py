"""Vector search over ``embeddings``: exact and approximate top-k (LSH,
IVF, PQ and re-rank), recall probes, semantic dedup and density."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...datapipe import ann_lsh_topk, cosine_topk, embedding_near_dup
from ._shared import R, SQL_TOKS, _docs, _rnd


NEARDUP_T = 0.4
NEARDUP_BITS = 4
ANN_BITS = 6
TOPK = 5
N_QUERIES = 10  # vec_id < 10 are the query set
IVF_CELLS = 16
IVF_NPROBE = 2


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


PQ_M = 4
PQ_CODES = 16


# the PRODUCTION code shape: 8 sub-spaces × 256 codewords = 64-bit
# codes — m·n_codes = 2048 > 128 routes pq_topk through the
# Arrow-batched numpy kernel (_pq_topk_numpy), the path the r12 2M
# measurement proved and the r12 verdict asked to put under a hash
# gate (the 4×16 gate exercises only the expression path)
PQ_PROD_M = 8
PQ_PROD_CODES = 256


def _sign_bucket_sql(col: str, bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)"
        for d in range(bits)
    )


# product-quantization ANN — per-subspace argmin codes from the seed
# codebook, pivoted to columns so the ADC sum is a FIXED-order
# expression (bit-identical to the Spark d0+d1+...+dm accumulation on
# the ≤128-entry expression path; the numpy kernel path accumulates in
# the same j=0..m-1 order, with the expanded-dot-product encode — the
# round({R}) on both sides absorbs the last-ulp algebra difference,
# and the sf0.01 hash gate is the proof it does on real data)
def _pq_parts(m: int) -> tuple[int, str, str, str]:
    """(sub, adc-sum, code-pivot, seed-joins) SQL fragments for an
    m-sub-space PQ over 64-d vectors."""
    sub = 64 // m
    dj = " + ".join(
        f"""list_sum(list_transform(generate_series(1, {sub}),
       i -> (q.qe[{j} * {sub} + i] - s{j}.e[{j} * {sub} + i])
          * (q.qe[{j} * {sub} + i] - s{j}.e[{j} * {sub} + i])))"""
        for j in range(m)
    )
    pivot = ",\n         ".join(
        f"max(CASE WHEN j = {j} THEN cid END) AS c{j}" for j in range(m)
    )
    seed_joins = "\n".join(
        f"JOIN seeds s{j} ON s{j}.cid = m.c{j}" for j in range(m)
    )
    return sub, dj, pivot, seed_joins


def _pq_scored_sql(m: int, codes: int) -> str:
    """The shared PQ CTE stack through `scored` (query_id, match_id,
    adist), parameterized by sub-space count and codebook size so the
    4×16 expression-path gate and the 8×256 numpy-kernel-path gate
    replay the SAME oracle algebra."""
    sub, dj, pivot, seed_joins = _pq_parts(m)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {codes})
),
sp AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
dists AS (
  SELECT s.vec_id, sp.j, c.cid,
         list_sum(list_transform(generate_series(1, {sub}),
           i -> (s.e[sp.j * {sub} + i] - c.e[sp.j * {sub} + i])
              * (s.e[sp.j * {sub} + i] - c.e[sp.j * {sub} + i])))
           AS d
  FROM v s CROSS JOIN sp CROSS JOIN seeds c
),
enc AS (
  SELECT vec_id, j, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d ASC, cid ASC) AS rk
        FROM dists)
  WHERE rk = 1
),
encp AS (
  SELECT vec_id AS match_id,
         {pivot}
  FROM enc GROUP BY 1
),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, m.match_id,
         {dj} AS adist
  FROM encp m CROSS JOIN q
  {seed_joins}
  WHERE m.match_id <> q.query_id
)"""


def _pq_topk_oracle(m: int, codes: int) -> str:
    return f"""{_pq_scored_sql(m, codes)},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, match_id ASC) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, round(adist, {R}) AS adist
FROM ranked WHERE rank <= {TOPK}
"""


PQ_RERANK_C = 20


def _pq_rerank_oracle(m: int, codes: int) -> str:
    return f"""{_pq_scored_sql(m, codes)},
short AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adist ASC, match_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {PQ_RERANK_C}
),
vv AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v),
rr AS (
  SELECT s.query_id, s.match_id,
         list_dot_product(qq.e, c.e) / (qq.nrm * c.nrm + 1e-12) AS cosine
  FROM short s JOIN vv c ON c.vec_id = s.match_id
               JOIN vv qq ON qq.vec_id = s.query_id
),
rr2 AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id ASC) AS rank
  FROM rr)
SELECT query_id, match_id, rank, round(cosine, {R}) AS cosine
FROM rr2 WHERE rank <= {TOPK}
"""


def q_embedding_near_dup(spark, sf_dir):
    out = embedding_near_dup(
        _embs(spark, sf_dir), threshold=NEARDUP_T, bucket_bits=NEARDUP_BITS
    )
    return out.select("id_a", "id_b", _rnd("cosine", R).alias("cosine"))


o_embedding_near_dup = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm,
         {_sign_bucket_sql("(embedding::DOUBLE[])", NEARDUP_BITS)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm + 1e-12), {R}) AS cosine
FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm + 1e-12) >= {NEARDUP_T}
"""


EMBED_DIM = 64


def q_doc_embed_topk(spark, sf_dir):
    """Hashing-trick TF embeddings derived from the TEXT itself, then
    sparse cosine top-5 of the first 10 docs vs the corpus — document
    similarity without a dense embedding table; exact integer dot
    products so the value is engine-independent."""
    from ...datapipe.embed import doc_cosine_topk

    out = doc_cosine_topk(
        _docs(spark, sf_dir), n_queries=N_QUERIES, k=TOPK, dim=EMBED_DIM
    )
    return out.select(
        "query_id", "match_id", "rank", _rnd("cosine", R).alias("cosine")
    )


# hashed-TF sparse cosine — mirrors datapipe.embed (integer dots)
o_doc_embed_topk = f"""
WITH {SQL_TOKS},
cnts AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % {EMBED_DIM}
           AS dim_idx,
         count(*) AS cnt
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  GROUP BY 1, 2
),
sq AS (
  SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS sqsum
  FROM cnts GROUP BY 1
),
dots AS (
  SELECT q.doc_id AS query_id, c.doc_id AS match_id,
         CAST(sum(q.cnt * c.cnt) AS BIGINT) AS dot
  FROM cnts q JOIN cnts c ON q.dim_idx = c.dim_idx
  WHERE q.doc_id < {N_QUERIES} AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.match_id,
         d.dot / (sqrt(a.sqsum) * sqrt(b.sqsum)) AS cosine
  FROM dots d
  JOIN sq a ON a.doc_id = d.query_id
  JOIN sq b ON b.doc_id = d.match_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id ASC) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, round(cosine, {R}) AS cosine
FROM ranked WHERE rank <= {TOPK}
"""


def q_cosine_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    out = cosine_topk(e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK)
    return out.select(
        "query_id", "match_id", "rank", _rnd("cosine", R).alias("cosine")
    )


o_cosine_topk = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm + 1e-12) AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id ASC) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, round(cosine, {R}) AS cosine
FROM ranked WHERE rank <= {TOPK}
"""


def q_ann_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    out = ann_lsh_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK, bucket_bits=ANN_BITS
    )
    return out.select(
        "query_id", "match_id", "rank", _rnd("cosine", R).alias("cosine")
    )


o_ann_topk = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm,
         {_sign_bucket_sql("(embedding::DOUBLE[])", ANN_BITS)} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm + 1e-12) AS cosine
  FROM v q JOIN v c ON q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id ASC) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, round(cosine, {R}) AS cosine
FROM ranked WHERE rank <= {TOPK}
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-flat ANN: deterministic seed centroids (16 cells), 2-probe
    queries, exact cosine within probed cells — the coarse-quantizer
    scale path next to the sign-LSH one (ann_topk)."""
    from ...datapipe.similarity import ivf_topk

    e = _embs(spark, sf_dir)
    out = ivf_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK,
        n_cells=IVF_CELLS, nprobe=IVF_NPROBE,
    )
    return out.select(
        "query_id", "match_id", "rank", _rnd("cosine", R).alias("cosine")
    )


# IVF-flat: centroids = the IVF_CELLS smallest ids; corpus assigned to
# argmax-cosine cell (tie -> smaller cent_id); queries probe IVF_NPROBE
# cells; exact cosine within probed cells only
o_ivf_topk = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn
  FROM v ORDER BY vec_id LIMIT {IVF_CELLS}
),
cass AS (
  SELECT s.vec_id, s.e, s.nrm, c.cent_id,
         row_number() OVER (
           PARTITION BY s.vec_id
           ORDER BY list_dot_product(s.e, c.ce) / (s.nrm * c.cn + 1e-12) DESC,
                    c.cent_id ASC) AS rk
  FROM v s CROSS JOIN cents c
),
corpus AS (SELECT vec_id AS match_id, e, nrm, cent_id AS cell
           FROM cass WHERE rk = 1),
probes AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cent_id AS cell
           FROM cass WHERE rk <= {IVF_NPROBE} AND vec_id < {N_QUERIES}),
scored AS (
  SELECT p.query_id, c.match_id,
         list_dot_product(p.qe, c.e) / (p.qn * c.nrm + 1e-12) AS cosine
  FROM corpus c JOIN probes p ON c.cell = p.cell
  WHERE c.match_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id ASC) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, round(cosine, {R}) AS cosine
FROM ranked WHERE rank <= {TOPK}
"""


def q_knn_label_agreement(spark, sf_dir):
    """Embedding-space label coherence: fraction of each query's exact
    top-5 cosine neighbors sharing its label."""
    from ...datapipe.similarity import knn_label_agreement

    e = _embs(spark, sf_dir)
    out = knn_label_agreement(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK
    )
    return out.select(
        "query_id", "query_label", "n_neighbors",
        _rnd("agreement", R).alias("agreement"),
    )


# kNN label agreement — cosine_topk + label joins + per-query fraction
o_knn_label_agreement = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm + 1e-12) AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id ASC) AS rank
  FROM scored
),
top AS (SELECT query_id, match_id FROM ranked WHERE rank <= {TOPK})
SELECT t.query_id, ql.label AS query_label,
       count(*) AS n_neighbors,
       round(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) * 1.0
             / count(*), {R}) AS agreement
FROM top t
JOIN embeddings ql ON ql.vec_id = t.query_id
JOIN embeddings nl ON nl.vec_id = t.match_id
GROUP BY 1, 2
"""


def q_ann_recall(spark, sf_dir):
    """ANN quality probe: per-query recall@k of BOTH approximate
    indexes (IVF-flat and sign-LSH) against the exact brute-force
    top-k — the acceptance gate run before trusting an ANN index for
    curation.  One exact pass, shared by both comparisons."""
    from ...datapipe.similarity import (
        ann_lsh_topk, cosine_topk, ivf_topk, topk_recall,
    )
    from ...session import eager_cache

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES)
    exact = eager_cache(cosine_topk(e, q, k=TOPK))
    ivf = ivf_topk(e, q, k=TOPK, n_cells=IVF_CELLS, nprobe=IVF_NPROBE)
    lsh = ann_lsh_topk(e, q, k=TOPK, bucket_bits=ANN_BITS)
    ri = topk_recall(exact, ivf).select(
        "query_id", "n_exact",
        F.col("n_hit").alias("ivf_hits"),
        _rnd("recall", R).alias("ivf_recall"),
    )
    rl = topk_recall(exact, lsh).select(
        "query_id",
        F.col("n_hit").alias("lsh_hits"),
        _rnd("recall", R).alias("lsh_recall"),
    )
    return ri.join(rl, "query_id")


# ANN recall probe — exact top-k vs IVF top-k vs sign-LSH top-k,
# per-query hit fraction (composes the three oracles above)
o_ann_recall = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm,
         {_sign_bucket_sql("(embedding::DOUBLE[])", ANN_BITS)} AS bucket
  FROM embeddings
),
xscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm + 1e-12) AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
xtop AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, match_id ASC) AS rank
    FROM xscored
  ) WHERE rank <= {TOPK}
),
cents AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn
  FROM v ORDER BY vec_id LIMIT {IVF_CELLS}
),
cass AS (
  SELECT s.vec_id, s.e, s.nrm, c.cent_id,
         row_number() OVER (
           PARTITION BY s.vec_id
           ORDER BY list_dot_product(s.e, c.ce) / (s.nrm * c.cn + 1e-12) DESC,
                    c.cent_id ASC) AS rk
  FROM v s CROSS JOIN cents c
),
icorpus AS (SELECT vec_id AS match_id, e, nrm, cent_id AS cell
            FROM cass WHERE rk = 1),
iprobes AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cent_id AS cell
            FROM cass WHERE rk <= {IVF_NPROBE} AND vec_id < {N_QUERIES}),
iscored AS (
  SELECT p.query_id, c.match_id,
         list_dot_product(p.qe, c.e) / (p.qn * c.nrm + 1e-12) AS cosine
  FROM icorpus c JOIN iprobes p ON c.cell = p.cell
  WHERE c.match_id <> p.query_id
),
itop AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, match_id ASC) AS rank
    FROM iscored
  ) WHERE rank <= {TOPK}
),
lscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm + 1e-12) AS cosine
  FROM v q JOIN v c ON q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ltop AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, match_id ASC) AS rank
    FROM lscored
  ) WHERE rank <= {TOPK}
),
ri AS (
  SELECT x.query_id, count(*) AS n_exact,
         CAST(sum(CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS ivf_hits,
         round(sum(CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
               / count(*), {R}) AS ivf_recall
  FROM xtop x LEFT JOIN itop t
    ON x.query_id = t.query_id AND x.match_id = t.match_id
  GROUP BY 1
),
rl AS (
  SELECT x.query_id,
         CAST(sum(CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS lsh_hits,
         round(sum(CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
               / count(*), {R}) AS lsh_recall
  FROM xtop x LEFT JOIN ltop t
    ON x.query_id = t.query_id AND x.match_id = t.match_id
  GROUP BY 1
)
SELECT ri.query_id, ri.n_exact, ri.ivf_hits, ri.ivf_recall,
       rl.lsh_hits, rl.lsh_recall
FROM ri JOIN rl ON ri.query_id = rl.query_id
"""


SEMDEDUP_T = 0.4


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: centroid-cell-confined pairwise cosine; drop vectors
    within 0.4 of a lower-id cell-mate (lowest id survives)."""
    from ...datapipe.similarity import semantic_dedup

    # n_cells=None exercises the production AUTO-scaling default —
    # at every gate SF it resolves to the same 16 cells the oracle
    # hard-codes (auto = max(16, N // 128), N <= 2000 at sf0.1)
    out = semantic_dedup(
        _embs(spark, sf_dir), threshold=SEMDEDUP_T, n_cells=None
    )
    return out.select(
        "vec_id", "cell",
        _rnd("max_lower_cos", R).alias("max_lower_cos"),
        "keep",
    )


# SemDeDup — seed centroids + nearest-cell assignment exactly as the
# ivf_topk oracle, then the within-cell lower-id max-cosine rule
o_semantic_dedup = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn
  FROM v ORDER BY vec_id LIMIT {IVF_CELLS}
),
cass AS (
  SELECT s.vec_id, s.e, s.nrm, c.cent_id,
         row_number() OVER (
           PARTITION BY s.vec_id
           ORDER BY list_dot_product(s.e, c.ce) / (s.nrm * c.cn + 1e-12) DESC,
                    c.cent_id ASC) AS rk
  FROM v s CROSS JOIN cents c
),
mem AS (SELECT vec_id, e, nrm, cent_id AS cell FROM cass WHERE rk = 1),
pr AS (
  SELECT b.vec_id,
         max(list_dot_product(a.e, b.e) / (a.nrm * b.nrm + 1e-12)) AS mx
  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
  GROUP BY 1
)
SELECT m.vec_id, m.cell,
       round(coalesce(p.mx, -1.0), {R}) AS max_lower_cos,
       CASE WHEN coalesce(p.mx, -1.0) < {SEMDEDUP_T} THEN 1 ELSE 0 END AS keep
FROM mem m LEFT JOIN pr p ON p.vec_id = m.vec_id
"""


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN (asymmetric distance): 4 sub-spaces x
    16 seed codewords -> 16-bit codes; queries score reconstructed
    codewords. The memory-compression path beside sign-LSH and IVF."""
    from ...datapipe.similarity import pq_topk

    e = _embs(spark, sf_dir)
    out = pq_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK,
        m=PQ_M, n_codes=PQ_CODES,
    )
    return out.select(
        "query_id", "match_id", "rank", _rnd("adist", R).alias("adist")
    )


o_pq_topk = _pq_topk_oracle(PQ_M, PQ_CODES)


def q_pq_topk_prod(spark, sf_dir):
    """pq_topk at the PRODUCTION 64-bit code shape (8×256): dispatches
    to the vectorized numpy encode + LUT ADC + partition-local top-k
    kernel, so the scale path itself holds a value hash — a
    regression in the kernel (not just the expression fixture) now
    breaks a driver gate."""
    from ...datapipe.similarity import pq_topk

    e = _embs(spark, sf_dir)
    out = pq_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK,
        m=PQ_PROD_M, n_codes=PQ_PROD_CODES,
    )
    return out.select(
        "query_id", "match_id", "rank", _rnd("adist", R).alias("adist")
    )


o_pq_topk_prod = _pq_topk_oracle(PQ_PROD_M, PQ_PROD_CODES)


DENSITY_K = 5


def q_embedding_density(spark, sf_dir):
    """Neighborhood density (mean top-5 in-bucket cosine) per vector —
    the dataset-pruning ranking signal, bucket-confined."""
    from ...datapipe.similarity import embedding_density

    out = embedding_density(
        _embs(spark, sf_dir), k=DENSITY_K, bucket_bits=NEARDUP_BITS
    )
    return out.select(
        "vec_id", "bucket", "n_neighbors",
        _rnd("density", R).alias("density"),
    )


# per-vector neighborhood density — in-bucket top-k mean cosine with
# an exact DECIMAL mean (mirrors datapipe.similarity.embedding_density)
o_embedding_density = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm,
         {_sign_bucket_sql("(embedding::DOUBLE[])", NEARDUP_BITS)} AS bucket
  FROM embeddings
),
pr AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         list_dot_product(a.e, b.e) / (a.nrm * b.nrm + 1e-12) AS cos
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
top AS (
  SELECT src, cos FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY cos DESC, dst ASC) AS rk
    FROM pr
  ) WHERE rk <= {DENSITY_K}
),
agg AS (
  SELECT src, count(*) AS n_neighbors,
         CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS d
  FROM top GROUP BY 1
)
SELECT v.vec_id, v.bucket,
       CAST(coalesce(a.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       round(coalesce(a.d, -1.0), {R}) AS density
FROM v LEFT JOIN agg a ON a.src = v.vec_id
"""


def q_pq_recall(spark, sf_dir):
    """Recall@k acceptance probe for the PQ index: how much of the
    exact cosine top-k the 16-bit-code ADC search recovers — the gate
    run before trusting PQ compression for curation."""
    from ...datapipe.similarity import cosine_topk, pq_topk, topk_recall

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(e, q, k=TOPK)
    pq = pq_topk(e, q, k=TOPK, m=PQ_M, n_codes=PQ_CODES)
    return topk_recall(exact, pq).select(
        "query_id", "n_exact",
        F.col("n_hit").alias("pq_hits"),
        _rnd("recall", R).alias("pq_recall"),
    )


# the 4×16 fixture fragments, used verbatim by the pq_recall oracle
_PQ_SUB, _PQ_DJ, _PQ_PIVOT, _PQ_SEED_JOINS = _pq_parts(PQ_M)


# PQ recall probe — exact top-k stack + the pq_topk stack + the
# per-query hit count (mirrors q_pq_recall's topk_recall composition)
o_pq_recall = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
xscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm + 1e-12) AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
xtop AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, match_id ASC) AS rank
    FROM xscored
  ) WHERE rank <= {TOPK}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_CODES})
),
sp AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS j),
dists AS (
  SELECT s.vec_id, sp.j, c.cid,
         list_sum(list_transform(generate_series(1, {_PQ_SUB}),
           i -> (s.e[sp.j * {_PQ_SUB} + i] - c.e[sp.j * {_PQ_SUB} + i])
              * (s.e[sp.j * {_PQ_SUB} + i] - c.e[sp.j * {_PQ_SUB} + i])))
           AS d
  FROM v s CROSS JOIN sp CROSS JOIN seeds c
),
enc AS (
  SELECT vec_id, j, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d ASC, cid ASC) AS rk
        FROM dists)
  WHERE rk = 1
),
encp AS (
  SELECT vec_id AS match_id,
         {_PQ_PIVOT}
  FROM enc GROUP BY 1
),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
pscored AS (
  SELECT q.query_id, m.match_id,
         {_PQ_DJ} AS adist
  FROM encp m CROSS JOIN q
  {_PQ_SEED_JOINS}
  WHERE m.match_id <> q.query_id
),
ptop AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adist ASC, match_id ASC) AS rank
    FROM pscored
  ) WHERE rank <= {TOPK}
)
SELECT x.query_id, count(*) AS n_exact,
       CAST(sum(CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS pq_hits,
       round(sum(CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), {R}) AS pq_recall
FROM xtop x LEFT JOIN ptop t
  ON x.query_id = t.query_id AND x.match_id = t.match_id
GROUP BY 1
"""


def q_incremental_semantic_dedup(spark, sf_dir):
    """Batch-vs-corpus semantic dedup: embeddings with vec_id%10==3
    arrive as the ingest batch, the rest are the lake; centroid cells
    confine every comparison and the ladder names the first failure."""
    from ...datapipe.similarity import incremental_semantic_dedup

    e = _embs(spark, sf_dir)
    batch = e.filter(F.col("vec_id") % 10 == 3)
    corpus = e.filter(F.col("vec_id") % 10 != 3)
    out = incremental_semantic_dedup(
        corpus, batch, threshold=NEARDUP_T, n_cells=IVF_CELLS
    )
    return out.select(
        "vec_id", "cell",
        _rnd("max_corpus_cos", R).alias("max_corpus_cos"),
        _rnd("max_batch_cos", R).alias("max_batch_cos"),
        "verdict",
    )


# incremental semantic dedup — corpus-seeded centroid cells, both
# sides assigned, batch-driven max-cosine ladders (mirrors
# datapipe.similarity.incremental_semantic_dedup)
o_incremental_semantic_dedup = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn
  FROM v WHERE vec_id % 10 <> 3 ORDER BY vec_id LIMIT {IVF_CELLS}
),
cass AS (
  SELECT s.vec_id, s.e, s.nrm, cc.cent_id,
         row_number() OVER (
           PARTITION BY s.vec_id
           ORDER BY list_dot_product(s.e, cc.ce) / (s.nrm * cc.cn + 1e-12)
                      DESC,
                    cc.cent_id ASC) AS rk
  FROM v s CROSS JOIN cents cc
),
mem AS (SELECT vec_id, e, nrm, cent_id AS cell FROM cass WHERE rk = 1),
cm AS (SELECT * FROM mem WHERE vec_id % 10 <> 3),
bm AS (SELECT * FROM mem WHERE vec_id % 10 = 3),
vc AS (
  SELECT b.vec_id,
         max(list_dot_product(c.e, b.e) / (c.nrm * b.nrm + 1e-12)) AS mc
  FROM cm c JOIN bm b ON c.cell = b.cell GROUP BY 1
),
vb AS (
  SELECT b.vec_id,
         max(list_dot_product(a.e, b.e) / (a.nrm * b.nrm + 1e-12)) AS mb
  FROM bm a JOIN bm b ON a.cell = b.cell AND a.vec_id < b.vec_id
  GROUP BY 1
)
SELECT m.vec_id, m.cell,
       round(coalesce(vc.mc, -1.0), {R}) AS max_corpus_cos,
       round(coalesce(vb.mb, -1.0), {R}) AS max_batch_cos,
       CASE WHEN coalesce(vc.mc, -1.0) >= {NEARDUP_T}
              THEN 'near_dup_of_corpus'
            WHEN coalesce(vb.mb, -1.0) >= {NEARDUP_T}
              THEN 'near_dup_in_batch'
            ELSE 'new' END AS verdict
FROM bm m
LEFT JOIN vc ON vc.vec_id = m.vec_id
LEFT JOIN vb ON vb.vec_id = m.vec_id
"""


def q_pq_rerank(spark, sf_dir):
    """Two-stage ANN: PQ ADC shortlist (top-20 by compressed codes)
    exact-cosine re-ranked to top-k — the standard production
    retrieval shape; float vectors touched only for survivors."""
    from ...datapipe.similarity import pq_rerank_topk

    e = _embs(spark, sf_dir)
    out = pq_rerank_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK,
        shortlist=PQ_RERANK_C, m=PQ_M, n_codes=PQ_CODES,
    )
    return out.select(
        "query_id", "match_id", "rank",
        _rnd("cosine", R).alias("cosine"),
    )


o_pq_rerank = _pq_rerank_oracle(PQ_M, PQ_CODES)


def q_pq_rerank_prod(spark, sf_dir):
    """The full production retrieval stack under one hash: 64-bit PQ
    codes (numpy-kernel shortlist) + exact-cosine re-rank — the shape
    that delivered recall 1.000 at 2M vectors (SCALING.md), now
    driver-gated instead of script-proven."""
    from ...datapipe.similarity import pq_rerank_topk

    e = _embs(spark, sf_dir)
    out = pq_rerank_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK,
        shortlist=PQ_RERANK_C, m=PQ_PROD_M, n_codes=PQ_PROD_CODES,
    )
    return out.select(
        "query_id", "match_id", "rank",
        _rnd("cosine", R).alias("cosine"),
    )


o_pq_rerank_prod = _pq_rerank_oracle(PQ_PROD_M, PQ_PROD_CODES)
