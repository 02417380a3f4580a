"""Corpus curation to training batches: filters, the prep funnel,
decontamination, sampling and mixing, packing, BPE tokenizer training
and encoding, and the end-to-end batch queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...datapipe import corpus_filter
from ...datapipe.text import TOKEN_RE
from ...datapipe.decontam import EMAIL_RE, IPV4_RE, SSN_RE
from ...datapipe.packing import LENGTH_BUCKET_CAPS
from ._shared import (
    JACCARD_T,
    R,
    SQL_SHINGLES,
    SQL_TOKS,
    _BAND_SELECTS,
    _BEST,
    _LANGS_ASC,
    _MARKER_SCORES,
    _MINHASH_COLS,
    _QUALITY,
    _STOP,
    _docs,
    _rnd,
)


PACK_CTX = 512


DECON_EVAL_FRAC = 0.05
DECON_N = 5
DECON_THR = int(DECON_EVAL_FRAC * (1 << 48))


# Pinned 16-merge tokenizer for the hash-gated encode twin: learned
# ONCE by the engine's own trainer (bpe_learn_merges, sf0.01 corpus)
# and frozen as literals — applying a FROZEN tokenizer is exactly what
# production encode does, and with the merge list fixed the greedy
# lowest-rank-first apply loop unrolls into pure table algebra.
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
]


# apply-rounds to unroll: each round applies ONE merge type (the
# lowest rank present) across the word and shortens it by >=1 symbol,
# so maxlen-1 rounds always reach the fixed point (a round is an
# identity once no pair applies).  16 rounds therefore cover every
# word up to 17 chars — and instead of ASSUMING the corpus stays under
# that, the oracle carries a guard CTE that raises a DuckDB error()
# if any vocab word exceeds _BPE_ENC_ROUNDS+1 chars, so a longer word
# surfaces as a loud gate error, never a silent engine disagreement
# with the UNBOUNDED production encoder (r09 advice item).
_BPE_ENC_ROUNDS = 16
_BPE_NO_RANK = 999


def _bpe_counts_to_doc_stats(docs, wpd, tok):
    """(doc_id, word, c) ⨝ broadcast (word, n_tok) → per-doc token
    stats — the shared tail of the fixed-encode twin and its unrolled
    Catalyst variant."""
    per_doc = (
        wpd.join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("n_tok")).alias("n_bpe_tokens"),
            F.sum(F.col("c") * F.length("word")).alias("chars"),
        )
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).alias("n_bpe_tokens"),
        F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
        _rnd(
            F.when(
                F.coalesce(F.col("n_bpe_tokens"), F.lit(0)) > 0,
                F.col("chars").cast("double") / F.col("n_bpe_tokens"),
            ).otherwise(F.lit(0.0)),
            R,
        ).alias("chars_per_token"),
    )


def _bpe_encode_fixed_sql() -> str:
    """DuckDB mirror of q_bpe_encode_fixed: the same unrolled rounds
    as CTE blocks (list_min pair-rank scan, 2-arg list_reduce fold
    over wrapped single-element lists)."""
    no = _BPE_NO_RANK
    pair_cases = " ".join(
        f"WHEN syms[i] = '{lft}' AND syms[i+1] = '{rgt}' THEN {r}"
        for r, (lft, rgt) in enumerate(_BPE_FIXED_MERGES)
    )

    def lookup(sel):
        return (
            "CASE best "
            + " ".join(
                f"WHEN {r} THEN '{sel(r)}'"
                for r in range(len(_BPE_FIXED_MERGES))
            )
            + " ELSE '' END"
        )

    lft = lookup(lambda r: _BPE_FIXED_MERGES[r][0])
    rgt = lookup(lambda r: _BPE_FIXED_MERGES[r][1])
    mrg = lookup(
        lambda r: _BPE_FIXED_MERGES[r][0] + _BPE_FIXED_MERGES[r][1]
    )
    rounds = []
    for i in range(1, _BPE_ENC_ROUNDS + 1):
        p = f"enc{i - 1}"
        rounds.append(f"""
enc{i}a AS (
  SELECT word, syms,
         CASE WHEN len(syms) >= 2
              THEN list_min(list_transform(
                     generate_series(1, len(syms) - 1),
                     i -> CASE {pair_cases} ELSE {no} END))
              ELSE {no} END AS best
  FROM {p}),
enc{i} AS (
  SELECT word,
         CASE WHEN best < {no}
              THEN list_reduce(
                     list_transform(syms, t -> [t]),
                     (a, b) -> CASE
                       WHEN len(a) > 0 AND a[-1] = {lft} AND b[1] = {rgt}
                       THEN list_append(a[1:len(a)-1], {mrg})
                       ELSE list_concat(a, b) END)
              ELSE syms END AS syms
  FROM enc{i}a)""")
    round_sql = ",".join(rounds)
    return f"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents),
wpd AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
vocab AS (SELECT DISTINCT word FROM wpd),
guard AS (
  SELECT CASE WHEN max(strlen(word)) > {_BPE_ENC_ROUNDS + 1}
              THEN error('bpe_encode_fixed oracle: vocab word longer than '
                         || '{_BPE_ENC_ROUNDS + 1} chars exceeds the '
                         || 'unrolled apply rounds')
              ELSE 1 END AS ok
  FROM vocab),
enc0 AS (
  -- the WHERE forces guard.ok's evaluation (a bare CROSS JOIN lets
  -- projection pruning skip the CASE and the error() with it)
  SELECT word, regexp_extract_all(word, '.') AS syms
  FROM vocab CROSS JOIN guard WHERE guard.ok = 1),
{round_sql},
tok AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_tok
        FROM enc{_BPE_ENC_ROUNDS}),
per_doc AS (
  SELECT wpd.doc_id,
         CAST(sum(wpd.c) AS BIGINT) AS n_words,
         CAST(sum(wpd.c * tok.n_tok) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(wpd.c * strlen(wpd.word)) AS BIGINT) AS chars
  FROM wpd JOIN tok USING (word)
  GROUP BY 1)
SELECT d.doc_id,
       coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens,
       coalesce(p.n_words, 0) AS n_words,
       round(CASE WHEN coalesce(p.n_bpe_tokens, 0) > 0
                  THEN CAST(p.chars AS DOUBLE) / p.n_bpe_tokens
                  ELSE 0.0 END, {R}) AS chars_per_token
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


SAMPLE_FRACS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
SAMPLE_DEFAULT = 0.1
SAMPLE_SALT = "split0"


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source Bernoulli sample (content-hash
    threshold, no seed stream) — reproducible curation sampling."""
    from ...datapipe.sampling import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir),
        SAMPLE_FRACS,
        default_fraction=SAMPLE_DEFAULT,
        salt=SAMPLE_SALT,
    )
    return out.select("doc_id", "source")


# deterministic stratified sample — mirrors datapipe.sampling
# (hash48(salt|id) < floor(f * 2^48); integer threshold, no float cmp)
_FRAC_CASE = "CASE source " + " ".join(
    f"WHEN '{k}' THEN {v!r}" for k, v in sorted(SAMPLE_FRACS.items())
) + f" ELSE {SAMPLE_DEFAULT!r} END"

o_stratified_sample = f"""
SELECT doc_id, source
FROM documents
WHERE CAST('0x' || substr(
        md5('{SAMPLE_SALT}' || '|' || CAST(doc_id AS VARCHAR)), 1, 12)
      AS BIGINT)
      < CAST(floor(({_FRAC_CASE}) * 281474976710656.0) AS BIGINT)
"""


def q_quality_deciles(spark, sf_dir):
    """Decile binning by quality score (curriculum/ablation prep);
    exact ntile with id tie-break so the bin is deterministic."""
    from ...datapipe.sampling import quality_deciles

    return quality_deciles(_docs(spark, sf_dir)).select(
        "doc_id", "quality_score", "decile"
    )


# quality deciles — doc_stats quality CTE + ntile over (rounded score, id)
o_quality_deciles = f"""
WITH {{SQL_TOKS}},
st AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_filter(t, x -> x IN ({_STOP}))) / (len(t) + 1e-9)
           AS stopword_ratio,
         len(list_distinct(t)) / (len(t) + 1e-9) AS unique_ratio
  FROM toks
),
q AS (
  SELECT doc_id,
         round(least(n_tokens / 50.0, 1.0) * 0.4
               + least(stopword_ratio * 5.0, 1.0) * 0.3
               + unique_ratio * 0.3, {R}) AS quality_score
  FROM st
)
SELECT doc_id, quality_score,
       ntile(10) OVER (ORDER BY quality_score, doc_id) AS decile
FROM q
""".replace("{SQL_TOKS}", SQL_TOKS)


MIX_BUDGET = 50_000
MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q_source_mix(spark, sf_dir):
    """Training-mix plan: per-source available tokens vs weighted
    target under a 50k-token budget, with the sampling fraction that
    hits it."""
    from ...datapipe.sampling import source_mix

    return source_mix(_docs(spark, sf_dir), MIX_BUDGET, MIX_WEIGHTS).select(
        "source", "n_docs", "avail_tokens", "weight", "target_tokens",
        "sample_fraction",
    )


# source mix plan — per-source token supply vs weighted budget target
_W_CASE = "CASE source " + " ".join(
    f"WHEN '{k}' THEN {v!r}" for k, v in sorted(MIX_WEIGHTS.items())
) + " ELSE 0.0 END"

o_source_mix = f"""
WITH d AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '{{TOKRE}}')) AS n_tok
  FROM documents
),
agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS avail_tokens
  FROM d GROUP BY 1
)
SELECT source, n_docs, avail_tokens,
       round({_W_CASE}, {R}) AS weight,
       CAST(floor(({_W_CASE}) * {MIX_BUDGET}.0) AS BIGINT) AS target_tokens,
       round(least(1.0,
             CAST(floor(({_W_CASE}) * {MIX_BUDGET}.0) AS BIGINT)
             / (avail_tokens + 1e-9)), {R}) AS sample_fraction
FROM agg
""".replace("{TOKRE}", TOKEN_RE)


def q_pack_chunks(spark, sf_dir):
    """Sequence packing (concat-and-chunk at 512 tokens, sharded by
    source): per-chunk docs/tokens/fill — the training-batch
    materialization plan."""
    from ...datapipe.packing import pack_stats

    return pack_stats(_docs(spark, sf_dir), ctx=PACK_CTX).select(
        "source", "chunk_id", "n_docs", "n_tokens", "fill_ratio",
        "first_doc", "last_doc",
    )


# sequence packing — mirrors datapipe.packing (concat-and-chunk;
# chunks spanned = generate_series(start//ctx, (end-1)//ctx))
o_pack_chunks = f"""
WITH d AS (
  SELECT source, doc_id,
         len(regexp_extract_all(lower(text), '{{TOKRE}}')) AS n_tok
  FROM documents
),
o AS (
  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS end_off
  FROM d WHERE n_tok > 0
),
s AS (SELECT *, end_off - n_tok AS start_off FROM o),
e AS (
  SELECT source, doc_id, start_off, end_off,
         unnest(generate_series(start_off // {PACK_CTX},
                                (end_off - 1) // {PACK_CTX})) AS chunk_id
  FROM s
),
t AS (
  SELECT source, chunk_id, doc_id,
         least(end_off, (chunk_id + 1) * {PACK_CTX})
           - greatest(start_off, chunk_id * {PACK_CTX}) AS tok_in_chunk
  FROM e
)
SELECT source, chunk_id,
       count(*) AS n_docs,
       CAST(sum(tok_in_chunk) AS BIGINT) AS n_tokens,
       round(sum(tok_in_chunk) / {PACK_CTX}.0, {R}) AS fill_ratio,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM t GROUP BY 1, 2
""".replace("{TOKRE}", TOKEN_RE)


def q_corpus_filter(spark, sf_dir):
    out = corpus_filter(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_tokens",
        _rnd("quality_score", R).alias("quality_score"),
        "lang_pred", "verdict",
    )


o_corpus_filter = f"""
WITH {SQL_TOKS},
st AS (
  SELECT doc_id, len(t) AS n_tokens, {_QUALITY} AS quality
  FROM toks
),
sc AS (
  SELECT doc_id,
         {_MARKER_SCORES}
  FROM toks
),
lid AS (
  SELECT doc_id,
         CASE WHEN {_BEST} = 0 THEN 'und'
              {" ".join(f"WHEN s_{lang} = {_BEST} THEN '{lang}'" for lang in _LANGS_ASC)}
         END AS lang_pred
  FROM sc
),
dup AS (
  SELECT doc_id,
         CASE WHEN doc_id = min(doc_id) OVER (
                PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT st.doc_id, st.n_tokens,
       round(st.quality, {R}) AS quality_score,
       lid.lang_pred,
       CASE WHEN dup.keep = 0 THEN 'duplicate'
            WHEN st.n_tokens < 20 THEN 'too_short'
            WHEN lid.lang_pred <> 'en' THEN 'wrong_lang'
            WHEN st.quality < 0.5 THEN 'low_quality'
            ELSE 'keep' END AS verdict
FROM st JOIN lid USING (doc_id) JOIN dup USING (doc_id)
"""


def q_corpus_prep(spark, sf_dir):
    """The composite prep funnel: corpus_filter's gates + the
    transitive MinHash-LSH near-dup stage, one verdict per doc.
    Oracle: the corpus_filter CTEs composed with the dedup_clusters
    recursive transitive closure."""
    from ...datapipe import corpus_prep

    out = corpus_prep(_docs(spark, sf_dir), jaccard_threshold=JACCARD_T)
    return out.select(
        "doc_id", "n_tokens",
        _rnd("quality_score", R).alias("quality_score"),
        "lang_pred", "cluster_id", "cluster_size", "verdict",
    )


# the full prep funnel: corpus_filter's gate CTEs + dedup_clusters'
# recursive transitive closure, verdict ladder with the near-dup stage
o_corpus_prep = f"""
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
comp AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
nd AS (
  SELECT d.doc_id,
         coalesce(c.label, d.doc_id) AS cluster_id,
         count(*) OVER (PARTITION BY coalesce(c.label, d.doc_id))
           AS cluster_size,
         CASE WHEN d.doc_id = coalesce(c.label, d.doc_id) THEN 1 ELSE 0 END
           AS nd_keep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
st AS (
  SELECT doc_id, len(t) AS n_tokens, {_QUALITY} AS quality
  FROM toks
),
sc AS (
  SELECT doc_id,
         {_MARKER_SCORES}
  FROM toks
),
lid AS (
  SELECT doc_id,
         CASE WHEN {_BEST} = 0 THEN 'und'
              {" ".join(f"WHEN s_{lang} = {_BEST} THEN '{lang}'" for lang in _LANGS_ASC)}
         END AS lang_pred
  FROM sc
),
dup AS (
  SELECT doc_id,
         CASE WHEN doc_id = min(doc_id) OVER (
                PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT st.doc_id, st.n_tokens,
       round(st.quality, {R}) AS quality_score,
       lid.lang_pred,
       nd.cluster_id, nd.cluster_size,
       CASE WHEN dup.keep = 0 THEN 'duplicate'
            WHEN nd.nd_keep = 0 THEN 'near_duplicate'
            WHEN st.n_tokens < 20 THEN 'too_short'
            WHEN lid.lang_pred <> 'en' THEN 'wrong_lang'
            WHEN st.quality < 0.5 THEN 'low_quality'
            ELSE 'keep' END AS verdict
FROM st JOIN lid USING (doc_id) JOIN dup USING (doc_id)
JOIN nd USING (doc_id)
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the (hash-carved) eval split — the test-set-leak guard
    every pretraining corpus runs before training."""
    from ...datapipe.decontam import decontaminate

    out = decontaminate(
        _docs(spark, sf_dir), eval_frac=DECON_EVAL_FRAC, n=DECON_N
    )
    return out.select(
        "doc_id", "n_grams", "n_hit",
        _rnd("overlap_frac", R).alias("overlap_frac"),
        "contaminated",
    )


# decontamination — mirrors datapipe.decontam.decontaminate (5-gram
# overlap of non-eval docs against the hash-carved eval split)
o_decontaminate = f"""
WITH {SQL_TOKS},
ev AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('eval|' || CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) < {DECON_THR} AS is_eval
  FROM documents
),
dg AS (
  SELECT toks.doc_id, ev.is_eval,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {DECON_N - 1}, 0)),
           i -> array_to_string(t[i:i+{DECON_N - 1}], ' '))) AS gs
  FROM toks JOIN ev ON ev.doc_id = toks.doc_id
),
gh AS (
  SELECT doc_id, is_eval,
         CAST('0x' || substr(md5(unnest(gs)), 1, 12) AS BIGINT) AS gh
  FROM dg
),
eg AS (SELECT DISTINCT gh FROM gh WHERE is_eval),
corpus AS (SELECT doc_id, len(gs) AS n_grams FROM dg WHERE NOT is_eval),
hits AS (
  SELECT g.doc_id, count(*) AS n_hit
  FROM gh g JOIN eg ON eg.gh = g.gh
  WHERE NOT g.is_eval
  GROUP BY 1
)
SELECT c.doc_id,
       CAST(c.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.n_hit, 0) / (c.n_grams + 1e-9), {R}) AS overlap_frac,
       CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id
"""


CUR_MIN_QUALITY = 0.5
CUR_MIN_TOKENS = 20
CUR_MAX_REP = 0.3
CUR_MAX_PII = 3


def q_curation_pipeline(spark, sf_dir):
    """End-to-end hygiene funnel: decontamination + PII + repetition +
    quality verdict ladder, with the redacted payload digest carried
    for the kept docs."""
    from ...datapipe.decontam import curation_pipeline

    out = curation_pipeline(
        _docs(spark, sf_dir),
        eval_frac=DECON_EVAL_FRAC,
        n=DECON_N,
        min_quality=CUR_MIN_QUALITY,
        min_tokens=CUR_MIN_TOKENS,
        max_rep=CUR_MAX_REP,
        max_pii=CUR_MAX_PII,
    )
    return out.select(
        "doc_id", "n_tokens",
        _rnd("quality_score", R).alias("quality_score"),
        "pii_total",
        _rnd("dup_2gram_frac", R).alias("dup_2gram_frac"),
        "n_hit", "verdict", "redacted_md5",
    )


# hygiene funnel composite — the decontaminate / pii_scan /
# repetition_stats / doc_stats fragments joined on doc_id with the
# first-failure verdict ladder (mirrors datapipe.decontam.
# curation_pipeline; gates compare RAW doubles so rounding can't flip
# a verdict)
o_curation_pipeline = f"""
WITH {SQL_TOKS},
st AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_filter(t, x -> x IN ({{STOP}}))) / (len(t) + 1e-9)
           AS stopword_ratio,
         len(list_distinct(t)) / (len(t) + 1e-9) AS unique_ratio
  FROM toks
),
q AS (
  SELECT doc_id, n_tokens,
         least(n_tokens / 50.0, 1.0) * 0.4
         + least(stopword_ratio * 5.0, 1.0) * 0.3
         + unique_ratio * 0.3 AS quality_score
  FROM st
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks
),
g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
g2s AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM g2c GROUP BY 1
),
ln AS (
  SELECT doc_id,
         unnest(list_filter(list_transform(string_split(text, chr(10)),
                                           x -> trim(x)),
                            x -> x <> '')) AS l
  FROM documents
),
lnc AS (SELECT doc_id, l, count(*) AS c FROM ln GROUP BY 1, 2),
lns AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM lnc GROUP BY 1
),
pii AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{EMAIL_RE}'))
              + len(regexp_extract_all(text, '{IPV4_RE}'))
              + len(regexp_extract_all(text, '{SSN_RE}')) AS BIGINT)
           AS pii_total,
         md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
           '{SSN_RE}', '<ID>', 'g')) AS redacted_md5
  FROM documents
),
ev AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('eval|' || CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) < {DECON_THR} AS is_eval
  FROM documents
),
dg AS (
  SELECT toks.doc_id, ev.is_eval,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {DECON_N - 1}, 0)),
           i -> array_to_string(t[i:i+{DECON_N - 1}], ' '))) AS gs
  FROM toks JOIN ev ON ev.doc_id = toks.doc_id
),
gh AS (
  SELECT doc_id, is_eval,
         CAST('0x' || substr(md5(unnest(gs)), 1, 12) AS BIGINT) AS gh
  FROM dg
),
eg AS (SELECT DISTINCT gh FROM gh WHERE is_eval),
hits AS (
  SELECT g.doc_id, count(*) AS n_hit
  FROM gh g JOIN eg ON eg.gh = g.gh
  WHERE NOT g.is_eval
  GROUP BY 1
)
SELECT q.doc_id,
       q.n_tokens,
       round(q.quality_score, {R}) AS quality_score,
       pii.pii_total,
       round(coalesce(a.dup, 0) / (coalesce(a.n, 0) + 1e-9), {R})
         AS dup_2gram_frac,
       CAST(CASE WHEN ev.is_eval THEN -1
                 ELSE coalesce(h.n_hit, 0) END AS BIGINT) AS n_hit,
       CASE
         WHEN ev.is_eval THEN 'eval_holdout'
         WHEN coalesce(h.n_hit, 0) > 0 THEN 'contaminated'
         WHEN pii.pii_total > {CUR_MAX_PII} THEN 'pii_heavy'
         WHEN coalesce(a.dup, 0) / (coalesce(a.n, 0) + 1e-9) >= {CUR_MAX_REP}
              OR coalesce(c.dup, 0) / (coalesce(c.n, 0) + 1e-9)
                 >= {CUR_MAX_REP} THEN 'repetitive'
         WHEN q.n_tokens < {CUR_MIN_TOKENS} THEN 'too_short'
         WHEN q.quality_score < {CUR_MIN_QUALITY} THEN 'low_quality'
         ELSE 'keep'
       END AS verdict,
       pii.redacted_md5
FROM q
JOIN pii ON pii.doc_id = q.doc_id
JOIN ev ON ev.doc_id = q.doc_id
LEFT JOIN g2s a ON a.doc_id = q.doc_id
LEFT JOIN lns c ON c.doc_id = q.doc_id
LEFT JOIN hits h ON h.doc_id = q.doc_id
""".replace("{STOP}", _STOP)


SNAP_THR = 1 << 47  # hash-carved "new crawl" = deterministic half


def q_corpus_drift(spark, sf_dir):
    """Source-mix drift report between the corpus and a hash-carved
    snapshot half: shares, ratio, quality delta, TVD terms."""
    from ...datapipe.corpus import corpus_drift
    from ...datapipe.text import hash48

    docs = _docs(spark, sf_dir)
    snap = docs.filter(
        hash48(F.concat(F.lit("snap|"), F.col("doc_id").cast("string")))
        < SNAP_THR
    )
    out = corpus_drift(docs, snap)
    return out.select(
        "source", "docs_base", "docs_snap",
        _rnd("doc_share_base", R).alias("doc_share_base"),
        _rnd("doc_share_snap", R).alias("doc_share_snap"),
        _rnd("tok_share_base", R).alias("tok_share_base"),
        _rnd("tok_share_snap", R).alias("tok_share_snap"),
        _rnd("share_ratio", R).alias("share_ratio"),
        _rnd("quality_delta", R).alias("quality_delta"),
        _rnd("tv_term", R).alias("tv_term"),
    )


# corpus drift — two source_stats stacks (baseline / hash-carved
# snapshot) joined full-outer with share windows; mirrors
# datapipe.corpus.corpus_drift (TVD terms, no transcendentals)
o_corpus_drift = f"""
WITH tb AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents
),
sb AS (SELECT doc_id, source, len(t) AS n_tokens, {_QUALITY} AS q FROM tb),
gb AS (
  SELECT source, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS toks,
         CAST(sum(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mq
  FROM sb GROUP BY 1
),
bb AS (
  SELECT source, docs, mq,
         docs / CAST(sum(docs) OVER () AS BIGINT) AS dsh,
         toks / CAST(sum(toks) OVER () AS BIGINT) AS tsh
  FROM gb
),
gs AS (
  SELECT source, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS toks,
         CAST(sum(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mq
  FROM sb
  WHERE CAST('0x' || substr(md5('snap|' || CAST(doc_id AS VARCHAR)), 1, 12)
             AS BIGINT) < {SNAP_THR}
  GROUP BY 1
),
ss AS (
  SELECT source, docs, mq,
         docs / CAST(sum(docs) OVER () AS BIGINT) AS dsh,
         toks / CAST(sum(toks) OVER () AS BIGINT) AS tsh
  FROM gs
)
SELECT coalesce(b.source, s.source) AS source,
       CAST(coalesce(b.docs, 0) AS BIGINT) AS docs_base,
       CAST(coalesce(s.docs, 0) AS BIGINT) AS docs_snap,
       round(coalesce(b.dsh, 0.0), {R}) AS doc_share_base,
       round(coalesce(s.dsh, 0.0), {R}) AS doc_share_snap,
       round(coalesce(b.tsh, 0.0), {R}) AS tok_share_base,
       round(coalesce(s.tsh, 0.0), {R}) AS tok_share_snap,
       round(coalesce(s.dsh, 0.0) / (coalesce(b.dsh, 0.0) + 1e-12), {R})
         AS share_ratio,
       round(coalesce(s.mq, 0.0) - coalesce(b.mq, 0.0), {R})
         AS quality_delta,
       round(abs(coalesce(s.dsh, 0.0) - coalesce(b.dsh, 0.0)) / 2.0, {R})
         AS tv_term
FROM bb b FULL OUTER JOIN ss s ON s.source = b.source
"""


TRAIN_EPOCHS = 2
TRAIN_SHARDS = 8


def q_training_order(spark, sf_dir):
    """Deterministic per-epoch training shuffle: content-hash shard +
    in-shard position for every (doc, epoch)."""
    from ...datapipe.sampling import training_order

    out = training_order(
        _docs(spark, sf_dir), n_epochs=TRAIN_EPOCHS, n_shards=TRAIN_SHARDS
    )
    return out.select("doc_id", "epoch", "shard", "pos")


# deterministic training order — mirrors datapipe.sampling.training_order
o_training_order = f"""
WITH d AS (
  SELECT doc_id, CAST(e.epoch AS INTEGER) AS epoch
  FROM documents,
       (SELECT unnest(generate_series(0, {TRAIN_EPOCHS - 1})) AS epoch) e
),
h AS (
  SELECT doc_id, epoch,
         CAST('0x' || substr(md5('ord|' || CAST(epoch AS VARCHAR) || '|'
                                 || CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) AS hh
  FROM d
)
SELECT doc_id, epoch,
       CAST(hh % {TRAIN_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY epoch, hh % {TRAIN_SHARDS}
                               ORDER BY hh, doc_id) AS INTEGER) AS pos
FROM h
"""


def q_corpus_to_batches(spark, sf_dir):
    """The END-TO-END training-data story in one query: prep funnel
    (quality/length/lang/exact-dup/transitive near-dup) → keep set →
    sequence packing into 512-token context windows.  What a corpus
    team runs to turn a raw lake into training batches."""
    from ...datapipe import corpus_prep
    from ...datapipe.packing import pack_stats

    docs = _docs(spark, sf_dir)
    kept = (
        corpus_prep(docs, jaccard_threshold=JACCARD_T)
        .filter(F.col("verdict") == "keep")
        .select("doc_id")
    )
    out = pack_stats(docs.join(kept, "doc_id"), ctx=PACK_CTX)
    return out.select(
        "source", "chunk_id", "n_docs", "n_tokens", "fill_ratio",
        "first_doc", "last_doc",
    )


# prep funnel composed with packing: kept docs only, same pack CTEs
o_corpus_to_batches = f"""
WITH kept AS (
  SELECT doc_id FROM ({o_corpus_prep}) WHERE verdict = 'keep'
),
d AS (
  SELECT dd.source, dd.doc_id,
         len(regexp_extract_all(lower(dd.text), '{{TOKRE}}')) AS n_tok
  FROM documents dd JOIN kept USING (doc_id)
),
o AS (
  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS end_off
  FROM d WHERE n_tok > 0
),
s AS (SELECT *, end_off - n_tok AS start_off FROM o),
e AS (
  SELECT source, doc_id, start_off, end_off,
         unnest(generate_series(start_off // {PACK_CTX},
                                (end_off - 1) // {PACK_CTX})) AS chunk_id
  FROM s
),
t AS (
  SELECT source, chunk_id, doc_id,
         least(end_off, (chunk_id + 1) * {PACK_CTX})
           - greatest(start_off, chunk_id * {PACK_CTX}) AS tok_in_chunk
  FROM e
)
SELECT source, chunk_id,
       count(*) AS n_docs,
       CAST(sum(tok_in_chunk) AS BIGINT) AS n_tokens,
       round(sum(tok_in_chunk) / {PACK_CTX}.0, {R}) AS fill_ratio,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM t GROUP BY 1, 2
""".replace("{TOKRE}", TOKEN_RE)


def q_corpus_to_batches_bpe(spark, sf_dir):
    """Token-EXACT batch materialization (r07 verdict item #7): the
    same prep funnel → keep set → concat-and-chunk pipeline as
    corpus_to_batches, but packing on LEARNED-BPE token counts — a
    64-merge tokenizer induced from the kept corpus itself
    (tokenize_bpe.bpe_learn_merges: distributed word count, driver
    merge loop over the vocab-sized table) and applied with the
    memoized Arrow encoder (bpe_encode_stats), so chunk boundaries
    land on MODEL tokens, not regex words.  Rows-only by declared
    design (the greedy merge loop is iterative, non-SQL); the pinned
    toy-corpus test fixes exact token counts and the batch-parity
    test ties Σ n_tokens to Σ per-doc BPE counts.

    100 TB shape: word-freq is one distributed groupBy capped at the
    vocab head; the merge loop (incremental pair-count index) touches
    only that dimension-sized table; encoding is mapInPandas with
    per-batch word memoization carrying ``source`` through the Arrow
    batches (packing then needs no second corpus scan); packing is the
    same per-shard window + explode as pack_chunks.  Only the
    doc_id-sized keep set is cached — the corpus text is scanned
    exactly twice (word-freq pass, encode pass), never materialized,
    which is the only cache that exists at 100 TB."""
    from ...datapipe import corpus_prep
    from ...datapipe.packing import pack_stats_from_counts
    from ...datapipe.tokenize_bpe import bpe_encode_stats, bpe_learn_merges
    from ...session import eager_cache

    docs = _docs(spark, sf_dir)
    # cache the ID-SIZED keep set (not the text!): the funnel's
    # near-dup pass runs once; each consumer re-reads the parquet scan
    # and broadcast-joins the cached ids — cheap, and the shape that
    # still works when the corpus doesn't fit in cluster memory
    kept = eager_cache(
        corpus_prep(docs, jaccard_threshold=JACCARD_T)
        .filter(F.col("verdict") == "keep")
        .select("doc_id")
    )
    kd = docs.join(F.broadcast(kept), "doc_id")
    merges = [
        (r["left"], r["right"])
        for r in bpe_learn_merges(kd, spark, n_merges=64)
        .orderBy("merge_rank")
        .collect()
    ]
    counts = bpe_encode_stats(kd, merges, keep_cols=("source",)).select(
        "doc_id", "source", "n_bpe_tokens"
    )
    out = pack_stats_from_counts(
        counts, ctx=PACK_CTX, count_col="n_bpe_tokens"
    )
    return out.select(
        "source", "chunk_id", "n_docs", "n_tokens", "fill_ratio",
        "first_doc", "last_doc",
    )


def q_length_buckets(spark, sf_dir):
    """Length-bucketed batching plan: per-bucket doc/token volume and
    padding-waste ratio — the fixed-shape-batch efficiency report."""
    from ...datapipe.packing import length_buckets

    out = length_buckets(_docs(spark, sf_dir))
    return out.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        "padded_tokens",
        _rnd("waste_ratio", R).alias("waste_ratio"),
    )


_BUCKET_CASE = " ".join(
    f"WHEN n_tokens <= {cap} THEN {cap}" for cap in LENGTH_BUCKET_CAPS
)

o_length_buckets = f"""
WITH {SQL_TOKS},
nt AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
bk AS (
  SELECT doc_id, n_tokens,
         CASE {_BUCKET_CASE} ELSE -1 END AS bucket
  FROM nt),
ag AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
  FROM bk GROUP BY 1)
SELECT bucket, n_docs, sum_tokens,
       CAST(CASE WHEN bucket > 0 THEN n_docs * bucket END AS BIGINT)
         AS padded_tokens,
       round(CASE WHEN bucket > 0
                  THEN 1.0 - sum_tokens / (n_docs * bucket) END, {R})
         AS waste_ratio
FROM ag
"""


def q_bpe_pair_counts(spark, sf_dir):
    """First BPE merge round: adjacent character-pair counts over the
    word-frequency table (the distributed phase of tokenizer training).
    Top 200 by (count desc, pair asc) — a deterministic set."""
    from ...datapipe.tokenize_bpe import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_n=200)


o_bpe_pair_counts = """
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents),
wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
pr AS (
  SELECT substr(word, CAST(t.i AS INT), 2) AS pair, freq
  FROM wf, unnest(generate_series(1, len(word)-1)) AS t(i)
  WHERE len(word) >= 2),
ag AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pr GROUP BY 1),
rk AS (SELECT pair, cnt,
              row_number() OVER (ORDER BY cnt DESC, pair) AS r
       FROM ag)
SELECT pair, cnt FROM rk WHERE r <= 200
"""


def q_bpe_merges(spark, sf_dir):
    """Full BPE training (50 merges): distributed word count + local
    greedy merge loop on the capped word table — the standard trainer
    architecture (HF tokenizers / SentencePiece).  The loop is
    iterative and non-SQL → rows-only gate; unit tests pin the merge
    sequence on a fixed corpus."""
    from ...datapipe.tokenize_bpe import bpe_learn_merges

    return bpe_learn_merges(_docs(spark, sf_dir), spark, n_merges=50)


def q_bpe_encode(spark, sf_dir):
    """The APPLY side of tokenizer training: learn 50 merges, then
    encode every document with them (broadcast merge table, Arrow
    batches, per-batch word memoization) — per-doc BPE token count and
    chars-per-token compression.  Python merge loop → rows-only gate;
    the greedy-apply core is unit-tested on pinned merges."""
    from ...datapipe.tokenize_bpe import bpe_encode_stats, bpe_learn_merges

    docs = _docs(spark, sf_dir)
    merges = [
        (r["left"], r["right"])
        for r in bpe_learn_merges(docs, spark, n_merges=50).collect()
    ]
    out = bpe_encode_stats(docs, merges)
    return out.select(
        "doc_id", "n_bpe_tokens", "n_words",
        _rnd("chars_per_token", R).alias("chars_per_token"),
    )


def q_mixture_schedule(spark, sf_dir):
    """Temperature-based (α=0.5) source mixing + epoch schedule at a
    2× token budget with a 4-epoch cap — the training-mix planner."""
    from ...datapipe.sampling import mixture_schedule

    return mixture_schedule(_docs(spark, sf_dir))


o_mixture_schedule = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS size
  FROM documents GROUP BY 1),
w AS (SELECT source, n_docs, size,
             round(sqrt(CAST(size AS DOUBLE)), 6) AS weight_raw
      FROM per),
tot AS (SELECT CAST(sum(CAST(weight_raw AS DECIMAL(38,12))) AS DOUBLE)
                 AS wsum,
               CAST(sum(size) AS BIGINT) AS tsize
        FROM w),
e AS (SELECT w.source, w.n_docs, w.size,
             w.weight_raw / tot.wsum AS p_alpha,
             least(4e0, (2e0 * CAST(tot.tsize AS DOUBLE))
                        * (w.weight_raw / tot.wsum)
                        / CAST(w.size AS DOUBLE)) AS epochs
      FROM w, tot),
e2 AS (SELECT *, round(epochs * CAST(size AS DOUBLE), 6)
                   AS effective_size
       FROM e),
et AS (SELECT CAST(sum(CAST(effective_size AS DECIMAL(38,12))) AS DOUBLE)
                AS esum
       FROM e2)
SELECT source, n_docs, size,
       round(p_alpha, {R}) AS p_alpha,
       round(epochs, {R}) AS epochs,
       effective_size,
       round(effective_size / et.esum, {R}) AS mix_share
FROM e2, et
"""


def q_bpe_encode_fixed(spark, sf_dir):
    """Hash-gated fixed twin of ``bpe_encode`` (r08 verdict item #6):
    apply the PINNED merge list ``_BPE_FIXED_MERGES`` with the
    PRODUCTION greedy lowest-rank-first encoder
    (``tokenize_bpe._encode_word``) — the ``bpe_merges_fixed``
    philosophy: the gate certifies the real code path, while the
    DuckDB oracle re-derives the encoding INDEPENDENTLY as
    ``_BPE_ENC_ROUNDS`` unrolled rounds of pure table algebra
    (``_bpe_encode_fixed_sql``), so a bug in either implementation
    breaks the integer-exact hash.

    Plan shape: the word explode + per-doc counts stay JVM-side; only
    the DISTINCT-word vocabulary (dimension-sized, never the corpus)
    runs through the Arrow-batched encoder UDF, and token counts
    broadcast-join back to the per-doc word occurrences.  (The r09
    first cut unrolled the apply loop into Catalyst column algebra
    too — semantically identical, kept as
    ``_bpe_encode_fixed_unrolled`` and pinned to this path in
    tests/test_trend_spectral_bpe.py — but 7 rounds x 16 merge
    literals of nested WHEN/fold expressions cost ~3 s of DRIVER-side
    plan compilation at any data size; the vocab UDF is
    plan-compile-free and produces the same exact integers.)"""
    from ...datapipe.tokenize_bpe import WORD_RE, _encode_word

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    wpd = words.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    ranks = {pair: i for i, pair in enumerate(_BPE_FIXED_MERGES)}

    _ntok = F.pandas_udf(
        lambda ws: ws.map(lambda w: len(_encode_word(w, ranks))), "long"
    )

    tok = (
        wpd.select("word")
        .distinct()
        .select("word", _ntok("word").alias("n_tok"))
    )
    return _bpe_counts_to_doc_stats(docs, wpd, tok)


def _bpe_encode_fixed_unrolled(spark, sf_dir):
    """The all-Catalyst form of the fixed-encode twin: the greedy
    lowest-rank-first apply loop unrolled to ``_BPE_ENC_ROUNDS``
    rounds of pure column algebra over the char-symbol array of each
    DISTINCT word — executable documentation that the apply IS
    SQL-expressible (the DuckDB oracle uses the same unrolling), and
    pinned integer-exact against the production path in
    tests/test_trend_spectral_bpe.py.  Not registered: the nested
    WHEN/fold expression tree costs ~3 s of driver-side plan
    compilation regardless of data size.

    Per round: rank every adjacent pair against the merge literals,
    take the array-min rank, and left-fold the matched merge through
    the array (the fold is bit-equivalent to the scan-and-skip apply:
    a merged token can never be the LEFT of its own rule in the same
    pass)."""
    from ...datapipe.tokenize_bpe import WORD_RE

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    wpd = words.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    vocab = wpd.select("word").distinct()
    enc = vocab.withColumn(
        "syms",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring(F.col("word"), i, 1),
        ),
    )

    def _case_chain(sel, default):
        """best-rank -> literal lookup as a when-chain."""
        expr = F.lit(default)
        for rank in range(len(_BPE_FIXED_MERGES) - 1, -1, -1):
            expr = F.when(
                F.col("best") == rank, F.lit(sel(rank))
            ).otherwise(expr)
        return expr

    def pair_rank(i):
        syms = F.col("syms")
        expr = F.lit(_BPE_NO_RANK)
        for r in range(len(_BPE_FIXED_MERGES) - 1, -1, -1):
            lft, rgt = _BPE_FIXED_MERGES[r]
            expr = F.when(
                (F.element_at(syms, i) == lft)
                & (F.element_at(syms, i + F.lit(1)) == rgt),
                F.lit(r),
            ).otherwise(expr)
        return expr

    for _ in range(_BPE_ENC_ROUNDS):
        syms = F.col("syms")
        enc = enc.withColumn(
            "best",
            F.when(
                F.size(syms) >= 2,
                F.array_min(
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1), pair_rank
                    )
                ),
            ).otherwise(F.lit(_BPE_NO_RANK)),
        )
        lft = _case_chain(lambda r: _BPE_FIXED_MERGES[r][0], "")
        rgt = _case_chain(lambda r: _BPE_FIXED_MERGES[r][1], "")
        mrg = _case_chain(
            lambda r: _BPE_FIXED_MERGES[r][0] + _BPE_FIXED_MERGES[r][1], ""
        )
        applied = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, t: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lft)
                & (t == rgt),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(mrg)
                ),
            ).otherwise(F.concat(acc, F.array(t))),
        )
        enc = enc.withColumn(
            "syms",
            F.when(F.col("best") < _BPE_NO_RANK, applied).otherwise(
                F.col("syms")
            ),
        ).drop("best")
    tok = enc.select("word", F.size("syms").cast("long").alias("n_tok"))
    return _bpe_counts_to_doc_stats(docs, wpd, tok)


o_bpe_encode_fixed = _bpe_encode_fixed_sql()


# 16 unrolled trainer rounds (r09 verdict item #4: widened from 8) —
# the gated vocabulary now equals the pinned 16-merge tokenizer the
# encode twin applies (_BPE_FIXED_MERGES), closing the loop between
# the trainer gate and the encoder gate; test_trend_spectral_bpe
# asserts the trainer's 16 merges ARE the pinned list.
_BPE_TRAIN_ROUNDS = 16


def q_bpe_merges_fixed(spark, sf_dir):
    """Hash-gated twin of the BPE TRAINER loop: the PRODUCTION trainer
    (``bpe_learn_merges`` — distributed word count, incremental-index
    merge loop) run for ``_BPE_TRAIN_ROUNDS`` merges, gated against a
    DuckDB oracle that re-derives the same merges as pure unrolled SQL
    (per round: pair explode → integer-count argmax with the
    (count desc, pair asc) tie-break → fold apply, the ``count >= 2``
    stop rule as a validity flag).  ALL-INTEGER, so the gate is exact
    by construction — and because the Spark side IS the production
    code path, a hash match certifies the real trainer, not a
    SQL re-expression of it.

    (A first cut expressed the Spark side as the same unrolled
    DataFrame rounds; Catalyst plans are trees, so round k's double
    reference to round k-1 duplicated lineage exponentially, and even
    per-round caching left 30-50 s of cache-manager plan matching —
    the driver-side incremental loop over the vocab-capped word table
    is the right engine shape, exactly as ``bpe_learn_merges``
    documents.  The trainer's ``max_words=30000`` vocab cap is a
    no-op at every test SF, matching the cap-free oracle.)

    The full 50-merge trainer stays rows-only (``bpe_merges``)."""
    from ...datapipe.tokenize_bpe import bpe_learn_merges

    return bpe_learn_merges(
        _docs(spark, sf_dir), spark, n_merges=_BPE_TRAIN_ROUNDS
    )


def _bpe_merges_fixed_sql() -> str:
    """DuckDB mirror: per-round CTE blocks (pair explode over
    generate_series, integer count argmax via min-struct with the
    (-cnt, la, ra) key, cross-join apply fold).  Every per-round CTE
    is MATERIALIZED: round k references round k-1 twice (the apply
    fold and the merge-row output), so plain inlining doubles the
    expansion per round — at 8 rounds that was a tolerable 2⁸ re-scan
    of the documents parquet, at 16 rounds the 2¹⁶ inlined scans blow
    the open-file limit before the query even runs."""
    rounds = []
    for rank in range(_BPE_TRAIN_ROUNDS):
        p = f"w{rank}"
        rounds.append(f"""
c{rank} AS MATERIALIZED (
  SELECT syms[i] AS la, syms[i+1] AS ra, CAST(sum(freq) AS BIGINT) AS cnt
  FROM {p}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2),
b{rank} AS MATERIALIZED (
  SELECT min({{'nc': -cnt, 'l': la, 'r': ra}}) AS b FROM c{rank}),
bb{rank} AS MATERIALIZED (
  SELECT b.l AS bl, b.r AS br, -b.nc AS bc,
         b IS NOT NULL AND -b.nc >= 2 AS ok
  FROM b{rank}),
w{rank + 1} AS MATERIALIZED (
  SELECT freq,
         CASE WHEN ok
              THEN list_reduce(
                     list_transform(syms, t -> [t]),
                     (a, x) -> CASE
                       WHEN len(a) > 0 AND a[-1] = bl AND x[1] = br
                       THEN list_append(a[1:len(a)-1], bl || br)
                       ELSE list_concat(a, x) END)
              ELSE syms END AS syms
  FROM {p} CROSS JOIN bb{rank})""")
    round_sql = ",".join(rounds)
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({rank} AS INT) AS merge_rank,"
        f" bl AS \"left\", br AS \"right\", bl || br AS merged,"
        f" CAST(bc AS BIGINT) AS pair_count FROM bb{rank} WHERE ok"
        for rank in range(_BPE_TRAIN_ROUNDS)
    )
    return f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents),
wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
w0 AS (
  SELECT freq, regexp_extract_all(word, '.') AS syms FROM wf),
{round_sql}
{merge_rows}
"""


o_bpe_merges_fixed = _bpe_merges_fixed_sql()


def q_corpus_to_batches_bpe_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the END-TO-END token-exact pipeline
    (``corpus_to_batches_bpe``): the same prep funnel → keep set →
    token-exact packing, but encoding with the PINNED tokenizer
    (``_BPE_FIXED_MERGES``) through the unrolled table-algebra encoder
    instead of the learned-merge Arrow loop — every stage
    SQL-expressible, so the driver's value hash covers the full
    funnel→encode→pack composition.  The learned-tokenizer variant
    stays rows-only; the parity test pins this twin exactly equal to
    the production path (Arrow encoder + pack_stats_from_counts) run
    with the same pinned merges."""
    from ...datapipe import corpus_prep
    from ...datapipe.packing import pack_stats_from_counts
    from ...session import eager_cache

    docs = _docs(spark, sf_dir)
    kept = eager_cache(
        corpus_prep(docs, jaccard_threshold=JACCARD_T)
        .filter(F.col("verdict") == "keep")
        .select("doc_id")
    )
    counts = q_bpe_encode_fixed(spark, sf_dir)
    src = (
        docs.select("doc_id", "source")
        .join(F.broadcast(kept), "doc_id")
        .join(counts.select("doc_id", "n_bpe_tokens"), "doc_id")
    )
    out = pack_stats_from_counts(
        src, ctx=PACK_CTX, count_col="n_bpe_tokens"
    )
    return out.select(
        "source", "chunk_id", "n_docs", "n_tokens", "fill_ratio",
        "first_doc", "last_doc",
    )


def _corpus_to_batches_bpe_fixed_sql() -> str:
    """kept CTE (prep funnel) ∘ pinned-merge encode CTEs ∘ the
    corpus_to_batches pack CTEs, with BPE counts as n_tok."""
    encode_sql = _bpe_encode_fixed_sql()
    return f"""
WITH kept AS (
  SELECT doc_id FROM ({o_corpus_prep}) WHERE verdict = 'keep'
),
bpe AS (
  SELECT doc_id, n_bpe_tokens FROM ({encode_sql})
),
d AS (
  SELECT dd.source, dd.doc_id, b.n_bpe_tokens AS n_tok
  FROM documents dd
  JOIN kept USING (doc_id)
  JOIN bpe b USING (doc_id)
),
o AS (
  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS end_off
  FROM d WHERE n_tok > 0
),
s AS (SELECT *, end_off - n_tok AS start_off FROM o),
e AS (
  SELECT source, doc_id, start_off, end_off,
         unnest(generate_series(start_off // {PACK_CTX},
                                (end_off - 1) // {PACK_CTX})) AS chunk_id
  FROM s
),
t AS (
  SELECT source, chunk_id, doc_id,
         least(end_off, (chunk_id + 1) * {PACK_CTX})
           - greatest(start_off, chunk_id * {PACK_CTX}) AS tok_in_chunk
  FROM e
)
SELECT source, chunk_id,
       count(*) AS n_docs,
       CAST(sum(tok_in_chunk) AS BIGINT) AS n_tokens,
       round(sum(tok_in_chunk) / {PACK_CTX}.0, {R}) AS fill_ratio,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM t GROUP BY 1, 2
"""


o_corpus_to_batches_bpe_fixed = _corpus_to_batches_bpe_fixed_sql()


IMP_FRAC = 0.1
IMP_THR = int(IMP_FRAC * (1 << 48))
IMP_BUCKETS = 4096


def q_importance_select(spark, sf_dir):
    """DSIR-style importance-ratio data selection, hash-gated: score
    each raw doc by its hashed-unigram likelihood ratio against a
    hash-carved target split — integer numerators, one IEEE division,
    ``selected = score > 1`` (see datapipe.sampling.importance_weights
    for the rational form of Xie et al. 2023's log-weight)."""
    from ...datapipe.sampling import importance_weights

    out = importance_weights(
        _docs(spark, sf_dir), target_frac=IMP_FRAC, n_buckets=IMP_BUCKETS
    )
    return out.select(
        "doc_id", "n_tokens", "t_num", "r_num",
        _rnd("score", R).alias("score"),
        "selected",
    )


o_importance_select = f"""
WITH {{SQL_TOKS}},
tgt AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('target|' || CAST(doc_id AS VARCHAR)),
                             1, 12) AS BIGINT) < {{IMP_THR}} AS is_t
  FROM documents),
tok AS (
  SELECT t.doc_id, g.is_t,
         CAST('0x' || substr(md5(unnest(t.t)), 1, 12) AS BIGINT)
           % {{IMP_BUCKETS}} AS b
  FROM toks t JOIN tgt g USING (doc_id)),
dc AS (SELECT doc_id, is_t, b, count(*) AS c FROM tok GROUP BY 1, 2, 3),
prof AS (
  SELECT b,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tg,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rg
  FROM tok GROUP BY 1),
tot AS (SELECT sum(tg) AS t_tot, sum(rg) AS r_tot FROM prof),
sc AS (
  SELECT d.doc_id,
         sum(d.c) AS n_tokens,
         sum(d.c * p.tg) AS t_num,
         sum(d.c * p.rg) AS r_num
  FROM dc d JOIN prof p USING (b)
  WHERE NOT d.is_t GROUP BY 1)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.t_num AS BIGINT) AS t_num,
       CAST(s.r_num AS BIGINT) AS r_num,
       round(CAST(s.t_num AS DOUBLE) * CAST(t.r_tot AS DOUBLE)
             / nullif(CAST(s.r_num AS DOUBLE) * CAST(t.t_tot AS DOUBLE),
                      0.0), {{R}}) AS score,
       CAST(CASE WHEN CAST(s.t_num AS DOUBLE) * CAST(t.r_tot AS DOUBLE)
                      / nullif(CAST(s.r_num AS DOUBLE)
                               * CAST(t.t_tot AS DOUBLE), 0.0) > 1.0
            THEN 1 ELSE 0 END AS INT) AS selected
FROM sc s CROSS JOIN tot t
""".format(SQL_TOKS=SQL_TOKS, IMP_THR=IMP_THR, IMP_BUCKETS=IMP_BUCKETS, R=R)
