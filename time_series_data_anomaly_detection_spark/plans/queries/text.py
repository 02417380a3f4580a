"""Training-data text statistics over ``documents``: ingestion, per-doc and
per-source profiles, n-grams, repetition, PII, quality scores, chunking
and multimodal frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...datapipe import (
    as_binary_payload,
    doc_stats,
    extract_features,
    lang_id,
    source_stats,
    top_ngrams,
)
from ...datapipe.text import TOKEN_RE
from ...datapipe.decontam import EMAIL_RE, IPV4_RE, SSN_RE
from ...datapipe.corpus import VOCAB_KS
from ._shared import (
    R,
    SQL_TOKS,
    _BEST,
    _LANGS_ASC,
    _MARKER_SCORES,
    _QUALITY,
    _STOP,
    _docs,
    _rnd,
)


def q_doc_stats(spark, sf_dir):
    out = doc_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_tokens", "n_unique_tokens",
        _rnd("stopword_ratio", R).alias("stopword_ratio"),
        _rnd("unique_ratio", R).alias("unique_ratio"),
        _rnd("mean_token_len", R).alias("mean_token_len"),
        _rnd("quality_score", R).alias("quality_score"),
    )


o_doc_stats = f"""
WITH {SQL_TOKS},
st AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_distinct(t)) AS n_unique_tokens,
         len(list_filter(t, x -> x IN ({_STOP}))) / (len(t) + 1e-9)
           AS stopword_ratio,
         len(list_distinct(t)) / (len(t) + 1e-9) AS unique_ratio,
         list_sum(list_transform(t, x -> strlen(x))) / (len(t) + 1e-9)
           AS mean_token_len
  FROM toks
)
SELECT doc_id, n_tokens, n_unique_tokens,
       round(stopword_ratio, {R}) AS stopword_ratio,
       round(unique_ratio, {R}) AS unique_ratio,
       round(coalesce(mean_token_len, 0.0), {R}) AS mean_token_len,
       round(least(n_tokens / 50.0, 1.0) * 0.4
             + least(stopword_ratio * 5.0, 1.0) * 0.3
             + unique_ratio * 0.3, {R}) AS quality_score
FROM st
"""


def q_lang_id(spark, sf_dir):
    out = lang_id(_docs(spark, sf_dir))
    return out.select("doc_id", "lang_pred", "lang_score")


_PICK = " ".join(
    f"WHEN s_{lang} = best THEN '{lang}'" for lang in _LANGS_ASC
)

o_lang_id = f"""
WITH {SQL_TOKS},
sc AS (
  SELECT doc_id,
         {_MARKER_SCORES}
  FROM toks
),
best AS (SELECT *, {_BEST} AS best FROM sc)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und' {_PICK} END AS lang_pred,
       best AS lang_score
FROM best
"""


def q_vocab_stats(spark, sf_dir):
    """Per-source vocabulary profile: doc/token/type/hapax counts plus
    type-token and hapax ratios — the corpus-health diagnostics
    (vocabulary collapse = over-dedup; hapax explosion = OCR noise)
    beside corpus_drift.  Pure integer counting over the shared
    tokenizer; two-stage aggregate with map-side combine."""
    from ...datapipe.text import vocab_stats

    out = vocab_stats(_docs(spark, sf_dir))
    return out.select(
        "source", "n_docs", "n_tokens", "n_types", "n_hapax",
        "top_token_count",
        _rnd("type_token_ratio", R).alias("type_token_ratio"),
        _rnd("hapax_ratio", R).alias("hapax_ratio"),
    )


o_vocab_stats = f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
  FROM documents),
tc AS (
  SELECT source, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
pg AS (
  SELECT source, count(*) AS n_types,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax,
         max(cnt) AS top_token_count
  FROM tc GROUP BY 1),
dc AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT p.source, d.n_docs, p.n_tokens, p.n_types, p.n_hapax,
       p.top_token_count,
       round(p.n_types / p.n_tokens, {R}) AS type_token_ratio,
       round(p.n_hapax / p.n_types, {R}) AS hapax_ratio
FROM pg p JOIN dc d USING (source)
"""


def q_jsonl_ingest(spark, sf_dir):
    """Raw-corpus JSONL ingestion, round-tripped and hash-gated.

    The fixture IS derived from the sf parquet (tiny; rewritten
    deterministically on every call): documents → Spark JSONL sink
    with renamed fields (``body``/``src``) and a NULL-source shard
    (every ``doc_id % 7 == 0`` row loses its source) → read back via
    :func:`datapipe.io.read_jsonl_corpus` with content-derived ids.
    The oracle derives the same ids directly from the ``documents``
    view, so the gate checks the full write→parse→normalize path:
    field mapping, NULL-source coalescing inside the id hash (the r10
    ADVICE collision bug), ``n_chars``, and id determinism across the
    round trip."""
    import os as _os
    import tempfile as _tempfile

    from ...datapipe.io import read_jsonl_corpus

    # path is per-Spark-application (r11 ADVICE: a fixed shared path
    # races concurrent gate/bench processes on the same SF — one
    # overwrites while another reads)
    fixture = _os.path.join(
        _tempfile.gettempdir(),
        "tsdad_jsonl_gate_"
        + _os.path.basename(_os.path.normpath(sf_dir))
        + "_" + spark.sparkContext.applicationId,
    )
    (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("text").alias("body"),
            F.when(F.col("doc_id") % 7 != 0, F.col("source")).alias("src"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .json(fixture)
    )
    docs = read_jsonl_corpus(
        spark, fixture, text_field="body", source_field="src"
    )
    return docs.select("doc_id", "source", "n_chars")


# jsonl_ingest: the Spark side round-trips documents through a JSONL
# sink + read_jsonl_corpus; the oracle derives the expected output
# DIRECTLY from the parquet view with the same id recipe (md5 over
# coalesce(source,'') || \\x1f || text, first 15 hex digits → long) —
# so any drift in the write/parse/normalize path breaks the hash.
o_jsonl_ingest = """
WITH base AS (
  SELECT CASE WHEN doc_id % 7 <> 0 THEN source END AS src, text
  FROM documents
  WHERE text IS NOT NULL
)
SELECT CAST('0x' || substr(md5(coalesce(src, '') || chr(31) || text), 1, 15)
            AS BIGINT) AS doc_id,
       src AS source,
       CAST(length(text) AS INT) AS n_chars
FROM base
"""


def q_text_ingest(spark, sf_dir):
    """One-doc-per-file corpus ingestion, round-tripped and hash-gated
    (the JSONL sibling's recipe applied to :func:`read_text_corpus`,
    the last ingest surface that was unit-only — r11 verdict #3).

    Fixture: documents → Spark text sink partitioned by ``doc_id`` (one
    directory per doc, exactly one ``part-*.txt`` inside — a pure
    Spark write, no driver loop) → read back through the ``binaryFile``
    scan + UTF-8 decode + normalize path.  The text sink appends one
    ``\\n`` per row, so the loaded text is ``text || '\\n'`` — the
    oracle derives ``md5(text || chr(10))`` and ``length+1`` directly
    from the ``documents`` view, which pins the full
    write→list→decode→normalize chain byte-for-byte.  ``doc_id`` and
    ``source`` are path-derived here (absolute fixture paths, not
    oracle-stable), so the gate projects the content digest instead —
    id derivation is already hash-gated by ``jsonl_ingest``.
    """
    import os as _os
    import tempfile as _tempfile

    from ...datapipe.io import read_text_corpus

    fixture = _os.path.join(
        _tempfile.gettempdir(),
        "tsdad_text_gate_"
        + _os.path.basename(_os.path.normpath(sf_dir))
        + "_" + spark.sparkContext.applicationId,
    )
    # deterministic 1-in-29 slice: one FILE per doc means fixture cost
    # scales with doc count (sf0.1 unsliced = 5k files ≈ 64 s warm —
    # file-creation bound, not a plan property); ~17 files at the gate
    # SF still exercise every step of the path
    (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 29 == 0))
        .select("doc_id", "text")
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(fixture)
    )
    loaded = read_text_corpus(spark, fixture, glob="*.txt")
    return loaded.select(
        F.md5("text").alias("content_md5"),
        F.col("n_chars"),
    )


# text_ingest: the Spark side round-trips documents through a
# partitioned text sink + read_text_corpus (binaryFile scan + UTF-8
# decode); the text sink appends '\n' per row, so the oracle hashes
# text || chr(10) straight off the parquet view.
o_text_ingest = """
SELECT md5(text || chr(10)) AS content_md5,
       CAST(length(text) + 1 AS INT) AS n_chars
FROM documents
WHERE text IS NOT NULL AND doc_id % 29 = 0
"""


def q_distinctive_terms(spark, sf_dir):
    """Per-source distinctive terms: rational tf-idf (tf·N/df — the
    log-free form that preserves ordering and hashes cross-engine),
    min_df=2, top-10 per source with token tie-break."""
    from ...datapipe.corpus import distinctive_terms

    out = distinctive_terms(_docs(spark, sf_dir), top_k=10, min_df=2)
    return out.select(
        "source", "term_rank", "token", "tf", "df",
        _rnd("score", R).alias("score"),
    )


o_distinctive_terms = f"""
WITH toks AS (
  SELECT source, doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
  FROM documents),
tf AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (
  SELECT token, count(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
nd AS (SELECT count(*) AS n FROM documents),
sc AS (
  SELECT t.source, t.token, t.tf, d.df,
         t.tf * nd.n / d.df AS score
  FROM tf t JOIN dfq d USING (token) CROSS JOIN nd
  WHERE d.df >= 2),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, token) AS term_rank
  FROM sc)
SELECT source, term_rank, token, tf, df, round(score, {R}) AS score
FROM rk WHERE term_rank <= 10
"""


def q_compression_ratio(spark, sf_dir):
    """Per-doc zlib compression ratio (the Gopher-adjacent long-range
    repetition/quality signal) — rows-only by declared design (zlib is
    not SQL-expressible); values pinned by a unit test on templated vs
    incompressible text.  mapInPandas projection, zero shuffles."""
    from ...datapipe.text import compression_ratio

    out = compression_ratio(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_bytes", "n_compressed",
        _rnd("compression_ratio", R).alias("compression_ratio"),
    )


def q_source_concentration(spark, sf_dir):
    """Gini concentration of docs/tokens across sources (sorted-
    cumulative rational form — hash-exact): the source-imbalance
    number behind the mixture planner."""
    from ...datapipe.corpus import source_concentration

    out = source_concentration(_docs(spark, sf_dir))
    return out.select(
        "n_sources", "total_docs", "total_tokens",
        _rnd("gini_docs", R).alias("gini_docs"),
        _rnd("gini_tokens", R).alias("gini_tokens"),
    )


o_source_concentration = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(lower(text), '{TOKEN_RE}')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
rd AS (
  SELECT *, row_number() OVER (ORDER BY n_docs ASC, source ASC)
         AS rk FROM per),
rt AS (
  SELECT *, row_number() OVER (ORDER BY n_tokens ASC, source ASC)
         AS rk FROM per),
gd AS (
  SELECT count(*) AS n_sources,
         CAST(sum(n_docs) AS BIGINT) AS total_docs,
         2.0 * sum(rk * n_docs) / (count(*) * sum(n_docs))
           - (count(*) + 1.0) / count(*) AS gini_docs
  FROM rd),
gt AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         2.0 * sum(rk * n_tokens) / (count(*) * sum(n_tokens))
           - (count(*) + 1.0) / count(*) AS gini_tokens
  FROM rt)
SELECT gd.n_sources, gd.total_docs, gt.total_tokens,
       round(gd.gini_docs, {R}) AS gini_docs,
       round(gt.gini_tokens, {R}) AS gini_tokens
FROM gd CROSS JOIN gt
"""


def q_top_ngrams(spark, sf_dir):
    out = top_ngrams(_docs(spark, sf_dir), n=2, k=20)
    return out.select("rank", "ngram", "count", "doc_freq")


o_top_ngrams = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKRE}') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> array_to_string(t[i:i+1], ' '))) AS ngram
  FROM toks
),
counts AS (
  SELECT ngram, count(*) AS count, count(DISTINCT doc_id) AS doc_freq
  FROM grams GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY count DESC, ngram ASC) AS rank
  FROM counts
)
SELECT rank, ngram, count, doc_freq FROM ranked WHERE rank <= 20
""".replace("{TOKRE}", TOKEN_RE)


def q_source_stats(spark, sf_dir):
    out = source_stats(_docs(spark, sf_dir))
    return out.select(
        "source", "n_docs", "total_tokens",
        _rnd("mean_tokens", R).alias("mean_tokens"),
        _rnd("mean_quality", R).alias("mean_quality"),
        "min_tokens", "max_tokens",
    )


o_source_stats = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents
),
st AS (
  SELECT doc_id, source, len(t) AS n_tokens, {_QUALITY} AS quality
  FROM toks
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(n_tokens) / count(*), {R}) AS mean_tokens,
       round(CAST(sum(CAST(quality AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_quality,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
FROM st GROUP BY 1
"""


def q_multimodal_features(spark, sf_dir):
    payload = as_binary_payload(_docs(spark, sf_dir))
    out = extract_features(payload)
    return out.select(
        "doc_id", "frame_id", "n_frames", "byte_sum",
        _rnd("f_mean", R).alias("f_mean"),
        _rnd("f_std", R).alias("f_std"),
        _rnd("f_max", R).alias("f_max"),
    )


# multimodal: frames are 64-byte slices of the UTF-8 payload
# (documents are ASCII so code points == bytes); stats over the
# zero-padded 64-wide frame, matching _fake_decode exactly.
o_multimodal_features = f"""
WITH frames AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(ceil(strlen(text) / 64.0) AS INT) - 1))
           AS frame_id,
         CAST(ceil(strlen(text) / 64.0) AS INT) AS n_frames,
         CAST(list_sum(list_transform(regexp_extract_all(text, '.'),
                                      c -> ord(c))) AS BIGINT)
           AS byte_sum,
         text
  FROM documents
),
fb AS (
  SELECT doc_id, frame_id, n_frames, byte_sum,
         list_transform(regexp_extract_all(substr(text, frame_id * 64 + 1, 64), '.'),
                        c -> ord(c)) AS fbytes
  FROM frames
),
st AS (
  SELECT doc_id, frame_id, n_frames, byte_sum,
         list_sum(fbytes) / 64.0 AS f_mean,
         list_sum(list_transform(fbytes, x -> x * x)) / 64.0 AS f_sq,
         list_max(fbytes) AS f_max
  FROM fb
)
SELECT doc_id, frame_id, n_frames, byte_sum,
       round(f_mean, {R}) AS f_mean,
       round(sqrt(greatest(f_sq - f_mean * f_mean, 0.0)), {R}) AS f_std,
       round(CAST(f_max AS DOUBLE), {R}) AS f_max
FROM st
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition signals (dup-line/-gram and
    top-gram fractions) — zero-shuffle sort+fold per row."""
    from ...datapipe.decontam import repetition_stats

    out = repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_2grams",
        _rnd("dup_2gram_frac", R).alias("dup_2gram_frac"),
        _rnd("top_2gram_frac", R).alias("top_2gram_frac"),
        _rnd("dup_3gram_frac", R).alias("dup_3gram_frac"),
        "n_lines",
        _rnd("dup_line_frac", R).alias("dup_line_frac"),
    )


# within-doc repetition signals — mirrors datapipe.decontam.
# repetition_stats (fractions over gram/line counts; dup = members of
# any value occurring >= twice)
o_repetition_stats = f"""
WITH {SQL_TOKS},
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks
),
g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
g2s AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, CAST(max(c) AS BIGINT) AS best,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM g2c GROUP BY 1
),
g3 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                               i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks
),
g3c AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
g3s AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM g3c GROUP BY 1
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
)
SELECT d.doc_id,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_2grams,
       round(coalesce(a.dup, 0) / (coalesce(a.n, 0) + 1e-9), {R})
         AS dup_2gram_frac,
       round(coalesce(a.best, 0) / (coalesce(a.n, 0) + 1e-9), {R})
         AS top_2gram_frac,
       round(coalesce(b.dup, 0) / (coalesce(b.n, 0) + 1e-9), {R})
         AS dup_3gram_frac,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_lines,
       round(coalesce(c.dup, 0) / (coalesce(c.n, 0) + 1e-9), {R})
         AS dup_line_frac
FROM documents d
LEFT JOIN g2s a ON a.doc_id = d.doc_id
LEFT JOIN g3s b ON b.doc_id = d.doc_id
LEFT JOIN lns c ON c.doc_id = d.doc_id
"""


def q_pii_scan(spark, sf_dir):
    """PII detection + redaction (e-mail / IPv4 / SSN-shaped): per-doc
    counts plus the redacted text's length and digest."""
    from ...datapipe.decontam import pii_scan

    out = pii_scan(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_ids", "pii_total",
        "redacted_len", "redacted_md5",
    )


# PII scan/redact — mirrors datapipe.decontam.pii_scan (same patterns,
# same fixed redaction order; DuckDB needs the 'g' flag Spark implies)
o_pii_scan = f"""
WITH red AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(regexp_replace(text,
           '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
           '{SSN_RE}', '<ID>', 'g') AS r
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{SSN_RE}')) AS BIGINT) AS n_ids,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}'))
            + len(regexp_extract_all(text, '{IPV4_RE}'))
            + len(regexp_extract_all(text, '{SSN_RE}')) AS BIGINT) AS pii_total,
       CAST(length(r) AS BIGINT) AS redacted_len,
       md5(r) AS redacted_md5
FROM red
"""


CHUNK_CTX = 64
CHUNK_OVERLAP = 16


def q_chunk_documents(spark, sf_dir):
    """Per-doc sliding-window chunking with overlap (the long-document
    path next to concat-and-chunk packing); chunk content pinned by
    its 48-bit hash."""
    from ...datapipe.packing import chunk_documents

    out = chunk_documents(
        _docs(spark, sf_dir), ctx=CHUNK_CTX, overlap=CHUNK_OVERLAP
    )
    return out.select(
        "doc_id", "chunk_id", "start_tok", "end_tok",
        "n_tok_in_chunk", "chunk_hash",
    )


# sliding-window doc chunking — mirrors datapipe.packing.chunk_documents
_CHUNK_STRIDE = CHUNK_CTX - CHUNK_OVERLAP
_CHUNK_END = f"least(chunk_id * {_CHUNK_STRIDE} + {CHUNK_CTX}, n)"

o_chunk_documents = f"""
WITH {SQL_TOKS},
d AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= {CHUNK_CTX} THEN 1
              ELSE CAST(ceil((len(t) - {CHUNK_OVERLAP}) * 1.0
                             / {_CHUNK_STRIDE}) AS INT) END AS nc
  FROM toks
),
c AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0, nc - 1)) AS chunk_id
  FROM d
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
       CAST({_CHUNK_END} AS BIGINT) AS end_tok,
       CAST({_CHUNK_END} - (chunk_id * {_CHUNK_STRIDE} + 1) + 1 AS BIGINT)
         AS n_tok_in_chunk,
       CAST('0x' || substr(md5(array_to_string(
              t[chunk_id * {_CHUNK_STRIDE} + 1 : {_CHUNK_END}], ' ')), 1, 12)
            AS BIGINT) AS chunk_hash
FROM c
"""


def q_multimodal_sampled(spark, sf_dir):
    """Frame sampling: decode + extract every 2nd frame only — the
    stride knob every video/audio pipeline uses to trade coverage for
    decode cost; skipped frames never reach the feature extractor."""
    payload = as_binary_payload(_docs(spark, sf_dir))
    out = extract_features(payload, frame_stride=2)
    return out.select(
        "doc_id", "frame_id", "n_frames", "byte_sum",
        _rnd("f_mean", R).alias("f_mean"),
        _rnd("f_std", R).alias("f_std"),
        _rnd("f_max", R).alias("f_max"),
    )


# frame-sampled variant: every 2nd frame (stride applied inside the
# decode UDF, so skipped frames are never feature-extracted)
o_multimodal_sampled = f"""
SELECT * FROM ({o_multimodal_features}) WHERE frame_id % 2 = 0
"""


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary-coverage curve: token-occurrence coverage of the
    top-K token types for K in (100, 1k, 10k) — the tokenizer
    vocab-sizing report."""
    from ...datapipe.corpus import vocab_coverage

    out = vocab_coverage(_docs(spark, sf_dir))
    return out.select(
        "k",
        "n_vocab",
        "total_tokens",
        "covered_tokens",
        _rnd("coverage", R).alias("coverage"),
    )


_VOCAB_KS_SQL = ", ".join(str(k) for k in VOCAB_KS)

o_vocab_coverage = f"""
WITH {SQL_TOKS},
tk AS (SELECT unnest(t) AS tok FROM toks),
freq AS (SELECT tok, count(*) AS freq FROM tk GROUP BY 1),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rk
  FROM freq),
totals AS (
  SELECT count(*) AS n_vocab, CAST(sum(freq) AS BIGINT) AS total_tokens
  FROM ranked),
ks AS (SELECT unnest([{_VOCAB_KS_SQL}]) AS k),
cov AS (
  SELECT ks.k, CAST(sum(r.freq) AS BIGINT) AS covered_tokens
  FROM ks LEFT JOIN ranked r ON r.rk <= ks.k
  GROUP BY 1)
SELECT c.k, t.n_vocab, t.total_tokens,
       coalesce(c.covered_tokens, 0) AS covered_tokens,
       round(coalesce(c.covered_tokens, 0) * 1.0 / t.total_tokens, {R})
         AS coverage
FROM cov c, totals t
"""


def q_quality_classifier(spark, sf_dir):
    """Frozen-weight linear quality classifier margin over the
    doc_stats features — the model-based quality filter applied
    map-side (dyadic weights, fixed-order dot product)."""
    from ...datapipe.corpus import quality_classifier

    out = quality_classifier(_docs(spark, sf_dir))
    return out.select(
        "doc_id", _rnd("margin", R).alias("margin"), "keep"
    )


o_quality_classifier = f"""
WITH {SQL_TOKS},
st AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_filter(t, x -> x IN ({_STOP}))) / (len(t) + 1e-9)
           AS stopword_ratio,
         len(list_distinct(t)) / (len(t) + 1e-9) AS unique_ratio,
         list_sum(list_transform(t, x -> strlen(x))) / (len(t) + 1e-9)
           AS mean_token_len
  FROM toks),
mg AS (
  SELECT doc_id,
         -1.5 + 2.0 * least(n_tokens / 256.0, 1.0)
              + 1.5 * least(stopword_ratio * 4.0, 1.0)
              + 1.25 * unique_ratio
              + 0.25 * least(coalesce(mean_token_len, 0.0) / 8.0, 1.0)
           AS margin
  FROM st)
SELECT doc_id, round(margin, {R}) AS margin,
       CAST(CASE WHEN margin > 0.0 THEN 1 ELSE 0 END AS INT) AS keep
FROM mg
"""


def q_bigram_surprise(spark, sf_dir):
    """Model-based quality scoring: per-doc arithmetic-mean inverse
    add-one-smoothed bigram probability under the corpus's own bigram
    LM — log-free rational form (sums of integer ratios), hash-gated.
    The statistical complement to the heuristic doc_stats /
    quality_classifier filters and to DSIR's target-ratio weights."""
    from ...datapipe.text import bigram_surprise

    out = bigram_surprise(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_bigrams",
        _rnd("surprise", R).alias("surprise"),
    )


o_bigram_surprise = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(t[i:i+1], ' '))) AS bg
  FROM toks),
occ AS (SELECT doc_id, bg, count(*) AS m FROM bg GROUP BY 1, 2),
model AS (SELECT bg, CAST(sum(m) AS BIGINT) AS c12 FROM occ GROUP BY 1),
c1t AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM model GROUP BY 1),
vt AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM toks)),
sc AS (
  SELECT o.doc_id, o.m,
         (c.c1 + v.v) / (mo.c12 + 1) AS inv_p
  FROM occ o
  JOIN model mo USING (bg)
  JOIN c1t c ON c.w1 = split_part(o.bg, ' ', 1)
  CROSS JOIN vt v)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       round(CAST(sum(CAST(m * inv_p AS DECIMAL(38,12))) AS DOUBLE)
             / sum(m), {R}) AS surprise
FROM sc GROUP BY 1
"""
