"""Corpus hygiene operators: benchmark decontamination, intra-document
repetition signals, and PII scan/redaction.

These are the three corpus-quality steps a pretraining pipeline runs
between "raw lake" and "training mix" that the dedup/quality families
don't already cover:

- :func:`decontaminate` — n-gram overlap against a held-out eval set
  (the standard test-set-leak guard: a training doc sharing any long
  word n-gram with an eval doc is flagged).
- :func:`repetition_stats` — Gopher-style (Rae et al. 2021, §A1.1)
  within-document repetition signals: duplicate-line fraction,
  duplicate n-gram fraction, most-frequent-n-gram fraction.  Docs
  dominated by repeated boilerplate score high and get filtered.
- :func:`pii_scan` — regex detection + redaction of e-mail / IPv4 /
  SSN-shaped identifiers, with per-doc counts and the redacted text's
  digest (so the redaction itself is oracle-checkable without
  shipping the full redacted body through the gate).

Scale shapes:
- decontaminate joins the corpus's exploded distinct grams against a
  BROADCAST eval-gram set (eval sets are KBs-to-MBs next to a 100 TB
  corpus); the only shuffle is the per-doc hit count over the (rare)
  matching rows.
- repetition_stats is ZERO-shuffle: each doc's gram multiplicities
  come from a sort + linear fold over the in-row token array
  (``F.sort_array`` + ``F.aggregate`` run-length scan), never an
  explode/groupBy — per-row cost O(g log g), whole-stage codegen.
- pii_scan is a pure per-row projection (regexp_extract_all /
  regexp_replace), no shuffle at all.

All hashing rides the portable 48-bit md5 prefix
(:func:`datapipe.text.hash48`) so every output is DuckDB-oracle-
checkable.  Regexes stick to the POSIX-class subset whose semantics
are identical in Java regex (Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import grams, hash48, tokenize

HASH_SPACE = 1 << 48

# PII patterns — [A-Za-z0-9] classes only (identical Java/RE2 semantics)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def eval_member(id_col: Column, eval_frac: float, salt: str = "eval") -> Column:
    """Deterministic eval-set membership: content-hash Bernoulli on the
    doc id (same recipe as sampling.stratified_sample — reproducible and
    repartition-stable)."""
    thr = int(eval_frac * HASH_SPACE)
    h = hash48(F.concat(F.lit(salt), F.lit("|"), id_col.cast("string")))
    return h < F.lit(thr)


def decontaminate(
    df: DataFrame,
    eval_frac: float = 0.05,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "eval",
) -> DataFrame:
    """Flag training docs sharing any word ``n``-gram with the eval set.

    The eval set here is carved from the corpus itself by deterministic
    hash split (``eval_frac``) so the operator is self-contained and
    oracle-checkable; in production the eval side is the benchmark
    suite read from its own table — the dataflow (broadcast the eval
    gram set, stream the corpus once) is identical.

    Output: one row per NON-eval doc — ``(doc_id, n_grams, n_hit,
    overlap_frac, contaminated)`` where ``n_hit`` counts the doc's
    distinct grams that appear anywhere in the eval set.
    """
    # repartition by doc BEFORE the gram construction (few parquet
    # splits would serialize it — same move as shingles/winnowing),
    # and CACHE the gram arrays: three branches read them (eval gram
    # set, per-doc totals, the hit explode) and tokenization + 5-gram
    # construction is the dominant per-row cost
    from ..session import tracked_cache

    df = df.repartition(F.col(id_col))
    is_eval = eval_member(F.col(id_col), eval_frac, salt)
    t = tracked_cache(
        tokenize(df, text_col).select(
            id_col,
            F.array_distinct(grams(n)).alias("__g"),
            is_eval.alias("__e"),
        )
    )
    # eval gram set: distinct 48-bit gram hashes over all eval docs —
    # small by construction, broadcast below
    eval_grams = (
        t.filter(F.col("__e"))
        .select(F.explode("__g").alias("g"))
        .select(hash48(F.col("g")).alias("gh"))
        .distinct()
    )
    corpus = t.filter(~F.col("__e")).select(
        id_col, F.size("__g").alias("n_grams"), "__g"
    )
    hits = (
        corpus.select(id_col, F.explode("__g").alias("g"))
        .select(id_col, hash48(F.col("g")).alias("gh"))
        .join(F.broadcast(eval_grams), "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    out = corpus.drop("__g").join(hits, id_col, "left")
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
    # floats emitted RAW — gate queries quantize with plans.queries._shared._rnd
    return out.select(
        id_col,
        F.col("n_grams").cast("long").alias("n_grams"),
        n_hit.alias("n_hit"),
        (n_hit / (F.col("n_grams") + F.lit(1e-9))).alias("overlap_frac"),
        (n_hit > 0).cast("int").alias("contaminated"),
    )


def _runlength_stats(arr: Column) -> Column:
    """Multiplicity stats of an array's values via sort + linear fold:
    struct(n, best, dup) where ``best`` is the max multiplicity and
    ``dup`` counts members belonging to any value occurring >= twice.

    Zero-shuffle alternative to explode + groupBy(doc, value): the
    whole computation stays inside the row (codegen'd), which is the
    shape that survives 100 TB — repetition scoring costs one map pass
    over the corpus, not a near-unique-key aggregate.
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("dup"),
    )

    def step(a, x):
        same = x == a["prev"]  # NULL (hence false-ish) on the first item
        run = F.when(same, a["run"] + 1).otherwise(F.lit(1))
        dup = a["dup"] + F.when(same & (a["run"] == 1), 2).when(
            same, 1
        ).otherwise(0)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(a["best"], run).alias("best"),
            dup.alias("dup"),
        )

    return F.aggregate(
        F.sort_array(arr),
        zero,
        step,
        lambda a: F.struct(
            F.size(arr).alias("n"), a["best"].alias("best"), a["dup"].alias("dup")
        ),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals
    (ref: Rae et al. 2021 "Scaling Language Models" §A1.1; fractions
    here are over gram/line COUNTS rather than characters).

    Output per doc: bigram/trigram totals, duplicate-gram fraction
    (members of any gram occurring twice or more), most-frequent-gram
    fraction, and the line-level duplicates — the filters that catch
    boilerplate and degenerate repetition that unique_ratio misses.
    """
    t = tokenize(df, text_col)
    g2 = _runlength_stats(grams(2))
    g3 = _runlength_stats(grams(3))
    # drop empty lines so blank separators don't count as duplicates
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    gl = _runlength_stats(lines)
    t = t.select(id_col, g2.alias("__g2"), g3.alias("__g3"), gl.alias("__l"))

    def frac(num, den):  # raw — gate queries quantize with _rnd
        return num / (den + F.lit(1e-9))

    return t.select(
        id_col,
        F.col("__g2.n").cast("long").alias("n_2grams"),
        frac(F.col("__g2.dup"), F.col("__g2.n")).alias("dup_2gram_frac"),
        frac(F.col("__g2.best"), F.col("__g2.n")).alias("top_2gram_frac"),
        frac(F.col("__g3.dup"), F.col("__g3.n")).alias("dup_3gram_frac"),
        F.col("__l.n").cast("long").alias("n_lines"),
        frac(F.col("__l.dup"), F.col("__l.n")).alias("dup_line_frac"),
    )


def pii_scan(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Detect + redact PII-shaped spans (e-mail, IPv4, SSN-shaped ids).

    Output per doc: span counts per category, total, the redacted
    text's length and md5 — the digest makes the full redaction
    byte-checkable through the gate without shipping the body.
    Redaction order is fixed (e-mail, then IPv4, then SSN) so the
    digest is well-defined when patterns could overlap.
    """
    txt = F.col(text_col)

    def n_matches(pat):
        return F.size(F.regexp_extract_all(txt, F.lit(pat), 0)).cast("long")

    red = F.regexp_replace(txt, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, SSN_RE, "<ID>")
    n_e, n_i, n_s = n_matches(EMAIL_RE), n_matches(IPV4_RE), n_matches(SSN_RE)
    return df.select(
        id_col,
        n_e.alias("n_emails"),
        n_i.alias("n_ips"),
        n_s.alias("n_ids"),
        (n_e + n_i + n_s).alias("pii_total"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


def curation_pipeline(
    df: DataFrame,
    eval_frac: float = 0.05,
    n: int = 5,
    min_quality: float = 0.5,
    min_tokens: int = 20,
    max_rep: float = 0.3,
    max_pii: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The hygiene funnel end-to-end — the round-5 operators composed
    the way a corpus team runs them (one query, one verdict per doc,
    ladder ordered by severity)::

        eval_holdout    hash-carved eval split (never trained on)
        contaminated    shares a word n-gram with the eval split
        pii_heavy       more than ``max_pii`` PII spans
        repetitive      dup-2gram or dup-line fraction >= ``max_rep``
        too_short / low_quality
        keep

    Kept docs carry ``redacted_md5`` — the digest of the PII-redacted
    payload that actually ships to training.

    Scale shape: four independent branches over the corpus scan (all
    individually hash-gated as their own queries — doc_stats,
    repetition_stats, pii_scan, decontaminate), joined on the doc id;
    three of the four are zero-shuffle projections, so the funnel costs
    one corpus scan per branch plus the broadcast eval-gram join.
    """
    from .text import doc_stats

    stats = doc_stats(df, text_col).select(
        id_col, "n_tokens", "quality_score"
    )
    rep = repetition_stats(df, text_col, id_col).select(
        id_col, "dup_2gram_frac", "dup_line_frac"
    )
    pii = pii_scan(df, text_col, id_col).select(
        id_col, "pii_total", "redacted_md5"
    )
    dec = decontaminate(
        df, eval_frac=eval_frac, n=n, text_col=text_col, id_col=id_col
    ).select(id_col, "n_hit", "overlap_frac")
    joined = (
        stats.join(rep, id_col)
        .join(pii, id_col)
        .join(dec, id_col, "left")  # eval docs carry no overlap row
    )
    verdict = (
        F.when(F.col("n_hit").isNull(), F.lit("eval_holdout"))
        .when(F.col("n_hit") > 0, F.lit("contaminated"))
        .when(F.col("pii_total") > max_pii, F.lit("pii_heavy"))
        .when(
            (F.col("dup_2gram_frac") >= max_rep)
            | (F.col("dup_line_frac") >= max_rep),
            F.lit("repetitive"),
        )
        .when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    return joined.select(
        id_col,
        "n_tokens",
        "quality_score",
        "pii_total",
        "dup_2gram_frac",
        F.coalesce(F.col("n_hit"), F.lit(-1)).cast("long").alias("n_hit"),
        verdict.alias("verdict"),
        "redacted_md5",
    )


def ingest_gate(
    df: DataFrame,
    min_quality: float = 0.3,
    min_tokens: int = 5,
    max_rep: float = 0.5,
    max_pii: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admission filter for INGEST-time hygiene: drop pii-heavy /
    repetitive / too-short / low-quality docs and REDACT the surviving
    text — the per-batch gate that runs ahead of index dedup in the
    streaming ingest loop (``streaming.streaming_ingest_with_index``).

    Single zero-shuffle projection (quality, repetition and PII are all
    in-row expressions), so it adds no state and no exchange to a
    micro-batch.  Decontamination is deliberately NOT part of this
    gate: the eval-gram join belongs in the batch curation pass
    (:func:`curation_pipeline`), not on the ingest hot path.

    Returns the admitted rows with ``df``'s exact schema, text already
    redacted — the index and the corpus then only ever see sanitized
    content.
    """
    from .text import doc_stats

    s = tokenize(doc_stats(df, text_col), text_col)
    g2 = _runlength_stats(grams(2))
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    gl = _runlength_stats(lines)
    txt = F.col(text_col)

    def n_matches(pat):
        return F.size(F.regexp_extract_all(txt, F.lit(pat), 0))

    pii_n = n_matches(EMAIL_RE) + n_matches(IPV4_RE) + n_matches(SSN_RE)
    dup2 = g2["dup"] / (g2["n"] + F.lit(1e-9))
    dupl = gl["dup"] / (gl["n"] + F.lit(1e-9))
    keep = (
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (dup2 < max_rep)
        & (dupl < max_rep)
        & (pii_n <= max_pii)
    )
    red = F.regexp_replace(txt, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, SSN_RE, "<ID>")
    return (
        s.filter(keep).select(*df.columns).withColumn(text_col, red)
    )
