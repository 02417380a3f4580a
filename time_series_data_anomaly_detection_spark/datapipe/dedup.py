"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Scale design (the point of every choice here):

- **Exact** is a hash-groupBy: one shuffle on a 16-byte digest, no
  text movement after the md5 projection.
- **n-gram Jaccard** is the exact (quadratic-within-posting-list)
  method: explode distinct shingle hashes, self-join on the hash —
  the join key is the 8-byte shingle hash, never the shingle string.
  At 100 TB the frequent-shingle posting lists are the skew hazard:
  ``max_shingle_df`` drops shingles occurring in more than that many
  docs (stopword-grams), which is both a quality and a skew fix.
- **MinHash+LSH** is the scale path: signature size is constant
  (NUM_PERM longs/doc regardless of doc length), candidate
  generation is an equi-join on (band_id, band_signature), and only
  candidates pay the exact-Jaccard verification.
- **SimHash** compresses a doc to one 32-bit int with NO explode in
  the aggregation (32 conditional sums in a single groupBy), so the
  shuffle carries one row per (doc, token) and the reduce is
  map-side-combinable.
- **Embedding near-dup** offers exact O(n²) for small n and a
  sign-LSH-bucketed variant whose join is equi on the bucket key.

All hashes derive from md5 (portable to the DuckDB oracle, see
datapipe.text.hash48).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._skew import DEFAULT_BUCKET_CAP, salted_self_join_pairs
from .text import grams, hash48, tokenize

# ---------------------------------------------------------------------------
# MinHash parameters: 16 permutations in 4 bands of 4 rows.
# h_i(x) = (A[i] * hash48(x) + B[i]) mod P  with P = 2^61 - 1,
# A[i] drawn from the FULL modulus range (see the block comment below —
# small A would degenerate every permutation to the same argmin).
# ---------------------------------------------------------------------------
MERSENNE_P = (1 << 61) - 1
NUM_PERM = 16
BAND_ROWS = 4
# 64 permutation slots: full-range affine hashes h_i(x) = (A_i·x + B_i)
# mod P over the 48-bit shingle hash, A_i, B_i drawn uniformly from
# [1, P) / [0, P) (fixed seed, hardcoded — the same literals feed the
# DuckDB oracle SQL).  The A MUST span the full modulus: rounds 1–11
# used small primes (A < 2^10), which keeps A·x + B < 2^58 < P — NO
# modular wraparound, so every h_i is MONOTONE in x and all 16
# "permutations" pick the SAME argmin shingle.  That collapsed the
# whole signature to one effective min-hash: band agreement degenerated
# to "docs share their min shingle" (probability J, not the 4×4
# s-curve), which is exactly the ~178× candidate false-positive blowup
# the r11 100× stress measured (92M candidates for 517k true pairs).
# With full-range A the products exceed int64, so both engines compute
# the affine step in wide arithmetic (Spark decimal(38,0) — exact, ≤33
# digits; DuckDB HUGEINT).
PERM_A = (
    980474131530148546, 487140565101860798, 2164434528772101932, 2228857686457714699,
    1165022818974244805, 37648638357188, 1294995559468533704, 1523002620845390733,
    703839336389010067, 1952200781935718356, 1031717404324534188, 2117797122367424117,
    1258518270899747162, 1686975509030551079, 580634568362577099, 2244202253257477703,
    1120183678600425351, 1478944327013620111, 147711900595660211, 1417106338085789031,
    245153588138654053, 1599544812769093518, 2029322940774852043, 1933605860654622155,
    1413241858158754417, 1607967349714645273, 330528923267028016, 2274961599614790148,
    691290581731931163, 295713074036070191, 1889977618708961493, 677422417734088017,
    2248320644942836729, 2020904158080019718, 149468513066986475, 1827784785257444335,
    1589068292177557948, 1244829620315932143, 934906954541771198, 798960332875615918,
    1621726616914369019, 1450279492400525601, 816839659695542859, 1950926105539131218,
    913439212274495122, 2292439857560379827, 1464189052812394184, 442055604438069734,
    1929252298547219810, 385532137581158861, 451815818889547716, 2098871844315828954,
    1415614905498115345, 772658894426793322, 2015803382810394292, 1102252489072126872,
    646783197111418600, 264621865281914338, 410678124655327530, 480961151561570738,
    1894861598480638083, 524451035872663414, 1397230646621352062, 86355860149662154,
)
PERM_B = (
    1224427188392149557, 1764047685985645993, 432592869503804792, 322299681577216355,
    2199968263331926650, 1444963790759102114, 992374961676854113, 1445323654744115358,
    2068062516017597637, 811042529916198454, 1409655930018862593, 838186605262124717,
    43268002027410431, 1997970831508688488, 926088814738898700, 2000298738167630218,
    2115272308180755602, 666315931217503547, 1956632817260089728, 1367501477853605010,
    1001516683045854505, 497483357950216584, 1093582245545154799, 322569686220903504,
    1696106846071639516, 18222831683515350, 1576178293193629016, 1023988961062360599,
    2155116249249791012, 136878652951647468, 2250531577830635046, 281968565192082403,
    890783994349797405, 1988512988272557457, 1794055784833408216, 990961423630128714,
    969477034185069232, 1196914223166578470, 1061084699708385656, 851747942637753349,
    1316967159283150508, 1994416230914199910, 2235781458966136509, 1079842567776763964,
    1481781641355524993, 1952751525005737280, 1479198715150268026, 1856157496043931307,
    1038349713182392274, 108344145294764213, 1434321470205649993, 1114697261357759682,
    2050066161812069220, 761615890326338107, 1822635088553759384, 1806510825836835752,
    1496783276403171038, 1373354357201499106, 1224700187854462969, 1942091054615133958,
    1971667350998932434, 591279661094990409, 2114900624211378256, 1559508277606277569,
)

SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate detection via content digest (hash-groupBy).

    Returns the input ids annotated with ``dup_group`` (md5 of the
    normalized text), ``group_size``, ``keep`` (1 for the smallest id
    in the group — the canonical survivor). One shuffle on the digest.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    h = df.select(F.col(id_col), F.md5(norm).alias("dup_group"))
    w = Window.partitionBy("dup_group")
    return h.select(
        id_col,
        "dup_group",
        F.count("*").over(w).alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).cast("int").alias("keep"),
    )


def shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word-n-gram shingle hashes per doc: ``(id, shingle_hash)``.

    The shingle string never leaves the projection — downstream joins
    and signatures see only the 48-bit hash.
    """
    # repartition by doc BEFORE the shingle explosion: the corpus
    # parquet arrives in a few splits, and the explode + per-shingle
    # md5 (the dominant cost) would otherwise serialize on those few
    # scan tasks (see text.winnow_fingerprints for the measurement)
    t = tokenize(df.repartition(F.col(id_col)), text_col)
    sh = grams(n)  # short-doc guard lives in text.grams
    return (
        t.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
        .select(id_col, hash48(F.col("shingle")).alias("shingle_hash"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every doc pair sharing at
    least one shingle; emits pairs with ``jaccard >= threshold``.

    ``max_shingle_df`` prunes shingles present in more than that many
    docs before the self-join (stopword-gram posting lists are the
    O(df²) skew bomb at scale); what survives is still skew-bounded by
    the salted cell decomposition (``bucket_cap``, see ``_skew.py``) —
    identical output, per-task input capped.
    """
    sh = shingles(df, n, text_col, id_col)
    if max_shingle_df is not None:
        freq = sh.groupBy("shingle_hash").agg(F.count("*").alias("df_count"))
        sh = (
            sh.join(freq, "shingle_hash")
            .filter(F.col("df_count") <= max_shingle_df)
            .drop("df_count")
        )
    # consumed by both join sides + the size agg; ledgered so
    # release_caches() frees it at the query boundary (a bare .cache()
    # leaks executor storage across a multi-query session)
    from ..session import tracked_cache

    sh = tracked_cache(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    inter = (
        salted_self_join_pairs(sh, ["shingle_hash"], id_col, cap=bucket_cap)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    # per-doc size table is corpus-scaled: shuffle_hash, never a
    # driver broadcast (the 100x stress lesson — see minhash_lsh_pairs)
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(na.hint("shuffle_hash"), "id_a")
        .join(nb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def _affine_mod_p(x1, x0, a: int, b: int):
    """``(a·x + b) mod P`` (P = 2⁶¹−1) in pure int64 arithmetic, exact.

    ``x1 = x >> 24`` and ``x0 = x & (2²⁴−1)`` are precomputed columns
    (shared across all permutation slots).  a < P needs ~61 bits and
    x < 2⁴⁸, so a·x needs ~109 bits; splitting a = a1·2³¹ + a0 gives
    four sub-products of ≤55 bits, each folded mod P with the Mersenne
    identity 2⁶¹ ≡ 1 (mod P):  t·2^s = (t >> (61−s))·2⁶¹ +
    (t & (2^(61−s)−1))·2^s ≡ (t >> (61−s)) + ((t & …) << s).  Every
    folded term is < P, their sum < 4P < 2⁶³, so the whole chain stays
    in non-negative int64 — bit-identical to the wide-int affine (the
    r12 decimal(38,0) form; equality pinned across the full 2⁴⁸ input
    domain in tests/test_datapipe.py) at a fraction of the cost:
    decimal multiply/mod ran interpreted 128-bit arithmetic per
    shingle×perm term, this is ~15 codegen long ops (r13 alternating
    A/B at sf0.1: 48-perm signature stage 0.58-0.71 s decimal vs
    0.26-0.42 s int64, ≈2.2×; 16-perm ≈1.7×).  DuckDB's oracle
    keeps the HUGEINT form — cross-engine parity is part of the gate.
    """
    a1, a0 = a >> 31, a & ((1 << 31) - 1)
    t3 = F.lit(a1) * x1  # < 2^54
    t2 = F.lit(a1) * x0  # < 2^54
    t1 = F.lit(a0) * x1  # < 2^55
    t0 = F.lit(a0) * x0  # < 2^55 < P
    r3 = F.shiftright(t3, 6) + F.shiftleft(t3.bitwiseAND(F.lit(63)), 55)
    r2 = F.shiftright(t2, 30) + F.shiftleft(
        t2.bitwiseAND(F.lit((1 << 30) - 1)), 31
    )
    r1 = F.shiftright(t1, 37) + F.shiftleft(
        t1.bitwiseAND(F.lit((1 << 37) - 1)), 24
    )
    s = r3 + r2 + r1 + t0  # < 4P < 2^63
    return ((s % F.lit(MERSENNE_P)) + F.lit(b)) % F.lit(MERSENNE_P)


def minhash_signatures_from(
    sh: DataFrame, id_col: str = "doc_id", num_perm: int = NUM_PERM
) -> DataFrame:
    """MinHash signatures from a prebuilt shingle-hash frame.

    Input contract: ``shingle_hash`` must be < 2⁴⁸ (the ``hash48``
    domain).  The int64 Mersenne folding in :func:`_affine_mod_p`
    splits x as ``x >> 24`` / ``x & (2²⁴−1)``; a ≥48-bit input would
    overflow int64 in the sub-products and silently produce wrong
    signatures (the pre-r13 decimal(38,0) path was exact for any
    long).  All engine call sites feed ``hash48`` outputs.
    """
    if not 1 <= num_perm <= len(PERM_A):
        raise ValueError(f"num_perm must be in [1, {len(PERM_A)}], got {num_perm}")
    # A_i spans the full modulus, so A_i·x needs ~109 bits: the affine
    # step runs in pure int64 via Mersenne folding (see _affine_mod_p;
    # r12 computed it in decimal(38,0) — exact but interpreted 128-bit
    # arithmetic per term, measured ≈2.2× slower on the 48-perm config).
    # DuckDB mirrors the same values with HUGEINT.
    x = F.col("shingle_hash")
    split = sh.select(
        F.col(id_col),
        F.shiftright(x, 24).alias("__x1"),
        x.bitwiseAND(F.lit((1 << 24) - 1)).alias("__x0"),
    )
    aggs = [
        F.min(
            _affine_mod_p(F.col("__x1"), F.col("__x0"), PERM_A[i], PERM_B[i])
        ).alias(f"m{i}")
        for i in range(num_perm)
    ]
    return split.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc MinHash signature: NUM_PERM columns ``m0..m{15}``.

    One groupBy over the exploded shingle hashes; each permutation is
    a min-aggregate of an affine rehash — map-side combinable, and
    signature size is independent of doc length (the scale property).
    """
    return minhash_signatures_from(shingles(df, n, text_col, id_col), id_col)


def _banded(
    sig: DataFrame,
    id_col: str = "doc_id",
    band_rows: int = BAND_ROWS,
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """Signature rows → (id, band, band_key): all bands in ONE pass
    (signature row -> array of (band, key) structs -> explode; a 4-way
    union would re-derive the whole signature pipeline per band)."""
    if num_perm % band_rows != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of band_rows ({band_rows})"
        )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"m{band * band_rows + r}")
                            for r in range(band_rows)
                        ],
                    )
                ).alias("band_key"),
            )
            for band in range(num_perm // band_rows)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("bk")
    ).select(
        id_col,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    band_rows: int = BAND_ROWS,
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Pipeline: signatures → band keys (md5 of each ``band_rows``-row
    band) → equi-join on (band, key) for candidates → exact Jaccard on
    the candidate set only → filter. The full O(n²) never
    materializes; candidate volume is governed by the band collision
    probability (s-curve midpoint ≈ (1/b)^(1/r)).  A hot band bucket
    (mass-duplicated boilerplate) is the one remaining skew hazard:
    the candidate join runs through the salted cell decomposition
    (``bucket_cap``, see ``_skew.py``) — same pairs out, per-task
    input bounded.

    ``band_rows``/``num_perm`` are the THRESHOLD-MATCHED BANDING
    opt-in: the default (4 rows × 4 bands from 16 perms) is the
    gate-pinned contract; a config with more rows per band (e.g.
    ``band_rows=6, num_perm=48`` → 8 bands of 6) sharpens the s-curve
    and cuts low-similarity candidate false positives exponentially —
    at 100 TB the exact-verification cost is linear in candidate
    volume, so this is the recall-vs-cost dial.  Measure any
    non-default config with :func:`lsh_recall_stats` at the same
    (band_rows, num_perm) before trusting it.

    Exact-verification cost levers (all EXACT-preserving, always on):

    - size prefilter: J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), applied as a
      ROW-LOCAL predicate on the band self-join output (sizes ride the
      join payload) — dead pairs never even reach the candidate
      ``distinct`` shuffle, and no corpus-scale size join is needed.
    - df≥2 shingle filter: a shingle occurring in exactly ONE document
      can never contribute to any intersection — both verification
      join sides drop df=1 shingles (on real corpora the Zipf tail is
      the majority of distinct shingles).
    - smaller-side explode: each candidate pair fans out by its
      SMALLER member's shingle count, not id_a's arbitrary one
      (orientation is internal; output pairs stay canonical
      ``id_a < id_b`` and Jaccard is symmetric).
    """
    # shingles feed the signatures AND the verification joins — cache
    # instead of recomputing the tokenize+explode pipeline per branch
    # (at cluster scale: persist/checkpoint the signature table);
    # ledgered so the session frees it at the query boundary
    from ..session import tracked_cache

    sh = tracked_cache(shingles(df, n, text_col, id_col))
    szs = sh.groupBy(id_col).agg(F.count("*").alias("__n"))
    sig = minhash_signatures_from(sh, id_col, num_perm=num_perm)
    # the shingle-set size rides the band rows into the self-join
    # payload (one row/doc join against the 4-rows/doc band frame), so
    # the size prefilter below is a LOCAL predicate on the join output
    # instead of two corpus-scale joins against the candidate set
    banded = _banded(sig, id_col, band_rows=band_rows, num_perm=num_perm).join(
        szs.hint("shuffle_hash"), id_col
    )
    # exact-preserving SIZE prefilter BEFORE the candidate distinct:
    # J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so any pair whose smaller
    # shingle set is under threshold·(larger) cannot reach the
    # threshold (r11 100× breakdown: verification is 394 s of the
    # 453 s pipeline; 14% of the 92M LSH candidates on that corpus die
    # here, more on real corpora with genuine length spread).  The
    # 1e-9 slack keeps the float product from ever pruning an
    # exactly-at-threshold pair.  Applying it pre-distinct also
    # shrinks the distinct shuffle itself.
    raw = salted_self_join_pairs(
        banded, ["band", "band_key"], id_col, cap=bucket_cap
    ).filter(
        F.least(F.col("a.__n"), F.col("b.__n")).cast("double")
        >= F.lit(float(threshold)) * F.greatest(F.col("a.__n"), F.col("b.__n"))
        - F.lit(1e-9)
    )
    # orient each pair so the verification explode below fans out by
    # the SMALLER member's shingle count (ids are canonical a<b, so
    # (sm, lg) determines the pair and Jaccard is symmetric)
    a_small = (F.col("a.__n") < F.col("b.__n")) | (
        (F.col("a.__n") == F.col("b.__n"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    cand = (
        raw.select(
            F.when(a_small, F.col(f"a.{id_col}"))
            .otherwise(F.col(f"b.{id_col}"))
            .alias("sm"),
            F.when(a_small, F.col(f"b.{id_col}"))
            .otherwise(F.col(f"a.{id_col}"))
            .alias("lg"),
        )
        .distinct()
    )
    # exact verification restricted to candidates.  The shingle table
    # (corpus × shingles rows) is CORPUS-SCALED: pin it to
    # shuffle-hash joins — Catalyst's static estimate of the
    # cached/pruned shingle frame lands under the broadcast threshold
    # and auto-broadcasts it, which holds at 5k docs and OOMs the
    # driver at the 100x stress corpus (500k docs / ~25M shingle
    # rows), i.e. it would never survive a real crawl.  Found by the
    # 100x dup-heavy corpus stress run; the OOM and the 100x timings
    # are recorded in SCALING.md, "100× stress (r09 verdict item #3)".
    # shuffle_hash keeps the build per-partition and scales with
    # executors.
    #
    # df≥2 filter: intersection shingles occur in ≥2 docs by
    # definition, so BOTH verification sides drop df=1 shingles
    # (exact; one map-side-combinable agg over 8-byte keys).
    shared = sh.join(
        sh.groupBy("shingle_hash")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("shingle_hash")
        .hint("shuffle_hash"),
        "shingle_hash",
    )
    s_sm = shared.select(F.col(id_col).alias("sm"), "shingle_hash")
    s_lg = shared.select(F.col(id_col).alias("lg"), "shingle_hash")
    inter = (
        cand.join(s_sm.hint("shuffle_hash"), "sm")
        .join(s_lg.hint("shuffle_hash"), ["lg", "shingle_hash"])
        .groupBy("sm", "lg")
        .agg(F.count("*").alias("inter"))
    )
    na = szs.select(F.col(id_col).alias("sm"), F.col("__n").alias("n_a"))
    nb = szs.select(F.col(id_col).alias("lg"), F.col("__n").alias("n_b"))
    return (
        inter.join(na.hint("shuffle_hash"), "sm")
        .join(nb.hint("shuffle_hash"), "lg")
        .select(
            F.least("sm", "lg").alias("id_a"),
            F.greatest("sm", "lg").alias("id_b"),
            (
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash fingerprint (SIMHASH_BITS wide) over distinct token
    hashes: bit b is the sign of Σ±1 across tokens, +1 when the
    token hash has bit b set.

    Implemented as SIMHASH_BITS conditional sums in ONE aggregation —
    no bit-explode, so the shuffle is one row per (doc, token) and the
    combine happens map-side.
    """
    # repartition before the token explode+md5 (see shingles): the
    # few-split corpus scan would otherwise serialize the hashing
    t = tokenize(df.repartition(F.col(id_col)), text_col)
    tok = (
        t.select(F.col(id_col), F.explode(F.array_distinct("tokens")).alias("tok"))
        .select(id_col, hash48(F.col("tok")).alias("h"))
        .distinct()
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(id_col, fp.cast("long").alias("simhash"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_bits: int = 4,
    allow_exact: bool = False,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Default ``bucket_bits=4``: sign-LSH — docs are bucketed by the sign
    pattern of their first k dimensions and only same-bucket pairs
    are compared, turning the cross join into an equi-join on the
    bucket key. Recall is traded for the s-curve of k axis-aligned
    hyperplanes; at 100 TB this (or a learned IVF) is the only viable
    shape.

    The exact all-pairs mode (O(n²) crossJoin) requires EXPLICIT
    opt-in: ``bucket_bits=0, allow_exact=True`` — the scale-unsafe
    path must never be the silent default.
    """
    if bucket_bits <= 0 and not allow_exact:
        raise ValueError(
            "bucket_bits=0 selects the O(n²) all-pairs crossJoin; pass "
            "allow_exact=True to opt in explicitly (small corpora only)"
        )
    v = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    if bucket_bits > 0:
        sig = None
        for d in range(bucket_bits):
            term = F.when(
                F.element_at("v", d + 1).cast("double") > 0, F.lit(1 << d)
            ).otherwise(F.lit(0))
            sig = term if sig is None else sig + term
        v = v.withColumn("bucket", sig.cast("long"))
        # a hot sign bucket (near-identical embedding clusters) is
        # skew-bounded by the salted cell decomposition (_skew.py)
        out = salted_self_join_pairs(
            v, ["bucket"], id_col, cap=bucket_cap
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                _dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm") + F.lit(1e-12))
            ).alias("cosine"),
        )
    else:
        a, b = v.alias("a"), v.alias("b")
        out = (
            a.crossJoin(b)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                (
                    _dot(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.nrm") * F.col("b.nrm") + F.lit(1e-12))
                ).alias("cosine"),
            )
        )
    return out.filter(F.col("cosine") >= threshold)


def _components_single_task(pairs: DataFrame) -> DataFrame:
    """Connected components of a SMALL pair graph in one executor task:
    path-compressed union-find with union-by-min, so each root is the
    smallest id in its component — identical labels to the distributed
    fixpoint, without its ~10 scheduled stages per iteration.

    "Small" is relative to the corpus, not the cluster: 10M edges is
    two int64 columns ≈ 160 MB — one healthy task — while the corpus
    that produced them can be billions of docs.  The work stays on an
    executor (grouped-map, not a driver collect); the driver never
    sees an edge.
    """

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = pd.unique(pdf[["src", "dst"]].to_numpy().ravel())
        return pd.DataFrame(
            {"node": nodes, "label": [find(int(x)) for x in nodes]}
        )

    return (
        pairs.select("src", "dst")
        .withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(uf, "node long, label long")
    )


def near_dup_clusters(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 20,
    small_graph_edges: int = 10_000_000,
    keep_policy: str = "min_id",
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph:
    the corpus-dedup DECISION step.  Every document gets
    ``cluster_id`` = the smallest doc id reachable through near-dup
    pairs, ``cluster_size``, and ``keep`` = 1 for the canonical
    member — transitive closure, so A~B, B~C dedups all three
    even when A~C was never emitted as a pair.

    ``keep_policy`` selects the survivor per cluster: ``"min_id"``
    (deterministic default) or ``"max_quality"`` — keep the member
    with the highest ``doc_stats`` quality score (tie: smaller id),
    the retention rule production dedup actually wants (near-dups
    DIFFER, so keep the best copy, not the first).  ``cluster_id``
    stays the min-id label either way (a stable cluster key).

    Scale shape: all clustering work happens ONLY over the pair graph
    — edges are near-dup pairs, orders of magnitude smaller than the
    corpus; the full documents table is touched once, by the final
    left join.  Strategy is size-adaptive, the same move as
    broadcast-vs-sort-merge join selection:

    - pair graphs at or below ``small_graph_edges`` (10M edges ≈
      160 MB of int64 pairs — one healthy task, yet produced by
      corpora of any size) run path-compressed union-find in a single
      executor task (:func:`_components_single_task`): exact same
      labels, none of the per-iteration stage scheduling.
    - larger graphs run iterative min-label propagation with pointer
      jumping: each iteration does a 1-hop neighbor min AND a pointer
      jump (label := label(label)), so the propagation reach doubles
      per round and convergence is O(log diameter).  Iteration
      hygiene: exactly ONE driver action per iteration (the monotone
      label-sum convergence aggregate materializes the lazily
      ``localCheckpoint``-ed label frame), and the checkpoint
      truncates lineage every round so plan size stays constant.
    """
    import warnings

    from ..session import tracked_cache

    pairs = tracked_cache(
        minhash_lsh_pairs(df, n, threshold, text_col, id_col).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )
    if pairs.count() <= small_graph_edges:
        labels = _components_single_task(pairs)
        return _apply_keep_policy(
            _attach_clusters(df, labels, id_col),
            df, keep_policy, text_col, id_col,
        )

    edges = tracked_cache(
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
    converged = False
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["dst"] == labels["node"]).select(
            F.col("src").alias("node"), F.col("label")
        )
        one_hop = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow each node's label to THAT node's label,
        # doubling the propagation distance covered per iteration
        jump = one_hop.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            one_hop.join(jump, one_hop["label"] == jump["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("p_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # single action: materializes the lazy checkpoint AND reads the
        # convergence aggregate in the same job
        cur = new_labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        labels = new_labels
        if cur == prev:  # fixpoint: label == min(own, neighbors) everywhere
            converged = True
            break
        prev = cur
    if not converged:
        warnings.warn(
            f"near_dup_clusters: max_iter={max_iter} exhausted before the "
            "label fixpoint; clusters wider than the reached propagation "
            "radius may be split (raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return _apply_keep_policy(
        _attach_clusters(df, labels, id_col), df, keep_policy, text_col, id_col
    )


def _apply_keep_policy(
    clustered: DataFrame,
    df: DataFrame,
    keep_policy: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Rewrite ``keep`` per ``keep_policy``; min_id is the identity
    (already what _attach_clusters computed)."""
    if keep_policy == "min_id":
        return clustered
    if keep_policy != "max_quality":
        raise ValueError(f"unknown keep_policy: {keep_policy!r}")
    from .text import doc_stats

    # rounded score so the survivor choice cannot flip on sub-1e-6
    # cross-engine double drift (same move as sampling.quality_deciles)
    q = doc_stats(df, text_col).select(
        id_col, F.round("quality_score", 6).alias("__q")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("__q"), F.asc(id_col)
    )
    return (
        clustered.join(q.hint("shuffle_hash"), id_col)
        .withColumn(
            "keep", (F.row_number().over(w) == 1).cast("int")
        )
        .drop("__q")
        .select(id_col, "cluster_id", "cluster_size", "keep")
    )


def _attach_clusters(df: DataFrame, labels: DataFrame, id_col: str) -> DataFrame:
    """One corpus-wide left join against the (small) label frame:
    isolated docs become their own singleton cluster."""
    out = (
        df.select(id_col)
        .join(
            labels.withColumnRenamed("node", id_col).hint("shuffle_hash"),
            id_col,
            "left",
        )
        .withColumn("cluster_id", F.coalesce("label", F.col(id_col)))
        .drop("label")
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        id_col,
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("keep"),
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Dedup an ingest BATCH against an existing corpus — the daily
    workflow: never re-dedup the lake, only test the new documents
    against it (and against each other).

    Verdict ladder per batch doc (first failure wins):

        duplicate_of_corpus   exact content digest already in the corpus
        duplicate_in_batch    exact digest of an earlier (smaller-id) batch doc
        near_dup_of_corpus    LSH-verified Jaccard ≥ t with any corpus doc
        near_dup_in_batch     LSH-verified Jaccard ≥ t with a smaller-id batch doc
        new                   none of the above — admit

    ``id_col`` spaces of corpus and batch are assumed disjoint (ingest
    assigns fresh ids); a shared id would be nonsensical input.

    Scale shape — everything is batch-side-driven, the corpus is
    never self-joined:

    - exact layer: one equi-join on the 16-byte digest between the
      batch and the DISTINCT corpus digest set (at scale: the
      precomputed digest index of the lake);
    - near layer: the batch's band keys (4 rows/doc) join the corpus
      band table — with batch ≪ corpus the batch side broadcasts, so
      the corpus scan never shuffles; batch-internal pairs run the
      salted self-join.  Only candidates pay exact-Jaccard
      verification, each side against its own shingle table.
    """
    idx = corpus_index_frames(corpus, n, text_col, id_col)
    return _incremental_core(
        idx, batch, n, threshold, text_col, id_col, bucket_cap
    )


def corpus_index_frames(
    corpus: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """The four corpus-side frames incremental dedup joins against:
    distinct content digests, band keys, shingle hashes, shingle
    counts.  Derived on the fly here; ``datapipe.index`` persists the
    same four frames so the lake is indexed ONCE and every ingest
    batch reads the index instead of re-scanning the corpus."""
    from ..session import tracked_cache

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    digests = corpus.select(F.md5(norm).alias("dup_group")).distinct()
    sh_c = tracked_cache(shingles(corpus, n, text_col, id_col))
    return {
        "digests": digests,
        "bands": _banded(minhash_signatures_from(sh_c, id_col), id_col),
        "shingles": sh_c,
        "sizes": sh_c.groupBy(id_col).agg(F.count("*").alias("n_sh")),
    }


def _incremental_core(
    idx: dict,
    batch: DataFrame,
    n: int,
    threshold: float,
    text_col: str,
    id_col: str,
    bucket_cap: int,
) -> DataFrame:
    from ..session import tracked_cache

    # ---- exact layer ----
    c_digests = idx["digests"].withColumn("__in_c", F.lit(1))
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    b = batch.select(F.col(id_col), F.md5(norm).alias("dup_group"))
    wg = Window.partitionBy("dup_group")
    b = b.withColumn("__min_b", F.min(id_col).over(wg)).join(
        c_digests, "dup_group", "left"
    )

    # ---- near layer ----
    sh_b = tracked_cache(shingles(batch, n, text_col, id_col))
    sh_c = idx["shingles"]
    banded_b = _banded(minhash_signatures_from(sh_b, id_col), id_col)
    banded_c = idx["bands"]

    sz_b = sh_b.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sz_c = idx["sizes"]

    # batch × corpus: broadcast the (small) batch band keys
    bc_cand = (
        banded_c.join(
            F.broadcast(
                banded_b.select(
                    F.col(id_col).alias("id_b"), "band", "band_key"
                )
            ),
            ["band", "band_key"],
        )
        .select(F.col(id_col).alias("id_c"), "id_b")
        .distinct()
    )
    # exact-preserving size prefilter (same bound as minhash_lsh_pairs:
    # J ≤ min/max of the shingle-set sizes) — candidates die on a cheap
    # int join BEFORE the per-shingle verification fan-out; the batch
    # size table broadcasts, the corpus one stays shuffle-hash
    bc_cand = (
        bc_cand.join(
            sz_c.select(
                F.col(id_col).alias("id_c"), F.col("n_sh").alias("__nc")
            ).hint("shuffle_hash"),
            "id_c",
        )
        .join(
            F.broadcast(
                sz_b.select(
                    F.col(id_col).alias("id_b"), F.col("n_sh").alias("__nb")
                )
            ),
            "id_b",
        )
        .filter(
            F.least("__nc", "__nb").cast("double")
            >= F.lit(float(threshold)) * F.greatest("__nc", "__nb")
            - F.lit(1e-9)
        )
        .select("id_c", "id_b")
    )
    bc_inter = (
        bc_cand.join(
            sh_b.select(F.col(id_col).alias("id_b"), "shingle_hash"), "id_b"
        )
        .join(
            sh_c.select(F.col(id_col).alias("id_c"), "shingle_hash"),
            ["id_c", "shingle_hash"],
        )
        .groupBy("id_c", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    bc_near = (
        bc_inter.join(
            sz_c.select(F.col(id_col).alias("id_c"), F.col("n_sh").alias("n_c")),
            "id_c",
        )
        .join(
            sz_b.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .filter(
            F.col("inter")
            / (F.col("n_c") + F.col("n_b") - F.col("inter"))
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__near_c", F.lit(1))
    )

    # batch × batch (smaller-id wins): the standard salted self-join
    bb_cand = (
        salted_self_join_pairs(banded_b, ["band", "band_key"], id_col, cap=bucket_cap)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    bb_cand = (  # same size prefilter, batch×batch (both sides tiny)
        bb_cand.join(
            F.broadcast(
                sz_b.select(
                    F.col(id_col).alias("id_a"), F.col("n_sh").alias("__na")
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sz_b.select(
                    F.col(id_col).alias("id_b"), F.col("n_sh").alias("__nb")
                )
            ),
            "id_b",
        )
        .filter(
            F.least("__na", "__nb").cast("double")
            >= F.lit(float(threshold)) * F.greatest("__na", "__nb")
            - F.lit(1e-9)
        )
        .select("id_a", "id_b")
    )
    bb_inter = (
        bb_cand.join(
            sh_b.select(F.col(id_col).alias("id_a"), "shingle_hash"), "id_a"
        )
        .join(
            sh_b.select(F.col(id_col).alias("id_b"), "shingle_hash"),
            ["id_b", "shingle_hash"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    bb_near = (
        bb_inter.join(
            sz_b.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sz_b.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .filter(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))  # the LARGER id of each pair
        .distinct()
        .withColumn("__near_b", F.lit(1))
    )

    out = (
        b.join(F.broadcast(bc_near), id_col, "left")
        .join(F.broadcast(bb_near), id_col, "left")
        .withColumn(
            "verdict",
            F.when(F.col("__in_c") == 1, F.lit("duplicate_of_corpus"))
            .when(F.col("__min_b") < F.col(id_col), F.lit("duplicate_in_batch"))
            .when(F.col("__near_c") == 1, F.lit("near_dup_of_corpus"))
            .when(F.col("__near_b") == 1, F.lit("near_dup_in_batch"))
            .otherwise(F.lit("new")),
        )
    )
    return out.select(id_col, "verdict")


def lsh_recall_stats(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    band_rows: int = BAND_ROWS,
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """Acceptance probe for the MinHash-LSH banding config: recall of
    the banded candidate set against the EXACT n-gram-Jaccard pair set
    at ``threshold``, plus candidate precision (verified hits /
    candidates emitted).

    Completes the acceptance-probe family (``ann_recall`` for
    IVF/sign-LSH ANN, ``pq_recall`` for product quantization): before
    trusting a band layout at 100 TB you measure, on a bounded corpus
    slice, how much of the exact-duplicate mass the s-curve keeps and
    how much candidate volume it costs.  The exact side is the O(df²)
    co-shingle join — affordable precisely because this runs on a
    sample/gate-scale slice, which is the point of a probe.

    One row: ``n_true_pairs, n_candidates, n_hits, recall,
    candidate_precision``.

    ``band_rows``/``num_perm`` mirror :func:`minhash_lsh_pairs` — run
    the probe at the SAME banding config you intend to deploy (r12
    measured the default 4×4 at recall 1.000 / precision 0.988 on
    sf0.1 after the full-range permutation fix; the degenerate
    small-prime family scored 0.977 / 0.022).
    """
    from ..session import tracked_cache

    sh = tracked_cache(shingles(df, n, text_col, id_col))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    inter = (
        salted_self_join_pairs(sh, ["shingle_hash"], id_col, cap=bucket_cap)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    truth = (
        inter.join(na.hint("shuffle_hash"), "id_a")
        .join(nb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )
    # LAZY (r13 A/B, kept deliberately): truth feeds two of the three
    # aggregate branches under one crossJoin action, but the eager
    # materialization barrier measured SLOWER than any recompute race
    # (minhash_recall 6.8-7.8 s eager vs 5.3-5.8 s lazy, 3 alternating
    # cells; the banded config a wash) — AQE's ReusedExchange already
    # dedupes the shared lineage within the action.
    truth = tracked_cache(truth)

    sig = minhash_signatures_from(sh, id_col, num_perm=num_perm)
    cand = (
        salted_self_join_pairs(
            _banded(sig, id_col, band_rows=band_rows, num_perm=num_perm),
            ["band", "band_key"], id_col,
            cap=bucket_cap,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    cand = tracked_cache(cand)

    tc = truth.agg(F.count("*").alias("n_true_pairs"))
    cc = cand.agg(F.count("*").alias("n_candidates"))
    hc = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count("*").alias("n_hits")
    )
    nt, nc, nh = F.col("n_true_pairs"), F.col("n_candidates"), F.col("n_hits")
    return (
        tc.crossJoin(cc)
        .crossJoin(hc)
        .select(
            nt,
            nc,
            nh,
            F.when(nt > 0, nh * F.lit(1.0) / nt).alias("recall"),
            F.when(nc > 0, nh * F.lit(1.0) / nc).alias(
                "candidate_precision"
            ),
        )
    )


def dup_source_matrix(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Cross-source duplication matrix: for every (source, source)
    pair, how many verified near-dup pairs (MinHash-LSH at
    ``threshold``) cross it, and what fraction of the possible
    cross-pairs that is — the leakage/overlap report a curated lake
    publishes per ingest (e.g. how much of source B is already in A).

    The expensive part is the LSH pair generation the dedup path runs
    anyway; the matrix itself is two broadcast joins of a tiny
    (doc→source) projection onto the pair set plus one |sources|²-row
    aggregate.  ``pair_rate`` divides by the exact pair-universe size
    (n_a·n_b cross, n·(n-1)/2 within), so sources of different size
    are comparable.
    """
    pairs = minhash_lsh_pairs(
        df, n=n, threshold=threshold, text_col=text_col, id_col=id_col,
        bucket_cap=bucket_cap,
    )
    src = df.select(F.col(id_col), F.col(source_col))
    sa = src.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa")
    )
    sb = src.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb")
    )
    labeled = (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
    )
    mat = labeled.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs")
    )
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    ca = counts.select(
        F.col(source_col).alias("source_a"), F.col("n_docs").alias("n_docs_a")
    )
    cb = counts.select(
        F.col(source_col).alias("source_b"), F.col("n_docs").alias("n_docs_b")
    )
    out = mat.join(F.broadcast(ca), "source_a").join(
        F.broadcast(cb), "source_b"
    )
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        (F.col("n_docs_a") * (F.col("n_docs_a") - F.lit(1)))
        .cast("double") / F.lit(2.0),
    ).otherwise(
        (F.col("n_docs_a") * F.col("n_docs_b")).cast("double")
    )
    return out.select(
        "source_a",
        "source_b",
        "n_pairs",
        "n_docs_a",
        "n_docs_b",
        (F.col("n_pairs") / denom).alias("pair_rate"),
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Asymmetric shingle containment ``C(A→B) = |A∩B| / |A|`` for
    doc pairs sharing a shingle; emits directed rows where the
    CONTAINED side's overlap ratio meets ``threshold``.

    The one-sided cousin of n-gram Jaccard: a short doc quoted inside
    a long one scores near-zero Jaccard (the union is huge) but
    containment ≈ 1 — the signal for quote/subset/boilerplate
    absorption that symmetric dedup misses.

    Same scale shape as ``ngram_jaccard_pairs`` (shingle-bucketed,
    skew-guarded equi join); the only delta is the denominator and the
    directed output ``(id_contained, id_container, containment)``.
    """
    sh = shingles(df, n, text_col, id_col)
    if max_shingle_df is not None:
        freq = sh.groupBy("shingle_hash").agg(F.count("*").alias("df_count"))
        sh = (
            sh.join(freq, "shingle_hash")
            .filter(F.col("df_count") <= max_shingle_df)
            .drop("df_count")
        )
    from ..session import tracked_cache

    sh = tracked_cache(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    inter = (
        salted_self_join_pairs(sh, ["shingle_hash"], id_col, cap=bucket_cap)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    both = inter.join(na, "id_a").join(nb, "id_b")
    ab = both.select(
        F.col("id_a").alias("id_contained"),
        F.col("id_b").alias("id_container"),
        (F.col("inter") * F.lit(1.0) / F.col("n_a")).alias("containment"),
    )
    ba = both.select(
        F.col("id_b").alias("id_contained"),
        F.col("id_a").alias("id_container"),
        (F.col("inter") * F.lit(1.0) / F.col("n_b")).alias("containment"),
    )
    return ab.unionByName(ba).filter(F.col("containment") >= threshold)


def winnow_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 16,
    min_overlap: float = 0.5,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs by shared WINNOWING fingerprints (Schleimer
    et al. SIGMOD'03) — the substring-level complement of the
    token-shingle families: winnowing guarantees selected hashes for
    any sufficiently long common substring, so it catches copied
    PASSAGES between otherwise-different documents (the MOSS use
    case), which whole-document MinHash dilutes away.

    Pairs are generated from the fingerprint postings (one self-join
    on ``fp_hash`` through the salted skew guard — a boilerplate hash
    shared by thousands of docs cannot serialize one task), scored by
    containment-style overlap ``shared / min(n_a, n_b)`` (rational of
    integers), and kept at ``overlap ≥ min_overlap``.

    Returns ``id_a, id_b, shared, n_a, n_b, overlap``.
    """
    from .text import winnow_fingerprints

    fps = winnow_fingerprints(
        df, k=k, window=window, text_col=text_col, id_col=id_col
    ).select(id_col, "fp_hash")
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    pairs = salted_self_join_pairs(
        fps, keys=["fp_hash"], id_col=id_col, cap=bucket_cap
    )
    shared = pairs.groupBy(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ).agg(F.count("*").alias("shared"))
    na = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_a")
    )
    nb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_fp").alias("n_b")
    )
    out = (
        shared.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .withColumn(
            "overlap", F.col("shared") / F.least(F.col("n_a"), F.col("n_b"))
        )
        .filter(F.col("overlap") >= F.lit(float(min_overlap)))
    )
    return out.select("id_a", "id_b", "shared", "n_a", "n_b", "overlap")
