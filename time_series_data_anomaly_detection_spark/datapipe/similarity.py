"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query set is broadcast (it is small by definition); the corpus
  streams through one projection + per-query top-k window. No corpus
  self-shuffle.
- ``ann_lsh_topk``: the scale path — sign-LSH bucketing (axis-aligned
  hyperplanes on the first k dims) turns the query×corpus cross join
  into an equi-join on the bucket key; only same-bucket candidates
  pay the exact cosine. Deterministic (no random planes), hence
  oracle-checkable; swap in random hyperplanes / IVF centroids for
  production recall.

Dot products are ``zip_with`` + ``aggregate`` folds in float64 —
JVM-side, no Python. For very wide vectors a Pandas-UDF matmul batch
variant wins; at 64-d the native fold is already compute-trivial
relative to the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _dot, _norm


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("nrm", _norm(F.col(vec_col)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query.

    Output: (query_id, match_id, cosine, rank), rank 1..k, self-match
    excluded, ties broken by match_id ascending (determinism).
    """
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn") + F.lit(1e-12))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(vec_col, bits: int):
    """Deterministic sign-LSH bucket id from the first ``bits`` dims."""
    sig = None
    for d in range(bits):
        term = F.when(
            F.element_at(vec_col, d + 1).cast("double") > 0, F.lit(1 << d)
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sig.cast("long")


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bucket_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign-LSH
    bucket, then exact cosine + per-query top-k within candidates.

    The join is equi on ``bucket`` → hash-partitionable, no cross
    join anywhere. Buckets are the unit of skew: at scale, repartition
    by bucket and handle hot buckets with AQE skew splitting.
    """
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        sign_bucket(F.col(vec_col), bucket_bits).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        sign_bucket(F.col(vec_col), bucket_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn") + F.lit(1e-12))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    max_iter: int = 5,
    seed: int = 7,
) -> DataFrame:
    """Train IVF centroids with Spark ML's k-means|| — the scale-path
    coarse quantizer (parallel init + Lloyd iterations, all
    distributed).  Returns the same (cent_id, cent_v, cent_n) frame
    shape the seed variant uses; the centroid table is O(n_cells)
    rows and lives comfortably on the driver/broadcast."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__fv")
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__fv"
    ).fit(feats)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    cents = spark.createDataFrame(
        rows, "cent_id int, cent_v array<double>"
    )
    return cents.select(
        "cent_id", "cent_v", _norm(F.col("cent_v")).alias("cent_n")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mode: str = "seed",
) -> DataFrame:
    """IVF-flat approximate top-k: the coarse-quantizer scale path.

    Corpus vectors are assigned to the nearest of ``n_cells`` centroid
    cells; each query probes its ``nprobe`` nearest cells and pays the
    exact cosine only against those cells' members.  The candidate set
    is bounded by nprobe/n_cells of the corpus — the property that
    keeps query cost flat as the corpus grows (LSH bounds candidates by
    collision probability instead; both shapes ship).

    ``centroid_mode="seed"`` uses a deterministic seed (the
    ``n_cells`` smallest ids) so the operator is oracle-checkable;
    ``"kmeans"`` trains real centroids with k-means||
    (:func:`kmeans_centroids`) — the assignment/probe/join dataflow is
    identical either way, and that dataflow is what this operator
    pins: one broadcast of the (tiny) centroid table, one argmax pass
    per side, one equi-join on cell.

    Above 64 cells the operator switches to TWO-LEVEL routing (the
    flat assignment would be an N·n_cells ranked cross join): ~√n_cells
    super-centroids partition the centroid table, and each row — corpus
    AND query — is assigned within its single nearest super-cell.  This
    changes ``nprobe`` semantics at >64 cells: a query ranks only the
    sub-centroids inside its own super-cell, so its effective probe
    breadth is capped by that super-cell's size and neighbors that
    quantize across the super-cell boundary are unreachable — the
    standard hierarchical-IVF recall trade.  Measured at 2M vectors /
    1024 cells the two-level recall was 1.000 vs flat (SCALING.md,
    "ANN at 2M vectors"); re-measure with :func:`topk_recall` before trusting a
    materially different dimension/cell layout, and if boundary loss
    shows up, probe the top-2 super-cells (doubles the assignment join
    fan-in, halves the boundary exposure).
    """
    if centroid_mode == "kmeans":
        cents = kmeans_centroids(corpus, n_cells, vec_col)
    else:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).alias("cent_v"),
                _norm(F.col(vec_col)).alias("cent_n"),
            )
        )

    # ≤ 64 cells (the gate shape): flat assignment — every row meets
    # every centroid through one broadcast join, N·k dot products.
    # BEYOND 64 cells flat assignment is the baked-small-shape trap
    # (2M vectors × 1000 cells = a 2B-row ranked cross join): route
    # through the SAME two-level scheme as semantic_dedup — ~√k
    # super-centroids assign map-side from a literal array, each row
    # then meets only ITS super-cell's sub-centroids via an equi-join
    # (cost N·√k + N·(k/√k)); the cell key stays the globally-unique
    # cent_id, so the downstream probe join is identical.  Queries
    # rank their own super-cell's sub-centroids and keep nprobe — a
    # query on a super-cell boundary probes within one super-cell
    # only, which is the standard hierarchical-IVF recall trade;
    # measure it with topk_recall before trusting a layout (as in
    # SCALING.md, "ANN at 2M vectors").
    two_level = n_cells > 64
    if two_level:
        l1_cnt = min(64, max(8, int(n_cells ** 0.5) + 1))
        l1_rows = sorted(
            cents.orderBy("cent_id").limit(l1_cnt).collect(),
            key=lambda r: r["cent_id"],
        )
        dim = len(l1_rows[0]["cent_v"])
        subs = _literal_cell_assign(
            cents.select(
                "cent_id",
                F.col("cent_v").alias("v"),
                F.col("cent_n").alias("nrm"),
            ),
            l1_rows,
            "cent_id",
        ).select(
            F.col("cell").alias("__l1"),
            "cent_id",
            F.col("v").alias("cent_v"),
            F.col("nrm").alias("cent_n"),
        )
        # broadcast only while dimension-sized (bytes rule, the
        # semantic_dedup lesson) — never an estimate-driven auto pick
        subs_j = (
            F.broadcast(subs)
            if n_cells * dim * 8 <= 32 * 1024 * 1024
            else subs.hint("shuffle_hash")
        )

    def assign(side: DataFrame, out_id: str, n_keep: int) -> DataFrame:
        s = side.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        )
        cc = (
            _dot(F.col("v"), F.col("cent_v"))
            / (F.col("nrm") * F.col("cent_n") + F.lit(1e-12))
        )
        w = Window.partitionBy(out_id).orderBy(
            F.desc("__cc"), F.asc("cent_id")
        )
        if two_level:
            meet = _literal_cell_assign(s, l1_rows, out_id).withColumnRenamed(
                "cell", "__l1"
            ).join(subs_j, "__l1")
        else:
            meet = s.join(F.broadcast(cents))
        return (
            meet.withColumn("__cc", cc)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n_keep)
            .select(out_id, "v", "nrm", F.col("cent_id").alias("cell"))
        )

    c = assign(corpus, "match_id", 1)
    q = assign(queries, "query_id", nprobe).select(
        "query_id",
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            (
                _dot(F.col("qv"), F.col("v"))
                / (F.col("qn") * F.col("nrm") + F.lit(1e-12))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one: |approx ∩ exact| / |exact|.

    The quality gate every ANN deployment runs before trusting the
    index (FAISS/ScaNN report the same metric).  Both inputs are
    (query_id, match_id, ...) frames from the operators above; the
    exact side is the expensive one, so at scale this probe runs over a
    sampled query set — the recall estimate needs only enough queries
    for a stable mean, not the full workload.  The join is equi on
    (query_id, match_id) between two k·|queries| frames — trivially
    broadcastable.
    """
    e = exact.select("query_id", "match_id")
    a = approx.select("query_id", "match_id").withColumn("__hit", F.lit(1))
    j = e.join(F.broadcast(a), ["query_id", "match_id"], "left")
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        (
            F.coalesce(F.sum("__hit"), F.lit(0)) / F.count("*")
        ).alias("recall"),
    )


def knn_label_agreement(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space quality probe: for each query vector, the
    fraction of its exact top-k cosine neighbors sharing its label.

    The standard label-coherence check run before trusting an embedding
    column for curation (near-duplicate mining, stratified sampling,
    classifier distillation): agreement ~ 1/n_labels means the space
    carries no label signal.  Built on the deterministic cosine_topk,
    so it is oracle-checkable end to end; labels ride a broadcast join
    (one row per corpus vector).
    """
    top = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(
        F.col(id_col).alias("__lid"), F.col(label_col).alias("__lab")
    )
    q_lab = labels.select(
        F.col("__lid").alias("query_id"), F.col("__lab").alias("query_label")
    )
    n_lab = labels.select(
        F.col("__lid").alias("match_id"), F.col("__lab").alias("match_label")
    )
    joined = top.join(F.broadcast(q_lab), "query_id").join(
        F.broadcast(n_lab), "match_id"
    )
    return joined.groupBy("query_id", "query_label").agg(
        F.count("*").alias("n_neighbors"),
        (
            F.sum(
                (F.col("match_label") == F.col("query_label")).cast("int")
            )
            / F.count("*")
        ).alias("agreement"),
    )


def _literal_cell_assign(s, cent_rows, id_col):
    """Nearest-centroid assignment with the centroid table riding the
    scan as a LITERAL array — zero-shuffle, for dimension-sized
    centroid counts.  Argmax cosine with cent_id-asc tie-break == min
    over (-cos, cid)."""
    from .dedup import _dot

    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(r["cent_id"])).cast("long").alias("cid"),
                F.array(*[F.lit(float(x)) for x in r["cent_v"]]).alias("cv"),
                F.lit(float(r["cent_n"])).alias("cn"),
            )
            for r in cent_rows
        ]
    )
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            (
                -(
                    _dot(F.col("v"), c["cv"])
                    / (F.col("nrm") * c["cn"] + F.lit(1e-12))
                )
            ).alias("neg"),
            c["cid"].alias("cid"),
        ),
    )
    return s.select(
        id_col, "v", "nrm", F.sort_array(scored)[0]["cid"].alias("cell")
    )


def _int8_lower_max(assigned, threshold, bucket_cap, id_col):
    """int8-quantized pair pass for :func:`semantic_dedup` — the
    shuffle-payload scale lever (r10 SCALING noted-not-taken item):
    the salted within-cell self-join carries 1-byte codes + one scale
    float per vector (~8× lighter than the float64 embedding at any
    dim) and only pairs whose QUANTIZED cosine upper bound can reach
    ``threshold`` are re-checked exactly against the full vectors (an
    id-equi join touching just the candidate ids).

    Guarantees (and the unit test pins them):

    - ``keep`` decisions are EXACT: for any pair with true cosine ≥
      threshold, the conservative error bound makes its upper bound ≥
      threshold, so it is always re-checked; the exact re-check uses
      the IDENTICAL float expression as exact mode, so the surviving
      max is bit-equal.
    - ``max_lower_cos`` is exact for every DROPPED row (its true
      argmax pair is in the re-checked set); for KEPT rows it is the
      best available estimate (max of quantized scores and any exact
      re-checks), clamped below threshold so the keep invariant
      ``keep ⇔ max_lower_cos < threshold`` still holds.

    Error bound per pair: with per-vector scale s = max|v_i|/127 the
    reconstruction error satisfies ‖v − r‖ ≤ s·√d/2, so
    |cos − q| ≤ (e_a·‖b‖ + (‖a‖+e_a)·e_b) / (‖a‖·‖b‖), e_x = s_x·√d/2
    (inflated by 1e-4 relative + 1e-9 absolute for float evaluation).
    """
    from ._skew import salted_self_join_pairs
    from .dedup import _dot

    m = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    s = F.greatest(m / F.lit(127.0), F.lit(1e-30))
    codes = F.transform(
        F.col("v"), lambda x: F.round(x / s).cast("tinyint")
    )
    q8 = assigned.select(
        F.col(id_col), "cell", "nrm", s.alias("qs"), codes.alias("qc")
    )
    pairs = salted_self_join_pairs(
        q8, keys=["cell"], id_col=id_col, cap=bucket_cap
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("a.qc"),
            F.col("b.qc"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = F.col("a.nrm") * F.col("b.nrm") + F.lit(1e-12)
    q = (F.col("a.qs") * F.col("b.qs") * idot.cast("double")) / den
    half = F.sqrt(F.size(F.col("a.qc")).cast("double")) / F.lit(2.0)
    ea = F.col("a.qs") * half
    eb = F.col("b.qs") * half
    err = (
        (ea * F.col("b.nrm") + (F.col("a.nrm") + ea) * eb) / den
    ) * F.lit(1.0001) + F.lit(1e-9)
    scored = pairs.select(
        F.col(f"a.{id_col}").alias("__aid"),
        F.col(f"b.{id_col}").alias("__bid"),
        q.alias("__q"),
        (q + err >= F.lit(float(threshold))).alias("__cand"),
    )
    vecs = assigned.select(F.col(id_col), "v", "nrm")
    exact = (
        scored.filter(F.col("__cand"))
        .select("__aid", "__bid")
        .join(
            vecs.select(
                F.col(id_col).alias("__aid"),
                F.col("v").alias("__av"),
                F.col("nrm").alias("__an"),
            ),
            "__aid",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("__bid"),
                F.col("v").alias("__bv"),
                F.col("nrm").alias("__bn"),
            ),
            "__bid",
        )
        .select(
            "__bid",
            (
                _dot(F.col("__av"), F.col("__bv"))
                / (F.col("__an") * F.col("__bn") + F.lit(1e-12))
            ).alias("__c"),
        )
        .groupBy(F.col("__bid").alias(id_col))
        .agg(F.max("__c").alias("__exact"))
    )
    thr = F.lit(float(threshold))
    return (
        scored.groupBy(F.col("__bid").alias(id_col))
        .agg(F.max("__q").alias("__est"))
        .join(exact, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__exact") >= thr, F.col("__exact"))
            .otherwise(
                F.least(
                    F.greatest(
                        F.col("__est"),
                        F.coalesce(F.col("__exact"), F.lit(-1.0)),
                    ),
                    thr - F.lit(1e-9),
                )
            )
            .alias("__max_lower"),
        )
    )


def _subcentroid_assign(a1, subs, n_cells, dim, id_col):
    """Second level of the two-level cell assignment: each row (already
    carrying its super-cell ``__l1``) meets only its super-cell's
    sub-centroids through an equi-join, then keeps the argmax-cosine
    sub-centroid as its final cell.

    The sub-centroid table is ``n_cells`` rows of ``dim`` doubles —
    broadcast only while its BYTES stay dimension-sized (rows × dim ×
    8 ≤ 32 MB; a fixed row-count cutoff would ship ~1 GB per executor
    at 768-dim), shuffle-hash beyond that (never an estimate-driven
    auto-broadcast — the dedup lesson)."""
    from .dedup import _dot

    subs_j = (
        F.broadcast(subs)
        if n_cells * dim * 8 <= 32 * 1024 * 1024
        else subs.hint("shuffle_hash")
    )
    neg = -(
        _dot(F.col("v"), F.col("__cv"))
        / (F.col("nrm") * F.col("__cn") + F.lit(1e-12))
    )
    return (
        a1.join(subs_j, "__l1")
        .groupBy(id_col)
        .agg(
            F.first("v").alias("v"),
            F.first("nrm").alias("nrm"),
            F.min(
                F.struct(neg.alias("neg"), F.col("__cid").alias("cid"))
            )["cid"].alias("cell"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mode: str = "seed",
    bucket_cap: int = 4096,
    target_cell: int = 128,
    pair_payload: str = "exact",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space into ``n_cells`` centroid cells, then
    inside each cell drop every vector whose cosine to a LOWER-ID
    cell-mate reaches ``threshold`` (the lowest id of each semantic
    clump survives — deterministic, single pass, no fixpoint).

    Output: one row per corpus vector — ``(vec_id, cell,
    max_lower_cos, keep)`` with ``max_lower_cos`` = the max cosine to
    any lower-id member of the same cell (-1.0 when none exists).

    Scale shape: the all-pairs comparison is confined to cells (the
    SemDeDup trick), the within-cell self-join rides the salted skew
    guard (:func:`datapipe._skew.salted_self_join_pairs`) so one hot
    cell cannot become a straggler task.  ``n_cells=None`` (default)
    AUTO-SCALES the cell count to ``max(16, N // target_cell)`` —
    with a FIXED cell count the within-cell pair term is O(N²/k) and
    the r10 100× stress measured exactly that (218–245× growth for
    100× vectors at k=16); constant per-cell occupancy makes pair
    work linear in N.  Assignment by cell count:

    - ≤ 64 cells: the centroid table rides the corpus scan as a
      LITERAL array — zero shuffle, no join (the gate-SF shape).
    - > 64 cells: TWO-LEVEL seed assignment (the IVF-style answer to
      "k grows with N but a literal array cannot"): ~√n_cells
      super-centroids assign map-side from a literal array, then each
      row meets only ITS super-cell's ~√n_cells sub-centroids through
      an equi-join on the super-cell key — assignment cost N·√k
      instead of N·k, pair cost stays N·target_cell.  The final cell
      key is the chosen sub-centroid's vec_id (globally unique).

    ``pair_payload="int8"`` switches the within-cell pair pass to
    1-byte quantized codes with exact re-check of threshold-possible
    pairs — ~8× lighter pair shuffle at any dim, identical ``keep``
    decisions and exact ``max_lower_cos`` for every dropped row (see
    :func:`_int8_lower_max`); ``"exact"`` (default, the gate path)
    carries the full vectors and reports exact maxes everywhere.
    Caveat (int8 mode only): for KEPT rows ``max_lower_cos`` is the
    max over quantized estimates and exact re-checks, and a quantized
    estimate can EXCEED the true cosine by up to the quantization
    error (clamped below threshold) — so a kept row's value may
    overstate, not just differ from, the true max.  The keep
    invariant ``keep ⇔ max_lower_cos < threshold`` still holds.

    ``centroid_mode="kmeans"`` trains real k-means|| centroids at an
    explicit ``n_cells`` (seed mode is the deterministic,
    oracle-checkable fixture; auto-scaled ``n_cells=None`` raises here
    — the trained-centroid count must be sized by the caller).  Above
    64 cells the trained centroids route through the SAME two-level
    assignment as seed mode: the first ~√k centroids become
    super-centroids and the rest are themselves nearest-assigned
    Spark-side, so no plan ever embeds thousands of centroid literals.
    """
    from ._skew import salted_self_join_pairs
    from .dedup import _dot, _norm

    s = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v"), _norm(F.col(vec_col)).alias("nrm")
    )
    if n_cells is None:
        if centroid_mode == "kmeans":
            # auto-scaled k would silently feed thousands of trained
            # centroids into ONE literal Catalyst expression (the
            # exact plan/driver blow-up the two-level path exists to
            # avoid); kmeans callers must size k explicitly
            raise ValueError(
                "centroid_mode='kmeans' requires an explicit n_cells"
            )
        n_cells = max(16, s.count() // int(target_cell))

    if centroid_mode == "kmeans":
        cents = kmeans_centroids(corpus, n_cells, vec_col)
        if n_cells <= 64:
            cent_rows = sorted(cents.collect(), key=lambda r: r["cent_id"])
            assigned = _literal_cell_assign(s, cent_rows, id_col)
        else:
            # same two-level split as seed mode: the first ~sqrt(k)
            # TRAINED centroids act as super-centroids; every other
            # centroid is itself assigned to its nearest super-centroid
            # Spark-side (never collected into plan literals)
            l1_cnt = min(64, max(8, int(n_cells ** 0.5) + 1))
            l1_rows = sorted(
                cents.orderBy("cent_id").limit(l1_cnt).collect(),
                key=lambda r: r["cent_id"],
            )
            a1 = _literal_cell_assign(s, l1_rows, id_col).withColumnRenamed(
                "cell", "__l1"
            )
            subs = _literal_cell_assign(
                cents.select(
                    F.col("cent_id"),
                    F.col("cent_v").alias("v"),
                    F.col("cent_n").alias("nrm"),
                ),
                l1_rows,
                "cent_id",
            ).select(
                F.col("cell").alias("__l1"),
                F.col("cent_id").cast("long").alias("__cid"),
                F.col("v").alias("__cv"),
                F.col("nrm").alias("__cn"),
            )
            assigned = _subcentroid_assign(
                a1, subs, n_cells, len(l1_rows[0]["cent_v"]), id_col
            )
    elif n_cells <= 64:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).alias("cent_v"),
                _norm(F.col(vec_col)).alias("cent_n"),
            )
        )
        cent_rows = sorted(cents.collect(), key=lambda r: r["cent_id"])
        assigned = _literal_cell_assign(s, cent_rows, id_col)
    else:
        # two-level seed assignment (see docstring)
        l1_cnt = min(64, max(8, int(n_cells ** 0.5) + 1))
        l1 = (
            corpus.orderBy(id_col)
            .limit(l1_cnt)
            .select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).alias("cent_v"),
                _norm(F.col(vec_col)).alias("cent_n"),
            )
        )
        l1_rows = sorted(l1.collect(), key=lambda r: r["cent_id"])
        a1 = _literal_cell_assign(s, l1_rows, id_col).withColumnRenamed(
            "cell", "__l1"
        )
        per = max(1, n_cells // l1_cnt)
        wsub = Window.partitionBy("__l1").orderBy(id_col)
        subs = (
            a1.withColumn("__rk", F.row_number().over(wsub))
            .filter(F.col("__rk") <= per)
            .select(
                F.col("__l1"),
                F.col(id_col).alias("__cid"),
                F.col("v").alias("__cv"),
                F.col("nrm").alias("__cn"),
            )
        )
        assigned = _subcentroid_assign(
            a1, subs, n_cells, len(l1_rows[0]["cent_v"]), id_col
        )
    if pair_payload == "int8":
        # scale mode: 1-byte codes through the pair shuffle, exact
        # re-check of threshold-possible pairs only (see helper doc)
        lower_max = _int8_lower_max(assigned, threshold, bucket_cap, id_col)
    else:
        pairs = salted_self_join_pairs(
            assigned, keys=["cell"], id_col=id_col, cap=bucket_cap
        )
        cos = _dot(F.col("a.v"), F.col("b.v")) / (
            F.col("a.nrm") * F.col("b.nrm") + F.lit(1e-12)
        )
        # a[id] < b[id] by construction: the higher id accumulates the
        # max cosine to its lower-id cell-mates
        lower_max = (
            pairs.select(
                F.col(f"b.{id_col}").alias(id_col), cos.alias("__cos")
            )
            .groupBy(id_col)
            .agg(F.max("__cos").alias("__max_lower"))
        )
    out = assigned.select(id_col, "cell").join(lower_max, id_col, "left")
    mx = F.coalesce(F.col("__max_lower"), F.lit(-1.0))
    # max_lower_cos emitted RAW (gate queries quantize with _rnd); keep
    # compares the raw value so rounding can't flip the decision
    return out.select(
        id_col,
        "cell",
        mx.alias("max_lower_cos"),
        (mx < F.lit(float(threshold))).cast("int").alias("keep"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011) — the
    memory-compression scale path next to sign-LSH (collision-bounded)
    and IVF (cell-bounded): each vector is stored as ``m`` sub-space
    code ids (here m·log2(n_codes) = 16 BITS per 64-d vector instead
    of 256 bytes), and queries score against the RECONSTRUCTED
    codewords (asymmetric distance, ADC) — the full corpus never needs
    its float vectors in memory at query time.

    Deterministic-by-construction (codebooks = the sub-vectors of the
    ``n_codes`` smallest-id vectors, the same seed convention as
    ivf_topk), hence oracle-checkable; production swaps per-subspace
    k-means codebooks into the identical dataflow.

    Scale shape: codebooks are m·n_codes tiny arrays riding into the
    scan as LITERALS (encoding is zero-shuffle, one map pass — same
    move as semantic_dedup's assignment); the query side broadcasts;
    distances accumulate in a FIXED expression order (d0+d1+...) so
    the result is bit-stable cross-engine.

    Output: (query_id, match_id, rank, adist) — approximate squared
    L2, rank 1..k ascending, ties by match_id.
    """
    rows = sorted(
        corpus.orderBy(id_col).limit(n_codes).collect(),
        key=lambda r: r[id_col],
    )
    dim = len(rows[0][vec_col])
    assert dim % m == 0, "embedding dim must divide into m sub-spaces"
    sub = dim // m
    # beyond gate-sized codebooks the expression encode is the wrong
    # tool: per-row sort_array over n_codes structs × m sub-spaces is
    # an interpreted Catalyst lambda per element — measured STUCK at
    # 2M vectors × (8 × 256 codes) where the 4×16 config finishes in
    # ~150 s.  Production code sizes route through the Arrow-batched
    # numpy kernel (vectorized encode + LUT ADC + partition-local
    # top-k); the ≤128-entry configs — every gate — keep the
    # oracle-replayable expression path byte-for-byte.
    if m * n_codes > 128:
        return _pq_topk_numpy(
            corpus, queries, rows, k, m, sub, id_col, vec_col
        )
    # codebooks[j] = literal array of structs (cid, 16-d codeword)
    cb = [
        F.array(
            *[
                F.struct(
                    F.lit(ci).alias("cid"),
                    F.array(
                        *[
                            F.lit(float(x))
                            for x in r[vec_col][j * sub : (j + 1) * sub]
                        ]
                    ).alias("cv"),
                )
                for ci, r in enumerate(rows)
            ]
        )
        for j in range(m)
    ]

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def subv(col, j):
        return F.slice(col, j * sub + 1, sub)

    # encode: per sub-space argmin (dist asc, cid asc) via sorted structs
    enc_cols = [
        F.sort_array(
            F.transform(
                cb[j],
                lambda c: F.struct(
                    sqdist(subv(F.col("v"), j), c["cv"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )[0]["cid"].alias(f"c{j}")
        for j in range(m)
    ]
    enc = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("v")
    ).select("match_id", *enc_cols)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # ADC: reconstruct each sub-space codeword by code id (element_at
    # into the literal codebook), fixed-order distance accumulation
    joined = enc.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
    adist = None
    for j in range(m):
        d = sqdist(
            subv(F.col("qv"), j),
            F.element_at(cb[j], F.col(f"c{j}") + 1)["cv"],
        )
        adist = d if adist is None else adist + d
    scored = joined.select("query_id", "match_id", adist.alias("adist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def incremental_semantic_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mode: str = "seed",
) -> DataFrame:
    """Dedup an ingest BATCH of vectors against an existing corpus —
    the embedding-side twin of ``dedup.incremental_dedup``: never
    re-compare the lake against itself, only test the new vectors
    (against the corpus, and against each other).

    Verdict ladder per batch vector (first failure wins)::

        near_dup_of_corpus   cosine >= t to any corpus vector in its cell
        near_dup_in_batch    cosine >= t to a smaller-id batch vector
        new                  admit

    Id spaces of corpus and batch are assumed disjoint (ingest assigns
    fresh ids).  Scale shape — everything batch-side-driven: centroids
    seed from the CORPUS and ride in as literals (both assignments are
    map-side, zero shuffle); the batch side is broadcast into the
    corpus cell scan, so the corpus is scanned once and never
    self-joined; the batch-internal pairs are batch-sized.  At steady
    state the corpus cell assignment is the persisted index (write
    ``(vec_id, cell)`` once, reuse every batch — same pattern as
    ``datapipe.index``).
    """
    from .dedup import _dot, _norm

    if centroid_mode == "kmeans":
        cents_df = kmeans_centroids(corpus, n_cells, vec_col)
        cent_rows = sorted(cents_df.collect(), key=lambda r: r["cent_id"])
        cent_pairs = [
            (int(r["cent_id"]), [float(x) for x in r["cent_v"]])
            for r in cent_rows
        ]
    else:
        rows = sorted(
            corpus.orderBy(id_col).limit(n_cells).collect(),
            key=lambda r: r[id_col],
        )
        cent_pairs = [
            (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in rows
        ]
    import math

    cent_arr = F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(x) for x in cv]).alias("cv"),
                F.lit(math.sqrt(sum(x * x for x in cv))).alias("cn"),
            )
            for cid, cv in cent_pairs
        ]
    )

    def assign(df):
        s = df.select(
            F.col(id_col),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        )
        scored = F.transform(
            cent_arr,
            lambda c: F.struct(
                (
                    -(
                        _dot(F.col("v"), c["cv"])
                        / (F.col("nrm") * c["cn"] + F.lit(1e-12))
                    )
                ).alias("neg"),
                c["cid"].alias("cid"),
            ),
        )
        return s.select(
            id_col, "v", "nrm", F.sort_array(scored)[0]["cid"].alias("cell")
        )

    c, b = assign(corpus), assign(batch)
    bb = F.broadcast(
        b.select(
            F.col(id_col).alias("id_b"),
            F.col("v").alias("bv"),
            F.col("nrm").alias("bn"),
            "cell",
        )
    )
    cos_cb = _dot(F.col("v"), F.col("bv")) / (
        F.col("nrm") * F.col("bn") + F.lit(1e-12)
    )
    vs_corpus = (
        c.join(bb, "cell")
        .select(F.col("id_b").alias(id_col), cos_cb.alias("__cos"))
        .groupBy(id_col)
        .agg(F.max("__cos").alias("__max_c"))
    )
    b2 = b.select(
        F.col(id_col).alias("id_lo"),
        F.col("v").alias("lv"),
        F.col("nrm").alias("ln"),
        "cell",
    )
    cos_bb = _dot(F.col("lv"), F.col("bv")) / (
        F.col("ln") * F.col("bn") + F.lit(1e-12)
    )
    vs_batch = (
        b2.join(bb, "cell")
        .filter(F.col("id_lo") < F.col("id_b"))
        .select(F.col("id_b").alias(id_col), cos_bb.alias("__cos"))
        .groupBy(id_col)
        .agg(F.max("__cos").alias("__max_b"))
    )
    out = (
        b.select(id_col, "cell")
        .join(vs_corpus, id_col, "left")
        .join(vs_batch, id_col, "left")
    )
    mc = F.coalesce(F.col("__max_c"), F.lit(-1.0))
    mb = F.coalesce(F.col("__max_b"), F.lit(-1.0))
    t = F.lit(float(threshold))
    return out.select(
        id_col,
        "cell",
        mc.alias("max_corpus_cos"),
        mb.alias("max_batch_cos"),
        F.when(mc >= t, F.lit("near_dup_of_corpus"))
        .when(mb >= t, F.lit("near_dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
    )


def embedding_density(
    corpus: DataFrame,
    k: int = 5,
    bucket_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = 4096,
) -> DataFrame:
    """Per-vector neighborhood DENSITY: the mean cosine to the vector's
    top-``k`` neighbors inside its sign-LSH bucket — the signal
    dataset-pruning methods rank on (dense region = prototypical /
    redundant; sparse = distinctive or noise), computed without any
    all-pairs pass.

    Output: (vec_id, bucket, n_neighbors, density); vectors alone in
    their bucket report n_neighbors 0, density -1.  The mean rides an
    exact DECIMAL sum so it is order- and engine-independent.

    Scale shape: candidate pairs are confined to buckets (grow
    ``bucket_bits`` with the corpus), generated once per unordered
    pair through the salted skew guard and emitted in both directions
    for the per-vector rank; the final aggregate touches ≤ k rows per
    vector.
    """
    from .._exact import DEC
    from ._skew import salted_self_join_pairs
    from .dedup import _dot, _norm

    s = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
        sign_bucket(F.col(vec_col), bucket_bits).alias("bucket"),
    )
    pairs = salted_self_join_pairs(
        s, keys=["bucket"], id_col=id_col, cap=bucket_cap
    )
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nrm") * F.col("b.nrm") + F.lit(1e-12)
    )
    both = pairs.select(
        "bucket",
        F.col(f"a.{id_col}").alias("src"),
        F.col(f"b.{id_col}").alias("dst"),
        cos.alias("cos"),
    ).unionByName(
        pairs.select(
            "bucket",
            F.col(f"b.{id_col}").alias("src"),
            F.col(f"a.{id_col}").alias("dst"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    top = both.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    )
    agg = top.groupBy("src").agg(
        F.count("*").alias("n_neighbors"),
        (
            F.sum(F.col("cos").cast(DEC)).cast("double") / F.count("*")
        ).alias("__density"),
    )
    out = s.select(id_col, "bucket").join(
        agg.withColumnRenamed("src", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        "bucket",
        F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
        F.coalesce("__density", F.lit(-1.0)).alias("density"),
    )


def _pq_topk_numpy(corpus, queries, rows, k, m, sub, id_col, vec_col):
    """PQ ADC top-k, the production-codebook scale path: vectorized
    numpy encode (−2·X·Cᵀ + ‖C‖² argmin — the ‖x‖² term is constant
    per row and drops out of the argmin), per-query ADC lookup tables
    (|queries| × m × n_codes floats, closure-shipped), and
    PARTITION-LOCAL top-k so the global exchange carries only
    n_partitions × |queries| × k rows instead of |corpus| × |queries|.

    Queries are the bounded side (collected once, same contract as
    every broadcast-query operator in this module).  Distance VALUES
    match the expression path up to float summation order; near-tie
    code flips are possible in the last ulp — this path is the scale
    engine, the ≤128-entry expression path is the oracle-pinned
    fixture (a parity unit test pins set-equality on separated data).
    Output schema identical: (query_id, match_id, rank, adist).
    """
    import numpy as np
    import pandas as pd

    q_rows = sorted(queries.collect(), key=lambda r: r[id_col])
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    cbs = [
        np.array(
            [list(r[vec_col])[j * sub : (j + 1) * sub] for r in rows],
            dtype=np.float64,
        )
        for j in range(m)
    ]
    # luts[j][qi, code] = squared L2 between query qi's j-th sub-vector
    # and codeword `code`
    luts = []
    for j in range(m):
        Qs = Q[:, j * sub : (j + 1) * sub]
        C = cbs[j]
        luts.append(
            (Qs * Qs).sum(1)[:, None]
            - 2.0 * (Qs @ C.T)
            + (C * C).sum(1)[None, :]
        )
    n_q = len(q_ids)
    kk = int(k)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            adist = np.zeros((n_q, len(ids)))
            for j in range(m):
                Xs = X[:, j * sub : (j + 1) * sub]
                C = cbs[j]
                codes = (
                    (C * C).sum(1)[None, :] - 2.0 * (Xs @ C.T)
                ).argmin(1)
                adist += luts[j][:, codes]
            # self-pairs excluded exactly like the expression path
            self_mask = ids[None, :] == q_ids[:, None]
            adist[self_mask] = np.inf
            take = min(kk, len(ids))
            out_q, out_m, out_d = [], [], []
            for qi in range(n_q):
                order = np.lexsort((ids, adist[qi]))[:take]
                keep = adist[qi][order] < np.inf
                order = order[keep]
                out_q.append(np.full(len(order), q_ids[qi]))
                out_m.append(ids[order])
                out_d.append(adist[qi][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "match_id": np.concatenate(out_m),
                    "adist": np.concatenate(out_d),
                }
            )

    partial = corpus.select(
        F.col(id_col), F.col(vec_col)
    ).mapInPandas(gen, "query_id long, match_id long, adist double")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("match_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: PQ ADC shortlist → exact cosine re-rank —
    the standard production ANN shape (compressed codes prune the
    corpus; float vectors are touched only for the ``shortlist``
    survivors per query).

    Completes the PQ path the way ``ann_recall`` completes LSH/IVF:
    ``pq_topk`` alone trades recall for memory, the re-rank buys the
    ordering back.  Scale shape: stage 1 is the zero-shuffle ADC scan;
    stage 2 joins only |queries|·shortlist rows against the corpus
    vectors (id-keyed equi join) — the full corpus is never scored
    exactly.

    Output: (query_id, match_id, rank, cosine), rank 1..k by exact
    cosine descending, ties by match_id.
    """
    from .dedup import _dot, _norm

    short = pq_topk(
        corpus, queries, k=shortlist, m=m, n_codes=n_codes,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "match_id")
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        short.join(c, "match_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "match_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn") + F.lit(1e-12))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
