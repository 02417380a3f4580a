"""Unit tests for the training-data pipeline operators (datapipe.*)
on tiny hand-written corpora with known answers."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from time_series_data_anomaly_detection_spark.datapipe import (
    ann_lsh_topk,
    as_binary_payload,
    cosine_topk,
    doc_stats,
    embedding_near_dup,
    exact_dedup,
    extract_features,
    fingerprint,
    lang_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        # near-dup of 0: one word changed
        (1, "the quick brown fox jumps over the lazy cat near the river bank"),
        # exact dup of 0 modulo case/whitespace
        (2, "The  quick brown fox jumps over the lazy dog near the river bank"),
        (3, "completely different content about spark query engines and shuffles"),
        (4, "le chat et le chien et les oiseaux sont dans le jardin des plantes"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    base = rng.normal(0, 1, 8)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + rng.normal(0, 0.01, 8)]),  # near-dup of 0
        (2, [float(x) for x in -base]),  # opposite
        (3, [float(x) for x in rng.normal(0, 1, 8)]),
        (4, [float(x) for x in rng.normal(0, 1, 8)]),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )


def test_exact_dedup(spark, docs):
    out = {r.doc_id: r for r in exact_dedup(docs).collect()}
    assert out[0].dup_group == out[2].dup_group
    assert out[0].group_size == 2 and out[0].keep == 1 and out[2].keep == 0
    assert out[1].group_size == 1


def test_fingerprint_normalization(spark, docs):
    out = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert out[0] == out[2] != out[1]


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    # docs 0/2 identical after normalization -> jaccard 1.0
    assert pairs[(0, 2)] == pytest.approx(1.0)
    # 0/1 differ by one word -> 3 of 11 trigrams changed
    assert pairs[(0, 1)] == pytest.approx(8 / 14, abs=1e-9)
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == pytest.approx(1.0)
    # verified jaccard on candidates equals the exact value
    if (0, 1) in pairs:
        assert pairs[(0, 1)] == pytest.approx(8 / 14, abs=1e-9)


def test_minhash_permutations_are_independent():
    """r12 regression: the r01–r11 affine constants were small primes
    (A < 2^10), so A·x + B < 2^58 never wrapped mod P = 2^61−1 — every
    h_i was MONOTONE in the base hash and all 16 permutations picked
    the SAME argmin shingle (one effective min-hash; banding a no-op;
    measured as the 92M-candidate blowup at the 100× stress).  Pin the
    fix: over a fixed shingle-hash set, the per-permutation argmins
    must actually differ across permutations."""
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        MERSENNE_P,
        PERM_A,
        PERM_B,
    )

    import random

    rng = random.Random(7)
    hs = [rng.getrandbits(48) for _ in range(200)]
    argmins = {
        min(range(len(hs)), key=lambda j: (PERM_A[i] * hs[j] + PERM_B[i]) % MERSENNE_P)
        for i in range(16)
    }
    # 16 independent permutations over 200 elements: expected ~15.5
    # distinct argmins; the monotone-collapse bug gives exactly 1
    assert len(argmins) >= 10
    # and every constant must be large enough to wrap the modulus on
    # 48-bit inputs (the property whose absence caused the collapse)
    assert all(a * ((1 << 48) - 1) > MERSENNE_P for a in PERM_A)


def test_affine_mod_p_matches_wide_int(spark):
    """r13 optimization: the signature affine runs in pure int64 via
    Mersenne folding instead of decimal(38,0).  Pin exact equality of
    the SPARK EXPRESSION against the wide-int reference ((A·x+B) mod P
    in Python ints) over edge cases + random 48-bit inputs, for every
    permutation slot — a folding-bound bug would desynchronize the
    Spark signatures from the DuckDB HUGEINT oracle."""
    import random

    from pyspark.sql import functions as F

    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        MERSENNE_P,
        PERM_A,
        PERM_B,
        _affine_mod_p,
    )

    rng = random.Random(13)
    xs = [0, 1, (1 << 24) - 1, 1 << 24, (1 << 48) - 1] + [
        rng.getrandbits(48) for _ in range(500)
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x long").select(
        "x",
        F.shiftright("x", 24).alias("__x1"),
        F.col("x").bitwiseAND(F.lit((1 << 24) - 1)).alias("__x0"),
    )
    cols = [
        _affine_mod_p(F.col("__x1"), F.col("__x0"), PERM_A[i], PERM_B[i]).alias(
            f"h{i}"
        )
        for i in range(len(PERM_A))
    ]
    rows = df.select("x", *cols).collect()
    for r in rows:
        for i in range(len(PERM_A)):
            assert r[f"h{i}"] == (PERM_A[i] * r.x + PERM_B[i]) % MERSENNE_P


def test_simhash_similarity(spark, docs):
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert fp[0] == fp[2]  # identical token sets

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # near-dup pair closer than unrelated pair
    assert hamming(fp[0], fp[1]) < hamming(fp[0], fp[3])


def test_lang_id_markers(spark, docs):
    out = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "fr"


def test_doc_stats(spark, docs):
    out = {r.doc_id: r for r in doc_stats(docs).collect()}
    assert out[0].n_tokens == 13
    assert out[0].n_unique_tokens == 11  # 'the' x3
    assert 0 < out[0].quality_score <= 1.0
    assert out[0].stopword_ratio == pytest.approx(3 / 13, rel=1e-6)


def test_embedding_near_dup_exact_vs_bucketed(spark, vectors):
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(vectors, threshold=0.9).collect()
    }
    assert list(exact) == [(0, 1)]
    assert exact[(0, 1)] > 0.99
    bucketed = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(vectors, threshold=0.9, bucket_bits=4).collect()
    }
    # near-identical vectors share the sign bucket -> still found
    assert (0, 1) in bucketed


def test_cosine_topk(spark, vectors):
    out = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=4).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert [r.query_id for r in ranked] == [0, 0, 0, 0]
    assert ranked[0].match_id == 1  # the near-dup is rank 1
    assert ranked[-1].match_id == 2  # the negated vector is last (cos ~ -1)
    assert ranked[0].cosine > 0.99 and ranked[-1].cosine < -0.99


def test_ann_topk_subset_of_bucket(spark, vectors):
    out = ann_lsh_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=4, bucket_bits=4
    ).collect()
    # vector 2 = -v0 differs in every sign bit -> excluded by LSH
    assert all(r.match_id != 2 for r in out)
    assert any(r.match_id == 1 for r in out)


def test_multimodal_features(spark, docs):
    feats = extract_features(as_binary_payload(docs)).collect()
    by_doc = {}
    for r in feats:
        by_doc.setdefault(r.doc_id, []).append(r)
    row0 = sorted(by_doc[0], key=lambda r: r.frame_id)[0]
    text0 = "the quick brown fox jumps over the lazy dog near the river bank"
    assert row0.byte_sum == sum(text0.encode())
    assert row0.n_frames == int(np.ceil(len(text0) / 64))
    padded = np.pad(
        np.frombuffer(text0.encode(), dtype=np.uint8).astype(float),
        (0, row0.n_frames * 64 - len(text0)),
    )
    assert row0.f_mean == pytest.approx(padded[:64].mean())
    assert row0.f_std == pytest.approx(padded[:64].std())
    assert row0.f_max == pytest.approx(padded[:64].max())


def _ppm_bytes(w, h, pixels):
    """Binary P6 PPM payload from an (h, w, 3) uint8 array."""
    return b"P6\n# test image\n%d %d\n255\n" % (w, h) + bytes(
        np.asarray(pixels, dtype=np.uint8).reshape(-1)
    )


def test_multimodal_real_decode_seam(spark):
    """r11 verdict #6: the decode seam must be proven with a REAL
    decoder, not only the byte-histogram stand-in.  decode_ppm parses
    binary P6 PPM (public netpbm spec) in pure numpy: pinned-bytes
    check, end-to-end extract_features(decode_fn=...) through the same
    mapInPandas plumbing, and — where PIL exists — bit parity between
    the PIL path and the numpy path on the same payload."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.multimodal import (
        decode_image,
        decode_ppm,
        extract_features,
    )

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(3, 4, 3), dtype=np.uint8)  # h=3 w=4
    payload = _ppm_bytes(4, 3, img)

    frames = decode_ppm(payload)
    assert frames.shape == (3, 12)  # one frame per pixel row
    np.testing.assert_array_equal(
        frames, img.reshape(3, 12).astype(np.float64)
    )

    # PIL parity where the lib exists; a clear ImportError where not —
    # the torch/numpy LSTM dual-backend pattern
    try:
        pil_frames = decode_image(payload)
    except ImportError:
        pil_frames = None
    if pil_frames is not None:
        np.testing.assert_array_equal(pil_frames, frames)

    # end-to-end through the Spark seam: same schema, real decode
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "payload": [bytearray(payload)]})
    )
    rows = sorted(
        extract_features(df, decode_fn=decode_ppm).collect(),
        key=lambda r: r.frame_id,
    )
    assert [r.frame_id for r in rows] == [0, 1, 2]
    assert all(r.n_frames == 3 for r in rows)
    assert rows[0].byte_sum == sum(payload)
    row0 = img.reshape(3, 12)[0].astype(np.float64)
    assert rows[0].f_mean == pytest.approx(row0.mean())
    assert rows[0].f_max == pytest.approx(row0.max())
    # frame_stride samples through the SAME decode path
    sampled = extract_features(df, decode_fn=decode_ppm, frame_stride=2)
    assert sorted(r.frame_id for r in sampled.collect()) == [0, 2]

    # header hygiene: comments + malformed magic
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    # r12 ADVICE: int() happily parses '-1' — non-positive dims and
    # out-of-range maxval must be parse errors, not mis-shaped arrays
    with pytest.raises(ValueError, match="dimensions"):
        decode_ppm(b"P6\n-1 1\n255\n\x00\x00\x00")
    with pytest.raises(ValueError, match="dimensions"):
        decode_ppm(b"P6\n1 0\n255\n")
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n0\n\x00\x00\x00")
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00")


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C must land in ONE cluster even when the A~C pair is
    never emitted — the closure property that makes clustering the
    dedup decision step rather than the pair list."""
    import pandas as pd
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        near_dup_clusters,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    base + " one",
                    base + " two",          # ~ doc 1
                    base + " two extra",    # ~ doc 2, farther from doc 1
                    "completely different content with no shared phrases at all",
                ],
            }
        )
    )
    # both strategies (single-task union-find / distributed pointer
    # jumping) must produce identical labels
    for small_edges in (10_000_000, 0):
        out = (
            near_dup_clusters(
                docs, threshold=0.4, small_graph_edges=small_edges
            )
            .toPandas()
            .set_index("doc_id")
        )
        assert out.loc[1, "cluster_id"] == out.loc[2, "cluster_id"] == out.loc[3, "cluster_id"] == 1
        assert out.loc[1, "cluster_size"] == 3
        assert out.loc[4, "cluster_id"] == 4 and out.loc[4, "keep"] == 1
        assert out["keep"].sum() == 2  # one canonical per cluster


def test_ivf_topk_bounded_candidates_and_recall(spark):
    """IVF-flat: results must come only from probed cells (bounded
    candidate set — the scale property) while still recalling most of
    the exact top-k on clustered data."""
    import pandas as pd
    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (4, 16))
    vecs = [
        (centers[i % 4] + rng.normal(0, 0.05, 16)).tolist() for i in range(80)
    ]
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(80)), "embedding": vecs})
    )
    q = e.filter("vec_id < 5")
    exact = cosine_topk(e, q, k=3).toPandas()
    approx = ivf_topk(e, q, k=3, n_cells=8, nprobe=2).toPandas()
    hits = len(
        set(map(tuple, exact[["query_id", "match_id"]].values))
        & set(map(tuple, approx[["query_id", "match_id"]].values))
    )
    assert hits / len(exact) >= 0.6
    assert (approx.groupby("query_id").size() <= 3).all()


def test_ivf_topk_two_level_above_64_cells(spark):
    """r12: above 64 cells ivf_topk must route assignment through the
    two-level scheme (flat broadcast assignment is N·k — a 2B-row
    ranked cross join at 2M vectors × 1000 cells).  Pin that the
    two-level path still recalls the exact top-k on a fixture and
    bounds per-query results."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(600, 16))
    e = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(600), "embedding": list(map(list, vecs))}
        )
    )
    q = e.filter("vec_id < 6")
    exact = cosine_topk(e, q, k=4).toPandas()
    approx = ivf_topk(e, q, k=4, n_cells=100, nprobe=10).toPandas()
    hits = len(
        set(map(tuple, exact[["query_id", "match_id"]].values))
        & set(map(tuple, approx[["query_id", "match_id"]].values))
    )
    assert hits / len(exact) >= 0.5  # random data, wide probes
    assert (approx.groupby("query_id").size() <= 4).all()
    # cell keys remain globally-unique centroid ids
    assert approx["match_id"].notna().all()


def test_pq_topk_numpy_scale_path_parity(spark):
    """r12: above 128 codebook entries pq_topk routes through the
    Arrow-batched numpy kernel (the expression encode is an
    interpreted per-element lambda — measured stuck at 2M vectors x
    8x256 codes).  Pin (a) the dispatch, (b) exact agreement with a
    test-local ADC oracle, (c) rerank composition through the same
    path."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        pq_rerank_topk,
        pq_topk,
    )

    rng = np.random.default_rng(5)
    n, dim, m, n_codes, k = 300, 16, 4, 40, 5  # 160 entries > 128
    vecs = rng.normal(size=(n, dim))
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": list(map(list, vecs))})
    )
    q = e.filter("vec_id < 4")
    df = pq_topk(e, q, k=k, m=m, n_codes=n_codes)
    # dispatch really happened: the plan is the Arrow kernel, not the
    # literal-codebook expression tree
    assert "MapInPandas" in df._jdf.queryExecution().analyzed().toString()
    got = df.toPandas()
    # test-local ADC oracle: seed codebooks = sub-vectors of the
    # n_codes smallest ids, encode by sub-space argmin, ties by cid
    sub = dim // m
    cbs = [vecs[:n_codes, j * sub:(j + 1) * sub] for j in range(m)]
    codes = np.stack(
        [
            (((vecs[:, None, j * sub:(j + 1) * sub]
               - cbs[j][None, :, :]) ** 2).sum(-1)).argmin(1)
            for j in range(m)
        ],
        axis=1,
    )
    for qi in range(4):
        ad = np.zeros(n)
        for j in range(m):
            d = ((vecs[qi, j * sub:(j + 1) * sub][None, :]
                  - cbs[j][codes[:, j]]) ** 2).sum(-1)
            ad += d
        ad[qi] = np.inf  # self excluded
        order = np.lexsort((np.arange(n), ad))[:k]
        mine = got[got.query_id == qi].sort_values("rank")
        assert list(mine["match_id"]) == list(order)
        np.testing.assert_allclose(
            mine["adist"].to_numpy(), ad[order], rtol=0, atol=1e-9
        )
    # rerank composes through the numpy shortlist
    rr = pq_rerank_topk(e, q, k=3, shortlist=20, m=m, n_codes=n_codes)
    rrp = rr.toPandas()
    assert set(rrp["query_id"]) == {0, 1, 2, 3}
    assert (rrp.groupby("query_id").size() == 3).all()


def test_winnow_fingerprints_catch_shared_substrings(spark):
    """The winnowing guarantee: any common substring longer than
    window+k-1 chars must contribute at least one SHARED selected
    fingerprint — the property a whole-doc digest lacks."""
    import pandas as pd
    from time_series_data_anomaly_detection_spark.datapipe.text import (
        winnow_fingerprints,
    )

    shared = "this exact passage appears verbatim inside both documents here"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "intro words before. " + shared + " and a first tail.",
                    "different opening text! " + shared + " other ending.",
                    "nothing in common with the others at all, fully unique",
                ],
            }
        )
    )
    fp = winnow_fingerprints(docs, k=8, window=16).toPandas()
    s1 = set(fp[fp.doc_id == 1].fp_hash)
    s2 = set(fp[fp.doc_id == 2].fp_hash)
    s3 = set(fp[fp.doc_id == 3].fp_hash)
    assert s1 & s2, "shared passage must share fingerprints"
    assert not (s1 & s3) and not (s2 & s3)
    assert (fp.first_pos >= 1).all()


def test_near_dup_clusters_no_pairs(spark):
    """Empty pair graph: every doc is its own singleton cluster and the
    iteration loop terminates immediately."""
    import pandas as pd
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        near_dup_clusters,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "entirely unique first document content here",
                    "completely different second text with other words",
                ],
            }
        )
    )
    out = near_dup_clusters(docs, threshold=0.5).toPandas()
    assert (out.cluster_id == out.doc_id).all()
    assert (out.cluster_size == 1).all()
    assert (out.keep == 1).all()


def test_user_sessions_gap_semantics(spark):
    """Events within the gap share a session; a gap strictly greater
    than gap_seconds starts a new one."""
    import pandas as pd
    from time_series_data_anomaly_detection_spark.datapipe.events import (
        user_sessions,
    )

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4, 5],
                "user_id": [7, 7, 7, 7, 9],
                "ts_s": [0, 100, 1900, 4000, 50],
                "value": [1.0, 2.0, 3.0, 4.0, 5.0],
            }
        )
    )
    out = user_sessions(ev, gap_seconds=1800).toPandas()
    u7 = out[out.user_id == 7].sort_values("session_id")
    # 0,100,1900 in one session (gaps 100, 1800 <= 1800); 4000 alone
    assert list(u7.n_events) == [3, 1]
    assert list(u7.start_s) == [0, 4000]
    assert u7.iloc[0].total_value == 6.0
    assert len(out[out.user_id == 9]) == 1


def test_knn_label_agreement_clustered_embeddings(spark):
    """Clustered embeddings with cluster-aligned labels must score near
    1.0 agreement; shuffled labels near chance."""
    import pandas as pd
    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        knn_label_agreement,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(0, 1, (4, 16)) * 4
    n = 80
    labels = [i % 4 for i in range(n)]
    vecs = [
        (centers[labels[i]] + rng.normal(0, 0.1, 16)).tolist()
        for i in range(n)
    ]
    e = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": list(range(n)), "embedding": vecs, "label": labels}
        )
    )
    out = knn_label_agreement(e, e.filter("vec_id < 8"), k=5).toPandas()
    assert out.agreement.mean() > 0.9
    rand = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(n)),
                "embedding": vecs,
                "label": list(rng.permutation(labels)),
            }
        )
    )
    out2 = knn_label_agreement(rand, rand.filter("vec_id < 8"), k=5).toPandas()
    assert out2.agreement.mean() < 0.7


def test_salted_self_join_bounds_hot_buckets(spark):
    """Skew guard (_skew.py): a hot bucket is decomposed into salt
    cells — the pair OUTPUT is identical to the naive self-join, and no
    join task sees more than ~2·cap rows of any one group."""
    import pandas as pd
    from pyspark.sql import functions as F

    from time_series_data_anomaly_detection_spark.datapipe._skew import (
        salted_self_join_pairs,
    )

    # one hot key (k=500), two normal keys
    rows = (
        [("hot", i) for i in range(500)]
        + [("warm", i) for i in range(1000, 1017)]
        + [("cold", 2000), ("cold", 2001)]
    )
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "doc_id"]))
    cap = 64
    got = {
        (r.k, r.a.doc_id, r.b.doc_id)
        for r in salted_self_join_pairs(df, ["k"], "doc_id", cap=cap).collect()
    }
    expect = set()
    for key, ids in (
        ("hot", range(500)),
        ("warm", range(1000, 1017)),
        ("cold", (2000, 2001)),
    ):
        ids = list(ids)
        for x in ids:
            for y in ids:
                if x < y:
                    expect.add((key, x, y))
    assert got == expect  # exact same pairs, no dups, none lost

    # bound: replicate the helper's salting and check cell occupancy
    ns = 500 // cap + 1  # ceil(500/64) = 8
    cells = (
        df.filter(F.col("k") == "hot")
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(ns)).alias("cell"))
        .groupBy("cell")
        .count()
        .collect()
    )
    assert len(cells) == ns
    assert max(r["count"] for r in cells) <= 2 * cap  # hash-balanced


def test_lsh_pair_generators_unchanged_by_bucket_cap(spark):
    """Forcing the salted decomposition (tiny cap) on a corpus with a
    mass-duplicated boilerplate doc leaves every generator's output
    exactly as with the effectively-unsalted default cap."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    texts = ["the quick brown fox jumps over the lazy dog number %d" % (i % 4)
             for i in range(60)]
    texts += ["a completely unrelated document about spark %d" % i
              for i in range(10)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )

    def pairset(frame):
        return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in frame.collect()}

    for fn in (ngram_jaccard_pairs, minhash_lsh_pairs):
        salted = pairset(fn(docs, n=3, threshold=0.3, bucket_cap=8))
        plain = pairset(fn(docs, n=3, threshold=0.3, bucket_cap=10**6))
        assert salted == plain and len(salted) > 100


def test_corpus_prep_verdict_ladder(spark):
    """corpus_prep: exact dups say 'duplicate', transitive near-dups
    'near_duplicate' (only the canonical survives), quality/length
    gates fire in ladder order, and clean docs say 'keep'."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe import corpus_prep

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain falls mainly on the plain and the cat sat on the mat "
        "with a hat and a bat near the flat"
    )
    texts = {
        0: base,                           # canonical of the near-dup cluster
        1: base,                           # exact duplicate of 0
        # near-dup of 0: ONE extra word (J = 34/35 ≈ 0.97) — with the
        # r12 honest-s-curve banding a J≈0.87 pair has a real ~3% miss
        # probability and this fixture's hashes happened to land in it
        2: base + " yes",
        3: "tiny doc",                     # too_short
        4: "le chat est sur la table et il y a des choses que nous ne "
           "savons pas encore dans la vie quotidienne de tous les jours "
           "avec les gens qui sont dans la maison",  # wrong_lang (fr)
        5: "the history of distributed systems is a story about the "
           "trade offs between consistency and availability that the "
           "engineers of every generation have had to learn again",  # keep
    }
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(texts), "text": [texts[k] for k in texts]}
        )
    )
    out = {
        r.doc_id: r
        for r in corpus_prep(docs, jaccard_threshold=0.4).collect()
    }
    assert out[1].verdict == "duplicate"          # exact dup of 0
    assert out[2].verdict == "near_duplicate"     # LSH cluster member
    assert out[0].verdict == "keep"               # cluster canonical
    assert out[0].cluster_id == out[1].cluster_id == out[2].cluster_id == 0
    assert out[0].cluster_size == 3
    assert out[3].verdict == "too_short"
    assert out[4].verdict == "wrong_lang"
    assert out[5].verdict == "keep"


def test_resize_frames_average_pools(spark):
    """resize_frames: each FRAME_BYTES frame average-pools to out_width
    bins, matching a direct numpy computation; fixed-width arrays out,
    map-side only."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe import (
        as_binary_payload,
    )
    from time_series_data_anomaly_detection_spark.datapipe.multimodal import (
        FRAME_BYTES,
        resize_frames,
    )

    texts = ["x" * 100, "hello world " * 20, "a"]
    docs = as_binary_payload(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
    )
    out = resize_frames(docs, out_width=16).collect()
    rows = {(r.doc_id, r.frame_id): np.array(r.frame) for r in out}
    for i, t in enumerate(texts):
        b = np.frombuffer(t.encode(), dtype=np.uint8).astype(float)
        n_frames = max(1, int(np.ceil(len(b) / FRAME_BYTES)))
        padded = np.pad(b, (0, n_frames * FRAME_BYTES - len(b)))
        exp = padded.reshape(n_frames, 16, FRAME_BYTES // 16).mean(axis=2)
        for f in range(n_frames):
            np.testing.assert_allclose(rows[(i, f)], exp[f], atol=0)
    assert all(len(r.frame) == 16 for r in out)


def test_topk_recall_counts_hits(spark):
    """topk_recall: per-query |approx ∩ exact| / |exact|, missing
    queries on the approx side count as zero hits."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        topk_recall,
    )

    exact = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [1, 1, 1, 2, 2], "match_id": [10, 11, 12, 20, 21]}
        )
    )
    approx = spark.createDataFrame(
        pd.DataFrame({"query_id": [1, 1, 1], "match_id": [10, 12, 99]})
    )
    out = {r.query_id: r for r in topk_recall(exact, approx).collect()}
    assert out[1].n_exact == 3 and out[1].n_hit == 2
    assert abs(out[1].recall - 2 / 3) < 1e-12
    assert out[2].n_exact == 2 and out[2].n_hit == 0 and out[2].recall == 0.0


def test_event_rollup_levels(spark):
    """event_rollup: leaf cells, per-type subtotals, and the grand
    total come out of one grouping-sets pass with consistent gids."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.events import (
        event_rollup,
    )

    day0 = 1_700_000_000 - (1_700_000_000 % 86400)
    rows = pd.DataFrame(
        {
            "event_id": range(6),
            "user_id": [1, 1, 2, 2, 3, 3],
            "event_type": ["a", "a", "a", "b", "b", "b"],
            "ts_s": [day0, day0 + 10, day0 + 86400, day0, day0, day0 + 86400],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    out = event_rollup(spark.createDataFrame(rows)).collect()
    by_key = {(r.event_type, r.day): r for r in out}
    leaf = by_key[("a", pd.Timestamp(day0, unit="s").strftime("%Y-%m-%d"))]
    assert leaf.gid == 0 and leaf.n_events == 2 and leaf.n_users == 1
    assert abs(leaf.total_value - 3.0) < 1e-9
    sub_a = by_key[("a", None)]
    assert sub_a.gid == 1 and sub_a.n_events == 3 and sub_a.n_users == 2
    total = by_key[(None, None)]
    assert total.gid == 3 and total.n_events == 6 and total.n_users == 3
    assert abs(total.total_value - 21.0) < 1e-9


def test_stratified_sample_deterministic_and_salted(spark):
    """Same salt → identical membership across calls; different salt →
    an independent draw; per-stratum fractions honored approximately."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.sampling import (
        stratified_sample,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(2000),
            "source": ["a" if i % 2 else "b" for i in range(2000)],
            "text": "x",
        }
    )
    df = spark.createDataFrame(pdf)
    s1 = set(
        r.doc_id
        for r in stratified_sample(df, {"a": 0.5, "b": 0.0}).collect()
    )
    s2 = set(
        r.doc_id
        for r in stratified_sample(df, {"a": 0.5, "b": 0.0}).collect()
    )
    assert s1 == s2                      # reproducible
    assert all(i % 2 == 1 for i in s1)   # stratum b fully excluded
    assert 0.4 < len(s1) / 1000 < 0.6    # ~half of stratum a
    s3 = set(
        r.doc_id
        for r in stratified_sample(
            df, {"a": 0.5, "b": 0.0}, salt="split1"
        ).collect()
    )
    assert s3 != s1                      # independent draw per salt


def test_source_mix_caps_fraction(spark):
    """A source with fewer available tokens than its target must get
    sample_fraction exactly 1.0, never above."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.sampling import (
        source_mix,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "source": ["tiny", "tiny", "big", "big"],
            "text": ["one two", "three", "lots " * 500, "of words " * 500],
        }
    )
    out = {
        r.source: r
        for r in source_mix(
            spark.createDataFrame(pdf), 1000, {"tiny": 0.5, "big": 0.5}
        ).collect()
    }
    assert out["tiny"].avail_tokens == 3
    assert out["tiny"].target_tokens == 500
    assert out["tiny"].sample_fraction == 1.0
    assert out["big"].sample_fraction < 1.0


def test_pack_documents_concat_and_chunk(spark):
    """Packing invariants: per-doc chunk contributions sum to its
    token count, a straddling doc appears in both chunks, and every
    chunk except the shard tail is exactly full."""
    from time_series_data_anomaly_detection_spark.datapipe.packing import (
        pack_documents,
        pack_stats,
    )

    # token counts: 6, 5, 4 with ctx=8 -> doc B straddles chunks 0/1
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": "s",
            "text": [
                "a b c d e f",
                "g h i j k",
                "l m n o",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    packed = pack_documents(df, ctx=8).toPandas()
    per_doc = packed.groupby("doc_id")["tok_in_chunk"].sum().to_dict()
    assert per_doc == {1: 6, 2: 5, 3: 4}
    b_chunks = sorted(packed[packed.doc_id == 2]["chunk_id"])
    assert b_chunks == [0, 1]  # straddles the first boundary

    stats = (
        pack_stats(df, ctx=8).toPandas().sort_values("chunk_id")
    )
    assert stats["n_tokens"].tolist() == [8, 7]  # full + tail
    assert stats["fill_ratio"].iloc[0] == 1.0
    assert stats.iloc[0]["first_doc"] == 1 and stats.iloc[0]["last_doc"] == 2


def test_ivf_kmeans_centroids_recall(spark):
    """centroid_mode='kmeans' trains real k-means|| centroids; on
    clustered data the probed-cell recall must be high and the
    candidate bound must still hold."""
    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 1, (4, 16))
    vecs = [
        (centers[i % 4] + rng.normal(0, 0.05, 16)).tolist() for i in range(80)
    ]
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(80)), "embedding": vecs})
    )
    q = e.filter("vec_id < 5")
    exact = cosine_topk(e, q, k=3).toPandas()
    approx = ivf_topk(
        e, q, k=3, n_cells=4, nprobe=1, centroid_mode="kmeans"
    ).toPandas()
    hits = len(
        set(map(tuple, exact[["query_id", "match_id"]].values))
        & set(map(tuple, approx[["query_id", "match_id"]].values))
    )
    # with k-means centroids matching the generative clusters, 1-probe
    # recall on well-separated data should be essentially perfect
    assert hits / len(exact) >= 0.8
    assert (approx.groupby("query_id").size() <= 3).all()


def test_incremental_dedup_verdict_ladder(spark):
    """All five verdicts from one handcrafted corpus/batch pair, and
    the ladder picks the FIRST failure (exact beats near)."""
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        incremental_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [base + " lake", "unrelated corpus text about engines"],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13, 14],
                "text": [
                    base + "  LAKE",          # exact dup of corpus 0 (norm)
                    base + " pond",           # near-dup of corpus 0
                    "fresh batch doc with totally novel content one",
                    "fresh batch doc with totally novel content one",  # exact dup of 12
                    "fresh batch doc with totally novel content two",  # near-dup of 12
                ],
            }
        )
    )
    out = {
        r.doc_id: r.verdict
        for r in incremental_dedup(corpus, batch, threshold=0.4).collect()
    }
    assert out[10] == "duplicate_of_corpus"
    assert out[11] == "near_dup_of_corpus"
    assert out[12] == "new"
    assert out[13] == "duplicate_in_batch"
    assert out[14] == "near_dup_in_batch"


def test_dedup_index_roundtrip(spark, tmp_path_factory):
    """Index-based incremental dedup must match the direct
    corpus-vs-batch computation verdict-for-verdict, and extending the
    index with admitted docs must catch their future duplicates."""
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        incremental_dedup,
    )
    from time_series_data_anomaly_detection_spark.datapipe.index import (
        build_dedup_index,
        extend_dedup_index,
        incremental_dedup_against_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [base + " lake", "unrelated corpus text about engines"],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12],
                "text": [
                    base + "  LAKE",
                    base + " pond",
                    "fresh batch doc with totally novel content",
                ],
            }
        )
    )
    path = str(tmp_path_factory.mktemp("dedup_idx"))
    build_dedup_index(corpus, path)
    via_index = {
        r.doc_id: r.verdict
        for r in incremental_dedup_against_index(
            spark, path, batch, threshold=0.4
        ).collect()
    }
    direct = {
        r.doc_id: r.verdict
        for r in incremental_dedup(corpus, batch, threshold=0.4).collect()
    }
    assert via_index == direct

    # admit the 'new' doc, extend, and verify a re-post is now caught
    extend_dedup_index(batch.filter("doc_id = 12"), path)
    repost = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [20], "text": ["fresh batch doc with totally novel content"]}
        )
    )
    again = {
        r.doc_id: r.verdict
        for r in incremental_dedup_against_index(
            spark, path, repost, threshold=0.4
        ).collect()
    }
    assert again[20] == "duplicate_of_corpus"


def test_dedup_index_meta_guard(spark, tmp_path_factory):
    """r12 ADVICE (medium): an index persisted under one MinHash
    family silently never matches batches hashed under another — the
    band-key equi-join finds nothing, no error.  The meta stamp turns
    that into a loud failure: wrong family, wrong shingle n, and
    missing meta must all raise instead of admitting duplicates."""
    from time_series_data_anomaly_detection_spark.datapipe.index import (
        HASH_FAMILY,
        INDEX_FORMAT_VERSION,
        build_dedup_index,
        extend_dedup_index,
        load_dedup_index,
    )

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["some corpus text here"]})
    )
    path = str(tmp_path_factory.mktemp("idx_meta"))
    build_dedup_index(corpus, path, n=3)
    meta = spark.read.parquet(f"{path}/meta").head()
    assert meta.format_version == INDEX_FORMAT_VERSION
    assert meta.hash_family == HASH_FAMILY
    assert meta.shingle_n == 3
    load_dedup_index(spark, path, n=3)  # matching stamp: fine

    # shingle-n mismatch: shingle hashes would never collide
    with pytest.raises(ValueError, match="shingle n"):
        load_dedup_index(spark, path, n=5)
    with pytest.raises(ValueError, match="shingle n"):
        extend_dedup_index(corpus, path, n=5)

    # foreign hash family: band keys would match nothing
    spark.createDataFrame(
        [(INDEX_FORMAT_VERSION, "deadbeefdeadbeef", 3)],
        "format_version int, hash_family string, shingle_n int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="family"):
        load_dedup_index(spark, path, n=3)

    # pre-versioned index (no meta at all)
    import shutil

    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="no meta"):
        load_dedup_index(spark, path)


def test_dedup_index_compaction_parity_and_retire(spark, tmp_path_factory):
    """Compaction is exact-preserving: admission verdicts for a future
    batch are identical pre/post compact on a clean index; a
    crash-retry DOUBLE append (duplicate shingle rows double-count the
    verification intersection) is repaired back to the direct
    computation; retirement drops a doc's near-dup suppression while
    its content digest keeps rejecting exact re-posts."""
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        incremental_dedup,
    )
    from time_series_data_anomaly_detection_spark.datapipe.index import (
        build_dedup_index,
        compact_dedup_index,
        extend_dedup_index,
        incremental_dedup_against_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [base + " lake", "unrelated corpus text about engines"],
            }
        )
    )
    extra = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["novel admitted document body"]})
    )
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [30, 31, 32],
                "text": [
                    base + " pond",                    # near-dup of 0
                    "novel admitted document body",    # exact dup of 2
                    "completely different new words",  # new
                ],
            }
        )
    )
    path = str(tmp_path_factory.mktemp("idx_compact"))
    build_dedup_index(corpus, path)
    extend_dedup_index(extra, path)
    # crash-retry simulation: the SAME admitted frame appended twice
    extend_dedup_index(extra, path)

    def verdicts():
        return {
            r.doc_id: r.verdict
            for r in incremental_dedup_against_index(
                spark, path, probe, threshold=0.4
            ).collect()
        }

    stats = compact_dedup_index(spark, path)
    after = verdicts()
    # repaired to the direct corpus-vs-batch computation
    direct = {
        r.doc_id: r.verdict
        for r in incremental_dedup(
            corpus.union(extra), probe, threshold=0.4
        ).collect()
    }
    assert after == direct
    assert after[30] == "near_dup_of_corpus"
    assert after[31] == "duplicate_of_corpus"
    assert after[32] == "new"
    for name in ("digests", "bands", "shingles", "sizes"):
        assert stats[name]["after"]["files"] >= 1

    # clean-index parity: compact again, nothing may change
    assert compact_dedup_index(spark, path) and verdicts() == after

    # retirement: doc 2 stops near-dup-suppressing, digest still rejects
    retire = spark.createDataFrame(pd.DataFrame({"doc_id": [2]}))
    compact_dedup_index(spark, path, retire=retire)
    probe2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [40, 41],
                "text": [
                    "novel admitted document body",        # exact re-post
                    "novel admitted document frame",       # near-dup of retired 2
                ],
            }
        )
    )
    out2 = {
        r.doc_id: r.verdict
        for r in incremental_dedup_against_index(
            spark, path, probe2, threshold=0.4
        ).collect()
    }
    assert out2[40] == "duplicate_of_corpus"
    assert out2[41] == "new"


def test_dedup_index_repair(spark, tmp_path_factory):
    """repair_dedup_index restores 'every corpus doc fully indexed'
    after the partial-extend crash window: a corpus doc missing its
    index rows regains near-dup suppression; a healthy index is a
    no-op."""
    from time_series_data_anomaly_detection_spark.datapipe.index import (
        build_dedup_index,
        compact_dedup_index,
        incremental_dedup_against_index,
        repair_dedup_index,
    )

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    "seed document about lakes and rivers flowing",
                    "orphaned document body that never got indexed",
                ],
            }
        )
    )
    path = str(tmp_path_factory.mktemp("idx_repair"))
    # index only doc 0: doc 1 is in the corpus but unindexed — the
    # partial-extend crash state
    build_dedup_index(corpus.filter("doc_id = 0"), path)
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [30],
                "text": ["orphaned document body that never got indexed no"],
            }
        )
    )

    def verdict():
        return (
            incremental_dedup_against_index(
                spark, path, probe, threshold=0.4
            ).head().verdict
        )

    assert verdict() == "new"  # near-dup of the orphan slips through
    assert repair_dedup_index(corpus, path) == 1
    compact_dedup_index(spark, path)
    assert verdict() == "near_dup_of_corpus"
    assert repair_dedup_index(corpus, path) == 0  # healthy = no-op


def test_near_dup_clusters_max_quality_policy(spark):
    """keep_policy='max_quality': the survivor is the richest member
    of the cluster, not the smallest id; cluster_id stays the min-id
    label."""
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        near_dup_clusters,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # doc 3 shares the base prefix (high Jaccard) but carries more
    # distinct tokens -> higher length/diversity quality than 1 and 2
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    base + " one",
                    base + " two",
                    base + " one lambda",
                ],
            }
        )
    )
    out = (
        near_dup_clusters(docs, threshold=0.4, keep_policy="max_quality")
        .toPandas()
        .set_index("doc_id")
    )
    assert (out["cluster_id"] == 1).all()       # min-id label unchanged
    assert out.loc[3, "keep"] == 1              # best member survives
    assert out.loc[1, "keep"] == 0 and out.loc[2, "keep"] == 0


def test_tf_embed_cosine_ranks_similar_docs(spark):
    """Hashed-TF sparse cosine: near-identical docs score near 1 and
    rank first; disjoint-vocabulary docs score near 0; weights are
    unit-normalized."""
    from time_series_data_anomaly_detection_spark.datapipe.embed import (
        doc_cosine_topk,
        tf_embed_sparse,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "alpha beta gamma delta epsilon",
                    "alpha beta gamma delta zeta",      # 4/5 shared
                    "uno dos tres cuatro cinco",        # disjoint
                ],
            }
        )
    )
    emb = tf_embed_sparse(docs).toPandas()
    norms = emb.groupby("doc_id")["weight"].apply(lambda w: (w**2).sum())
    assert np.allclose(norms, 1.0)

    out = doc_cosine_topk(docs, n_queries=1, k=2).toPandas()
    ranked = out.sort_values("rank")
    assert ranked.iloc[0]["match_id"] == 1
    assert ranked.iloc[0]["cosine"] > 0.7
    assert ranked.iloc[1]["cosine"] < 0.3  # disjoint vocab ~ 0 (mod collisions)


def test_lsh_recall_stats_counts_consistent(spark, docs):
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        lsh_recall_stats,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    row = lsh_recall_stats(docs, n=3, threshold=0.5).collect()[0]
    n_true = ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
    assert row["n_true_pairs"] == n_true
    assert row["n_hits"] <= row["n_true_pairs"]
    assert row["n_hits"] <= row["n_candidates"]
    # the near-identical docs (0,1,2) must be caught by the banding:
    # LSH-verified pairs == hits, so recall here is 1.0
    n_lsh = minhash_lsh_pairs(docs, n=3, threshold=0.5).count()
    assert row["n_hits"] == n_lsh
    assert row["recall"] == pytest.approx(1.0)


def test_quality_classifier_orders_fluent_above_junk(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and then the "
            "fox runs into the forest where it finds a quiet place by "
            "the river and rests for a while under an old oak tree"),
        (1, "zzz qqq zzz qqq zzz qqq zzz qqq"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    from time_series_data_anomaly_detection_spark.datapipe.corpus import (
        quality_classifier,
    )

    out = (
        quality_classifier(docs).toPandas().set_index("doc_id")
    )
    assert out.loc[0, "margin"] > out.loc[1, "margin"]
    assert out.loc[0, "keep"] == 1
    assert out.loc[1, "keep"] == 0


def test_length_buckets_assignment_and_waste(spark):
    rows = [
        (0, "a b c"),                       # 3 tokens  -> bucket 16
        (1, " ".join(["tok"] * 16)),        # 16 tokens -> bucket 16
        (2, " ".join(["tok"] * 17)),        # 17 tokens -> bucket 32
        (3, " ".join(["tok"] * 5000)),      # beyond max -> -1 overflow
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    from time_series_data_anomaly_detection_spark.datapipe.packing import (
        length_buckets,
    )

    out = length_buckets(docs).toPandas().set_index("bucket")
    assert out.loc[16, "n_docs"] == 2
    assert out.loc[16, "sum_tokens"] == 19
    assert out.loc[16, "padded_tokens"] == 32
    assert out.loc[16, "waste_ratio"] == pytest.approx(1 - 19 / 32)
    assert out.loc[32, "n_docs"] == 1
    assert out.loc[-1, "n_docs"] == 1
    assert pd.isna(out.loc[-1, "padded_tokens"])


def test_dup_source_matrix_counts_and_rates(spark):
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        dup_source_matrix,
    )

    # base/variant differ in ONE word over a long text (J ≈ 0.93):
    # post-r12 the banding follows the honest s-curve, so a J=0.8
    # fixture pair carries a real ~12% miss probability — keep unit
    # fixtures well above the probabilistic band
    base = (
        "the quick brown fox jumps over the lazy dog near the wide "
        "river while the morning sun rises slowly over the green hills "
        "and the birds sing in the tall trees by the water"
    )
    rows = [
        (0, base, "web"),
        (1, base.replace("morning", "evening"), "web"),
        (2, base, "wiki"),
        (3, "completely unrelated text about distributed query planning", "wiki"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    out = (
        dup_source_matrix(docs, n=3, threshold=0.5)
        .toPandas()
        .set_index(["source_a", "source_b"])
    )
    # pair (0,2) crosses web-wiki; (0,1) and (1,2) give one within-web
    # and one more cross pair
    assert out.loc[("web", "wiki"), "n_pairs"] == 2
    assert out.loc[("web", "web"), "n_pairs"] == 1
    assert out.loc[("web", "web"), "pair_rate"] == pytest.approx(1.0)
    assert out.loc[("web", "wiki"), "pair_rate"] == pytest.approx(2 / 4)


def test_containment_catches_quote_absorption(spark):
    from time_series_data_anomaly_detection_spark.datapipe.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long = (
        "intro sentence here first. " + short + " and then a very long "
        "discussion continues with many additional sentences about "
        "completely different topics entirely unrelated to the quote "
        "covering planning scheduling execution and storage layers"
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            [(0, short), (1, long), (2, "nothing in common at all here")],
            columns=["doc_id", "text"],
        )
    )
    out = containment_pairs(docs, n=3, threshold=0.8).toPandas()
    # doc 0 is contained in doc 1 (every shingle of 0 appears in 1)
    row = out[(out.id_contained == 0) & (out.id_container == 1)]
    assert len(row) == 1
    assert row["containment"].iloc[0] == pytest.approx(1.0)
    # but symmetric Jaccard misses it at the same bar
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    assert len(jac[(jac.id_a == 0) & (jac.id_b == 1)]) == 0


def test_vocab_coverage_on_known_frequencies(spark):
    from time_series_data_anomaly_detection_spark.datapipe.corpus import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(0, "a a a a b b c"), (1, "a b c d")],
            columns=["doc_id", "text"],
        )
    )
    out = (
        vocab_coverage(docs, ks=(1, 2, 100))
        .toPandas()
        .set_index("k")
    )
    # freqs: a=5, b=3, c=2, d=1 -> total 11, vocab 4
    assert (out["total_tokens"] == 11).all()
    assert (out["n_vocab"] == 4).all()
    assert out.loc[1, "covered_tokens"] == 5
    assert out.loc[2, "covered_tokens"] == 8
    assert out.loc[100, "covered_tokens"] == 11
    assert out.loc[2, "coverage"] == pytest.approx(8 / 11)


def test_pq_rerank_orders_shortlist_by_exact_cosine(spark, vectors):
    from time_series_data_anomaly_detection_spark.datapipe.similarity import (
        cosine_topk,
        pq_rerank_topk,
        pq_topk,
    )

    q = vectors.filter(F.col("vec_id") < 3)
    rer = pq_rerank_topk(
        vectors, q, k=3, shortlist=8, m=4, n_codes=8
    ).toPandas()
    short = pq_topk(vectors, q, k=8, m=4, n_codes=8).toPandas()
    exact = cosine_topk(vectors, q, k=50).toPandas()
    for qid, grp in rer.groupby("query_id"):
        cand = set(
            short[short.query_id == qid]["match_id"]
        )
        # rerank output is drawn from the shortlist...
        assert set(grp["match_id"]) <= cand
        # ...and ordered exactly as the exact cosine of those cands
        ex = exact[
            (exact.query_id == qid) & (exact.match_id.isin(cand))
        ].sort_values("rank")
        expect = list(ex["match_id"].iloc[: len(grp)])
        got = list(grp.sort_values("rank")["match_id"])
        assert got == expect


def test_bigram_surprise_matches_pure_python(spark, docs):
    """Exact check of the add-one bigram LM arithmetic against a
    from-scratch Python reference on the tiny corpus, plus the
    semantic ordering: the repeated-template docs (0/1/2 share almost
    every bigram) must score LESS surprising than the singleton
    French doc."""
    import re
    from collections import Counter

    from time_series_data_anomaly_detection_spark.datapipe.text import (
        TOKEN_RE,
        bigram_surprise,
    )

    out = (
        bigram_surprise(docs).orderBy("doc_id").toPandas().set_index("doc_id")
    )

    corpus = {
        r["doc_id"]: re.findall(TOKEN_RE, r["text"].lower())
        for r in docs.collect()
    }
    c12 = Counter()
    for toks in corpus.values():
        c12.update(zip(toks, toks[1:]))
    c1 = Counter()
    for (w1, _), m in c12.items():
        c1[w1] += m
    vocab = len({w for toks in corpus.values() for w in toks})
    for did, toks in corpus.items():
        bgs = list(zip(toks, toks[1:]))
        assert out.loc[did, "n_bigrams"] == len(bgs)
        inv = [(c1[b[0]] + vocab) / (c12[b] + 1) for b in bgs]
        expect = sum(inv) / len(bgs)
        assert out.loc[did, "surprise"] == pytest.approx(expect, rel=1e-9)
    # templated docs score low, the singleton-language doc scores high
    assert out.loc[4, "surprise"] > out.loc[0, "surprise"]
    assert out.loc[4, "surprise"] > out.loc[2, "surprise"]


def test_bpe_packing_pinned_token_counts(spark):
    """Token-exact packing (corpus_to_batches_bpe's core): a 3-merge
    BPE learned on the Sennrich toy corpus gives hand-derivable
    encodings — low→[low] (1), lower→[lowe, r] (2),
    lowest→[lowe, s, t] (3) — and the ctx=5 chunk layout follows
    exactly.  Every number below is pinned by hand, not computed."""
    from time_series_data_anomaly_detection_spark.datapipe.packing import (
        pack_stats_from_counts,
    )
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        bpe_encode_stats,
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [
            (1, "A", "low low lower"),
            (2, "A", "lowest low"),
            (3, "B", "low lower lowest"),
            (4, "B", "low"),
        ],
        "doc_id long, source string, text string",
    )
    mrows = bpe_learn_merges(docs, spark, n_merges=3).orderBy(
        "merge_rank"
    ).collect()
    # 9 words total (low x5, lower x2, lowest x2): 'lo' and 'low' in
    # all 9, then 'lowe' in the 4 lower/lowest occurrences
    assert [(r["left"], r["right"], r["pair_count"]) for r in mrows] == [
        ("l", "o", 9),
        ("lo", "w", 9),
        ("low", "e", 4),
    ]
    merges = [(r["left"], r["right"]) for r in mrows]
    enc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_encode_stats(docs, merges).collect()
    }
    # doc1 = 1+1+2, doc2 = 3+1, doc3 = 1+2+3, doc4 = 1
    assert enc == {1: 4, 2: 4, 3: 6, 4: 1}

    cnt = spark.createDataFrame(
        [(d, n) for d, n in enc.items()], "doc_id long, n_bpe_tokens long"
    )
    out = {
        (r["source"], r["chunk_id"]): (
            r["n_docs"], r["n_tokens"], r["fill_ratio"], r["first_doc"],
            r["last_doc"],
        )
        for r in pack_stats_from_counts(
            docs.select("doc_id", "source").join(cnt, "doc_id"),
            ctx=5,
            count_col="n_bpe_tokens",
        ).collect()
    }
    # shard A: doc1 [0,4) + doc2 [4,8) -> chunk0 holds 4+1, chunk1
    # holds doc2's remaining 3; shard B: doc3 [0,6) + doc4 [6,7)
    assert out == {
        ("A", 0): (2, 5, 1.0, 1, 2),
        ("A", 1): (1, 3, 0.6, 2, 2),
        ("B", 0): (1, 5, 1.0, 3, 3),
        ("B", 1): (2, 2, 0.4, 3, 4),
    }


def test_corpus_to_batches_bpe_token_sum_parity(spark):
    """Batch parity: the packed chunks' n_tokens must sum to the kept
    corpus's total BPE token count (no token lost or double-counted
    across chunk boundaries) and every non-tail chunk is exactly full."""
    from time_series_data_anomaly_detection_spark.plans.queries.corpus import (
        PACK_CTX,
        q_corpus_to_batches_bpe,
    )

    out = q_corpus_to_batches_bpe(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    per_shard = out.groupby("source")
    for src, g in per_shard:
        g = g.sort_values("chunk_id")
        # all but the final chunk of each shard are exactly ctx full
        assert (g["n_tokens"].iloc[:-1] == PACK_CTX).all(), src
        assert g["n_tokens"].iloc[-1] <= PACK_CTX
        # chunk ids are dense from 0
        assert list(g["chunk_id"]) == list(range(len(g))), src


def test_jsonl_and_text_corpus_loaders(spark, tmp_path):
    """Raw-corpus ingestion: JSONL and one-doc-per-file trees must
    land in the documents schema with DETERMINISTIC content-derived
    ids (stable across repartitionings; exact dups share an id by
    construction) and feed the datapipe operators directly."""
    import json

    from time_series_data_anomaly_detection_spark.datapipe import (
        doc_stats,
        read_jsonl_corpus,
        read_text_corpus,
    )

    jl = tmp_path / "crawl"
    jl.mkdir()
    rows = [
        {"text": "the quick brown fox jumps", "site": "a.com"},
        {"text": "pack my box with five dozen jugs", "site": "b.org"},
        {"text": "the quick brown fox jumps", "site": "a.com"},  # exact dup
        {"text": None, "site": "c.net"},  # dropped
    ]
    (jl / "part0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows)
    )
    docs = read_jsonl_corpus(
        spark, str(jl), text_field="text", source_field="site"
    )
    assert [f.name for f in docs.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]
    got = docs.toPandas().sort_values("text").reset_index(drop=True)
    assert len(got) == 3  # null text dropped
    assert (got["n_chars"] == got["text"].str.len()).all()
    # exact dups share the content-derived id; distinct docs don't
    from pyspark.sql import functions as F

    ids = (
        docs.groupBy("text")
        .agg(F.countDistinct("doc_id").alias("n"))
        .toPandas()
    )
    assert (ids["n"] == 1).all()
    assert got["doc_id"].nunique() == 2
    # ids survive a repartition (determinism — no monotonic ids)
    again = read_jsonl_corpus(
        spark, str(jl), text_field="text", source_field="site"
    ).repartition(7)
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )

    td = tmp_path / "tree"
    td.mkdir()
    (td / "d1.txt").write_text("alpha beta gamma")
    (td / "d2.txt").write_text("delta epsilon")
    (td / "ignored.bin").write_bytes(b"\x00\x01")
    files = read_text_corpus(spark, str(td))
    fp = files.toPandas().sort_values("text").reset_index(drop=True)
    assert len(fp) == 2  # glob filtered the .bin
    assert fp["source"].str.contains("d1.txt|d2.txt", regex=True).all()
    # the loaded frame drives the operators directly
    stats = doc_stats(files).toPandas()
    assert len(stats) == 2 and (stats["n_tokens"] > 0).all()


def test_jsonl_ingest_null_handling_and_report(spark, tmp_path):
    """r10 ADVICE fixes: (a) NULL-source rows must NOT collide with
    same-text docs from named sources (source coalesced to '' inside
    the id hash); (b) provided-but-NULL id_field rows fall back to the
    content id instead of passing NULL into join keys; (c) malformed
    JSON lines and null-text lines are COUNTED (jsonl_ingest_report),
    not silently dropped."""
    import json

    from time_series_data_anomaly_detection_spark.datapipe import (
        jsonl_ingest_report,
        read_jsonl_corpus,
    )

    jl = tmp_path / "crawl"
    jl.mkdir()
    lines = [
        json.dumps({"text": "same words here", "site": "a.com", "id": 7}),
        json.dumps({"text": "same words here", "id": None}),  # null source+id
        json.dumps({"text": "same words here"}),  # missing source+id
        json.dumps({"text": None, "site": "b.org", "id": 9}),  # null text
        "{not valid json at all",  # corrupt
        json.dumps({"text": "other words", "site": "a.com", "id": None}),
        # valid JSON, text present, non-text field type-mismatch: the
        # loader KEEPS this row (id falls back to content id), so the
        # report must say kept_coerced, not corrupt (r11 ADVICE)
        json.dumps({"text": "coerced row", "site": "c.net", "id": "x9"}),
    ]
    (jl / "part0.jsonl").write_text("\n".join(lines))

    docs = read_jsonl_corpus(
        spark, str(jl), text_field="text", id_field="id",
        source_field="site",
    ).toPandas()
    # null text + corrupt dropped from the documents frame; the
    # type-mismatch line survives with its text
    assert len(docs) == 5
    assert "coerced row" in set(docs["text"])
    # no NULL doc_id escapes (provided-but-NULL ids -> content ids)
    assert docs["doc_id"].notna().all()
    # explicit id wins where present
    assert 7 in set(docs["doc_id"])
    # the two null-source same-text rows share a content id (both hash
    # with source=''), and it differs from any named-source doc's id
    null_src = docs[docs["source"].isna()]
    assert len(null_src) == 2
    assert null_src["doc_id"].nunique() == 1
    named = docs[docs["source"].notna()]
    assert not set(null_src["doc_id"]) & set(named["doc_id"])

    rep = jsonl_ingest_report(
        spark, str(jl), text_field="text", id_field="id",
        source_field="site",
    ).toPandas().set_index("disposition")["n_lines"]
    assert rep.get("kept", 0) == 4
    assert rep.get("kept_coerced", 0) == 1
    assert rep.get("corrupt", 0) == 1
    assert rep.get("null_text", 0) == 1
    # kept + kept_coerced == loaded document count (the report's
    # documented invariant)
    assert rep.get("kept", 0) + rep.get("kept_coerced", 0) == len(docs)


def test_jsonl_report_scan_keeps_full_schema(spark, tmp_path):
    """Canary for the kept_coerced full-parse probe (r12 ADVICE): the
    report's zero-length-substring splice exists ONLY to defeat column
    pruning, so PERMISSIVE parses (and flags) every declared field.  It
    relies on Catalyst not constant-folding substring(x, 1, 0); if a
    future optimizer rule folds it away, pruning narrows the JSON scan
    and kept_coerced silently under-counts.  Assert the physical scan
    still reads ALL declared fields — this test failing = rewrite the
    probe (e.g. count per-field isnull flags in separate aggregates),
    not loosen the assert."""
    import json

    from time_series_data_anomaly_detection_spark.datapipe import (
        jsonl_ingest_report,
    )

    jl = tmp_path / "crawl2"
    jl.mkdir()
    (jl / "a.jsonl").write_text(
        json.dumps({"text": "t", "site": "s", "id": 1, "lang": "en"})
    )
    rep = jsonl_ingest_report(
        spark, str(jl), text_field="text", id_field="id",
        lang_field="lang", source_field="site",
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan json" in ln]
    assert scan_lines, f"no JSON FileScan in plan:\n{plan}"
    scan = scan_lines[0]
    for field in ("text", "id", "lang", "site", "_corrupt_record"):
        assert field in scan, (
            f"column pruning dropped {field!r} from the JSON scan — the "
            f"full-parse probe got optimized away:\n{scan}"
        )
