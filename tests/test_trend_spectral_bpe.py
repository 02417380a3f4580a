"""Round-5 continuation operators: Mann-Kendall/Theil-Sen, empirical
p-value calibration, spectral-residual saliency, BPE tokenizer
induction, temperature mixture schedule."""

import numpy as np
import pandas as pd
import pytest

from tests.conftest import series_df


def _naive_mk(x):
    """O(n²) literal-formula reference for S, tau, Theil-Sen."""
    n = len(x)
    s = 0
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            d = x[j] - x[i]
            s += int(d > 0) - int(d < 0)
            slopes.append(d / (j - i))
    slopes.sort()
    m = len(slopes)
    k1, k2 = (m + 1) // 2, (m + 2) // 2
    sen = slopes[k1 - 1] if k1 == k2 else (slopes[k1 - 1] + slopes[k2 - 1]) / 2.0
    tau = s / (0.5 * n * (n - 1))
    return s, tau, sen


def test_mann_kendall_matches_naive(spark):
    rng = np.random.default_rng(7)
    x = np.cumsum(rng.normal(0.1, 1.0, 80))  # drifting walk
    from time_series_data_anomaly_detection_spark.operators.trend import (
        mann_kendall_frame,
    )

    row = mann_kendall_frame(series_df(spark, x)).collect()[0]
    s, tau, sen = _naive_mk(list(x))
    assert row["s_stat"] == s
    assert row["tau"] == pytest.approx(tau, abs=1e-12)
    assert row["sen_slope"] == pytest.approx(sen, abs=1e-12)
    assert row["n"] == 80


def test_mann_kendall_monotone_and_flat(spark):
    from time_series_data_anomaly_detection_spark.operators.trend import (
        mann_kendall_frame,
    )

    up = series_df(spark, [float(i) * 2.0 for i in range(50)], "up")
    flat = series_df(spark, [5.0] * 50, "flat")
    out = {
        r["series_id"]: r
        for r in mann_kendall_frame(up.unionByName(flat)).collect()
    }
    assert out["up"]["trend"] == "increasing"
    assert out["up"]["sen_slope"] == pytest.approx(2.0)
    assert out["up"]["tau"] == pytest.approx(1.0)
    # all-tied series: S = 0, var collapses by the tie correction
    assert out["flat"]["s_stat"] == 0
    assert out["flat"]["trend"] == "no trend"


def test_empirical_pvalues_match_pandas(spark):
    rng = np.random.default_rng(3)
    x = rng.normal(0, 1, 120)
    from time_series_data_anomaly_detection_spark.operators.scaling import (
        empirical_pvalues,
        mad_scores,
    )

    out = (
        empirical_pvalues(mad_scores(series_df(spark, x)))
        .select("rn", "z_mad", "p_emp")
        .toPandas()
        .sort_values("rn")
    )
    # pandas reference: ties-inclusive ECDF complement
    z = out["z_mad"].to_numpy()
    expect = np.array([(z >= zi).sum() for zi in z]) / len(z)
    assert np.allclose(out["p_emp"].to_numpy(), expect)
    # the max score gets the smallest possible p = 1/n
    assert out["p_emp"].min() == pytest.approx(1 / len(z))


def test_spectral_residual_finds_spike(spark):
    t = np.arange(256)
    x = np.sin(2 * np.pi * t / 24) * 5.0
    x[170] += 25.0  # planted point anomaly
    from time_series_data_anomaly_detection_spark.functions.spectral import (
        spectral_residual_scores,
    )

    out = (
        spectral_residual_scores(series_df(spark, x))
        .select("rn", "sr_score", "flag")
        .toPandas()
        .sort_values("sr_score", ascending=False)
    )
    assert int(out.iloc[0]["rn"]) == 171  # rn is 1-based
    assert out.iloc[0]["flag"] == 1


def test_bpe_merge_loop_known_corpus(spark):
    # classic Sennrich toy: "low lower lowest" repeated — early merges
    # build the shared stem
    docs = spark.createDataFrame(
        [(i, "low lower lowest low low") for i in range(10)],
        "doc_id long, text string",
    )
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        bpe_learn_merges,
        bpe_pair_counts,
    )

    pairs = {r["pair"]: r["cnt"] for r in bpe_pair_counts(docs).collect()}
    # 'lo' and 'ow' appear in every word occurrence: 5 words x 10 docs
    assert pairs["lo"] == 50
    assert pairs["ow"] == 50
    merges = bpe_learn_merges(docs, spark, n_merges=4).collect()
    seq = [(r["left"], r["right"]) for r in merges]
    # deterministic tie-break: ('l','o') before ('o','w') lexicographically,
    # then the merged 'lo'+'w' dominates
    assert seq[0] == ("l", "o")
    assert seq[1] == ("lo", "w")
    assert merges[1]["merged"] == "low"


def test_bpe_incremental_matches_naive_recount():
    # the r09 incremental pair-count index must be bit-equivalent to
    # recounting from scratch every merge (the r08 implementation) —
    # random corpora with repeated chars exercise overlap/zero-count
    # deletion paths
    import random

    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        _merge_loop,
    )

    def naive(words, n_merges):
        merges = []
        for rank in range(n_merges):
            counts = {}
            for syms, freq in words:
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + freq
            if not counts:
                break
            (left, right), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if cnt < 2:
                break
            merges.append((rank, left, right, cnt))
            merged = left + right
            for k, (syms, freq) in enumerate(words):
                j, out = 0, []
                while j < len(syms):
                    if (
                        j + 1 < len(syms)
                        and syms[j] == left
                        and syms[j + 1] == right
                    ):
                        out.append(merged)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                words[k] = (out, freq)
        return merges

    rng = random.Random(42)
    for trial in range(8):
        vocab = "abc" if trial % 2 == 0 else "ab"
        words = [
            (
                [rng.choice(vocab) for _ in range(rng.randint(1, 9))],
                rng.randint(1, 5),
            )
            for _ in range(60)
        ]
        w1 = [(list(s), f) for s, f in words]
        w2 = [(list(s), f) for s, f in words]
        assert _merge_loop(w1, 12) == naive(w2, 12), f"trial {trial}"
        assert w1 == w2, f"trial {trial} final word tables diverge"


def test_bpe_encode_fixed_matches_arrow_encoder(spark):
    """The hash-gated twin (vocab-level production encoder) must agree
    EXACTLY (integer counts) with the doc-level Arrow greedy encoder
    on the same pinned merges — same lowest-rank-first loop, two
    plumbing strategies (distinct-vocab UDF + count join-back vs
    per-doc memoized mapInPandas)."""
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        bpe_encode_stats,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.corpus import (
        _BPE_FIXED_MERGES,
        q_bpe_encode_fixed,
    )
    from time_series_data_anomaly_detection_spark.plans.queries._shared import (
        _docs,
    )

    sf = "/root/testdata/sf0.001"
    got = (
        q_bpe_encode_fixed(spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        bpe_encode_stats(_docs(spark, sf), list(_BPE_FIXED_MERGES))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["doc_id"] == want["doc_id"]).all()
    assert (got["n_bpe_tokens"] == want["n_bpe_tokens"]).all()
    assert (got["n_words"] == want["n_words"]).all()
    np.testing.assert_allclose(
        got["chars_per_token"].to_numpy(),
        want["chars_per_token"].to_numpy(),
        atol=1e-6,
    )
    # adversarial overlap/chaining words through BOTH paths
    toy = spark.createDataFrame(
        [
            (1, "erer ererer inin joinjoin hashhash"),
            (2, "rowrow owow stst parpar asas eeee"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    g2 = (
        _encode_fixed_on(toy, spark)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    w2 = (
        bpe_encode_stats(toy, list(_BPE_FIXED_MERGES))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (g2["n_bpe_tokens"] == w2["n_bpe_tokens"]).all()
    assert (g2["n_words"] == w2["n_words"]).all()


def test_bpe_encode_unrolled_catalyst_matches_production(spark):
    """The all-Catalyst unrolled apply (_bpe_encode_fixed_unrolled —
    executable documentation that the greedy apply is SQL-expressible,
    the same unrolling the DuckDB oracle runs) stays integer-exact
    against the production twin on the adversarial toy corpus AND the
    sf0.001 corpus."""
    import time_series_data_anomaly_detection_spark.plans.queries.corpus as rd

    toy = spark.createDataFrame(
        [
            (1, "erer ererer inin joinjoin hashhash"),
            (2, "rowrow owow stst parpar asas eeee"),
            (3, "lower lowest er i n o w jo in hash row"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    for frame, sf in ((toy, None), (None, "/root/testdata/sf0.001")):
        if frame is not None:
            got = _encode_fixed_on(
                frame, spark, fn=rd._bpe_encode_fixed_unrolled
            )
            want = _encode_fixed_on(frame, spark)
        else:
            got = rd._bpe_encode_fixed_unrolled(spark, sf)
            want = rd.q_bpe_encode_fixed(spark, sf)
        g = got.toPandas().sort_values("doc_id").reset_index(drop=True)
        w = want.toPandas().sort_values("doc_id").reset_index(drop=True)
        assert len(g) == len(w) > 0
        assert (g["doc_id"] == w["doc_id"]).all()
        assert (g["n_bpe_tokens"] == w["n_bpe_tokens"]).all()
        assert (g["n_words"] == w["n_words"]).all()
        np.testing.assert_allclose(
            g["chars_per_token"].to_numpy(),
            w["chars_per_token"].to_numpy(),
            atol=0,
        )


def _encode_fixed_on(docs_df, spark, fn=None):
    """Run a fixed-encode plan on an arbitrary docs frame by
    monkey-patching its _docs loader."""
    import time_series_data_anomaly_detection_spark.plans.queries.corpus as rd

    orig = rd._docs
    rd._docs = lambda s, d: docs_df
    try:
        return (fn or rd.q_bpe_encode_fixed)(spark, "ignored")
    finally:
        rd._docs = orig


def test_bpe_merges_fixed_oracle_matches_merge_loop():
    """The DuckDB unrolled-SQL trainer mirror (the hash gate's oracle
    side) must reproduce tokenize_bpe._merge_loop exactly on toy
    corpora exercising lexicographic TIES, merge chaining, and the
    count>=2 stop rule — the gate then certifies the production
    trainer against an independently-derived SQL implementation."""
    import duckdb
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        _merge_loop,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.corpus import (
        _BPE_TRAIN_ROUNDS,
        _bpe_merges_fixed_sql,
    )

    corpora = [
        # stem sharing + chaining ('lo' then 'lo'+'w')
        ["low lower lowest low low"] * 3,
        # lexicographic ties: 'aa' vs 'ab' pair counts collide
        ["aab aba baa aab"] * 2,
        # stop rule: every pair count 1 => zero merges
        ["ab cd ef gh ij kl mn op"],
        # overlap runs
        ["aaaa aaa aa aaaa"] * 2,
    ]
    for texts in corpora:
        docs = pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}
        )
        con = duckdb.connect()
        con.register("documents", docs)
        got = con.execute(_bpe_merges_fixed_sql()).fetchdf()
        got = got.sort_values("merge_rank").reset_index(drop=True)
        # reference: the engine's own incremental loop on the same
        # word-frequency table
        wf: dict[str, int] = {}
        import re

        for t in texts:
            for w in re.findall(r"[a-z0-9]+", t.lower()):
                wf[w] = wf.get(w, 0) + 1
        words = [(list(w), f) for w, f in wf.items()]
        want = _merge_loop(words, _BPE_TRAIN_ROUNDS)
        assert len(got) == len(want), texts[0]
        for i, (rank, lft, rgt, cnt) in enumerate(want):
            row = got.iloc[i]
            assert (
                int(row["merge_rank"]),
                row["left"],
                row["right"],
                row["merged"],
                int(row["pair_count"]),
            ) == (rank, lft, rgt, lft + rgt, cnt), (texts[0], i)


def test_corpus_to_batches_bpe_fixed_matches_production_path(spark):
    """The SQL-algebra end-to-end twin must equal the production path
    (corpus_prep keep set -> Arrow encoder with the SAME pinned merges
    -> pack_stats_from_counts) exactly."""
    from pyspark.sql import functions as F

    from time_series_data_anomaly_detection_spark.datapipe import corpus_prep
    from time_series_data_anomaly_detection_spark.datapipe.packing import (
        pack_stats_from_counts,
    )
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        bpe_encode_stats,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.corpus import (
        _BPE_FIXED_MERGES,
        PACK_CTX,
        q_corpus_to_batches_bpe_fixed,
    )
    from time_series_data_anomaly_detection_spark.plans.queries._shared import (
        JACCARD_T,
        _docs,
    )

    sf = "/root/testdata/sf0.001"
    key = ["source", "chunk_id"]
    got = (
        q_corpus_to_batches_bpe_fixed(spark, sf)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    docs = _docs(spark, sf)
    kept = (
        corpus_prep(docs, jaccard_threshold=JACCARD_T)
        .filter(F.col("verdict") == "keep")
        .select("doc_id")
    )
    kd = docs.join(kept, "doc_id")
    counts = bpe_encode_stats(
        kd, list(_BPE_FIXED_MERGES), keep_cols=("source",)
    ).select("doc_id", "source", "n_bpe_tokens")
    want = (
        pack_stats_from_counts(counts, ctx=PACK_CTX,
                               count_col="n_bpe_tokens")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in (
        "source", "chunk_id", "n_docs", "n_tokens", "first_doc", "last_doc"
    ):
        assert (got[col] == want[col]).all(), col
    np.testing.assert_allclose(
        got["fill_ratio"].to_numpy(), want["fill_ratio"].to_numpy()
    )


def test_bpe_pair_counts_deterministic_topn(spark):
    docs = spark.createDataFrame(
        [(1, "aa ab aa ba"), (2, "ab aa")], "doc_id long, text string"
    )
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        bpe_pair_counts,
    )

    rows = bpe_pair_counts(docs, top_n=2).collect()
    got = {(r["pair"], r["cnt"]) for r in rows}
    assert got == {("aa", 3), ("ab", 2)}


def test_mixture_schedule_invariants(spark):
    docs = spark.createDataFrame(
        [(i, "small" if i < 10 else "big", 100 if i < 10 else 1000)
         for i in range(110)],
        "doc_id long, source string, n_chars long",
    )
    from time_series_data_anomaly_detection_spark.datapipe.sampling import (
        mixture_schedule,
    )

    out = {r["source"]: r for r in mixture_schedule(docs).collect()}
    assert sum(r["mix_share"] for r in out.values()) == pytest.approx(1.0, abs=1e-5)
    for r in out.values():
        assert 0 < r["epochs"] <= 4.0
    # α-smoothing upweights the small source beyond its proportional share
    prop_small = out["small"]["size"] / (out["small"]["size"] + out["big"]["size"])
    assert out["small"]["p_alpha"] > prop_small
    assert out["small"]["epochs"] > out["big"]["epochs"]


def test_bpe_encode_known_merges(spark):
    docs = spark.createDataFrame(
        [(1, "low lowest slow"), (2, "low low")], "doc_id long, text string"
    )
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        _encode_word,
        bpe_encode_stats,
    )

    # pinned merges: l+o, lo+w, e+s, es+t
    merges = [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t")]
    assert _encode_word("lowest", dict(zip(merges, range(4)))) == ["low", "est"]
    out = {r["doc_id"]: r for r in bpe_encode_stats(docs, merges).collect()}
    # doc 1: low->1, lowest->2, slow->2 (s + low) = 5 tokens, 13 chars
    assert out[1]["n_bpe_tokens"] == 5
    assert out[1]["n_words"] == 3
    assert out[1]["chars_per_token"] == pytest.approx(13 / 5)
    # doc 2: two words, one token each
    assert out[2]["n_bpe_tokens"] == 2


def test_bpe_roundtrip_learn_then_encode(spark):
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 3) for i in range(5)],
        "doc_id long, text string",
    )
    from time_series_data_anomaly_detection_spark.datapipe.tokenize_bpe import (
        bpe_encode_stats,
        bpe_learn_merges,
    )

    merges = [
        (r["left"], r["right"])
        for r in bpe_learn_merges(docs, spark, n_merges=20).collect()
    ]
    out = bpe_encode_stats(docs, merges).collect()
    # after 20 merges on a 6-word vocab every word is one token
    for r in out:
        assert r["n_bpe_tokens"] == r["n_words"]


def test_asof_join_semantics(spark):
    from time_series_data_anomaly_detection_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 5), ("b", 2)],
        "series_id string, rn long",
    )
    right = spark.createDataFrame(
        [("a", 1, 100), ("a", 3, 300), ("a", 4, 400), ("b", 9, 900)],
        "series_id string, rn long, px long",
    )
    out = {
        (r["series_id"], r["rn"]): r["px_asof"]
        for r in asof_join(left, right, payload=["px"]).collect()
    }
    assert out[("a", 1)] == 100   # simultaneous right row IS visible
    assert out[("a", 3)] == 300
    assert out[("a", 5)] == 400   # latest at-or-before wins
    assert out[("b", 2)] is None  # no earlier right row -> null


def test_asof_join_tie_resolution(spark):
    from time_series_data_anomaly_detection_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 5)], "series_id string, rn long")
    right = spark.createDataFrame(
        [("a", 2, 1, 10), ("a", 2, 3, 30), ("a", 2, 2, 20)],
        "series_id string, rn long, seq long, px long",
    )
    row = asof_join(
        left, right, payload=["px", "seq"], tie_col="seq"
    ).collect()[0]
    assert row["px_asof"] == 30  # highest tie_col wins deterministically


def test_asof_join_preserves_suffix_lookalike_left_columns(spark):
    """A left column that merely ENDS with the suffix must survive —
    the projection tracks generated payload names, not the string."""
    from time_series_data_anomaly_detection_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 3, 7)], "series_id string, rn long, price_asof long"
    )
    right = spark.createDataFrame(
        [("a", 1, 100)], "series_id string, rn long, px long"
    )
    row = asof_join(left, right, payload=["px"]).collect()[0]
    assert row["price_asof"] == 7
    assert row["px_asof"] == 100


def test_asof_join_rejects_payload_name_collision(spark):
    import pytest as _pytest

    from time_series_data_anomaly_detection_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 3, 7)], "series_id string, rn long, px_asof long"
    )
    right = spark.createDataFrame(
        [("a", 1, 100)], "series_id string, rn long, px long"
    )
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, payload=["px"])


def test_theta_forecast_tracks_trend(spark):
    rng = np.random.default_rng(9)
    t = np.arange(200, dtype=float)
    x = 10.0 + 0.5 * t + rng.normal(0, 1.0, 200)  # linear trend + noise
    from time_series_data_anomaly_detection_spark.functions.theta import (
        theta_forecast,
    )

    out = theta_forecast(series_df(spark, x)).toPandas().sort_values("rn")
    assert len(out) == 50  # test region of 200 rows at 0.75 split
    # Hyndman-Billah: theta == SES with drift b/2, so on a pure linear
    # trend the h-step error grows like b*h/2 — check the closed form
    h = np.arange(1, 51, dtype=float)
    drift_slope = np.polyfit(h, out["resid"].to_numpy(), 1)[0]
    assert drift_slope == pytest.approx(0.25, abs=0.06)  # b/2 = 0.25
    # and it still beats the flat last-train-value forecast
    mae = out["resid"].abs().mean()
    flat_mae = np.abs(x[150:] - x[149]).mean()
    assert mae < flat_mae * 0.65


def test_theta_forecast_constant_series(spark):
    from time_series_data_anomaly_detection_spark.functions.theta import (
        theta_forecast,
    )

    out = theta_forecast(series_df(spark, [7.0] * 80)).toPandas()
    assert np.allclose(out["pred_mean"], 7.0)
    assert np.allclose(out["resid"], 0.0)


def test_spectral_residual_fixed_matches_numpy_tail(spark):
    """The hash-gated 64-point tail twin must agree with the numpy SR
    operator (functions/spectral.py) run on the same tail window: the
    twin's ratio/cbrt form is the algebraic collapse of exp(L - MA(L))
    plus an 8-decimal magnitude quantize, so agreement holds to ~1e-6."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.spectral import (
        spectral_residual_saliency,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.spectral import (
        q_spectral_residual_fixed,
    )

    sf = "/root/testdata/sf0.001"
    out = q_spectral_residual_fixed(spark, sf).toPandas()
    ev = pd.read_parquet(sf + "/events.parquet")
    assert len(out) > 0
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()[-64:]
            .astype(float)
        )
        sal, score = spectral_residual_saliency(x, q=3, score_window=40)
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == 64
        np.testing.assert_allclose(
            got["saliency"].to_numpy(), sal, rtol=1e-5, atol=1e-5
        )
        np.testing.assert_allclose(
            got["sr_score"].to_numpy(), score, rtol=1e-4, atol=1e-4
        )


def test_spectral_residual_fixed_512_matches_numpy_tail(spark):
    """The widened 512-point SR twin (same _sr_fixed_plan builder at
    nfft=512) must agree with the numpy SR operator on the same
    512-point tails.  sf0.01: sf0.001 series are ~200 points and are
    correctly filtered out by the n >= 512 guard."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.spectral import (
        spectral_residual_saliency,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.spectral import (
        q_spectral_residual_fixed_512,
    )

    sf = "/root/testdata/sf0.01"
    out = q_spectral_residual_fixed_512(spark, sf).toPandas()
    ev = pd.read_parquet(sf + "/events.parquet")
    assert len(out) > 0
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()[-512:]
            .astype(float)
        )
        if len(x) < 512:
            assert (out["series_id"] == sid).sum() == 0
            continue
        sal, score = spectral_residual_saliency(x, q=3, score_window=40)
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == 512
        np.testing.assert_allclose(
            got["saliency"].to_numpy(), sal, rtol=1e-5, atol=1e-5
        )
        np.testing.assert_allclose(
            got["sr_score"].to_numpy(), score, rtol=1e-4, atol=1e-4
        )


def test_bpe_trainer_gate_learns_the_pinned_encoder_vocab(spark):
    """The 16-round trainer twin and the 16-merge pinned encoder twin
    must agree: bpe_merges_fixed's learned merges at the gate SF ARE
    _BPE_FIXED_MERGES, so the trainer gate and the encoder gate cover
    one tokenizer end-to-end (r09 verdict item #4)."""
    from time_series_data_anomaly_detection_spark.plans.queries.corpus import (
        _BPE_FIXED_MERGES,
        _BPE_TRAIN_ROUNDS,
        q_bpe_merges_fixed,
    )

    assert _BPE_TRAIN_ROUNDS == len(_BPE_FIXED_MERGES) == 16
    rows = (
        q_bpe_merges_fixed(spark, "/root/testdata/sf0.01")
        .orderBy("merge_rank")
        .collect()
    )
    learned = [(r["left"], r["right"]) for r in rows]
    assert learned == _BPE_FIXED_MERGES
