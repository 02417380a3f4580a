"""Gate-coverage invariant (r06 verdict item #7): every registered
query must carry the HARD correctness signal (a DuckDB oracle, which
both the driver's hash gate and scripts/hash_check.py iterate) unless
it is on the explicit rows-only allowlist below — the queries whose
algorithms are genuinely not SQL-expressible (EM/MLE/SGD fits, FFT,
DP recursions, zlib) and whose semantics are pinned by unit/parity
tests instead.

Adding a query without an oracle and without declaring it here FAILS
this test: silent rows-only registration is how gate coverage rots.
"""

from __future__ import annotations

# Declared rows-only queries.  Each entry must name its reason; the
# parity/unit test carrying its semantics lives in tests/.
ROWS_ONLY = {
    # FFT / spectral (engine libm + FFT not cross-engine bit-stable)
    "spectral_residual": "FFT saliency map",
    "matrix_profile": "batched-FFT MASS distance profile",
    "matrix_profile_tiled": "tile-pair AB-join kernels (same non-SQL math)",
    "acf_fft": "all-lags FFT autocorrelation",
    # dynamic programming / iterative algorithms
    "pelt_changepoints": "PELT argmin DP recursion",
    "dtw_distance": "banded DTW DP recursion",
    "bocpd_changepoints": "O(T^2) Bayesian run-length recursion",
    "bpe_merges": "iterative merge induction loop",
    "bpe_encode": "iterative pair-merge encoding",
    "corpus_to_batches_bpe": "packs on learned-BPE counts (merge loop)",
    # iterative / test-statistic models with transcendental internals
    "shesd_flags": "iterative ESD with t-distribution quantiles",
    "compression_ratio": "zlib deflate inside the projection",
    "harmonic_forecast": "sin/cos design matrix (see _fixed twin)",
    "stl_robust": "robust Loess iterations",
    # model fits (EM / MLE / SGD); fixed-parameter twins are gated
    "kalman_forecast": "EM-estimated variances",
    "kalman_forecast_filtered": "EM + filtered (dynamic=False) path",
    "bsts_forecast": "EM + dummy-seasonal state space",
    "bsts_forecast_multiseasonal": "EM + [48,336] seasonal states",
    "gp_forecast": "grid-LML kernel selection + Cholesky solves",
    "lstm_forecast": "SGD training",
    # composite pipelines built on the fits above
    "walk_forward_cv": "refits models per fold",
    "benchmark_leaderboard": "aggregates model-fit outputs",
    "hybrid_detection": "three-model fusion",
    "hybrid_detection_bsts_lstm": "notebook-weight model fusion",
}


def test_every_query_is_oracled_or_declared_rows_only():
    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    oracled = set(entrymod.oracle_sql())

    undeclared = qs - oracled - set(ROWS_ONLY)
    assert not undeclared, (
        "queries registered without an oracle and not declared "
        f"rows-only: {sorted(undeclared)} — add a DuckDB oracle "
        "(preferred) or an allowlist entry with its reason"
    )

    # allowlist hygiene: no dead entries, no entry shadowing an oracle
    dead = set(ROWS_ONLY) - qs
    assert not dead, f"ROWS_ONLY entries not in queries(): {sorted(dead)}"
    shadowed = set(ROWS_ONLY) & oracled
    assert not shadowed, (
        f"ROWS_ONLY entries that HAVE an oracle: {sorted(shadowed)} — "
        "remove them from the allowlist"
    )


def test_every_oracle_has_a_query():
    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    orphans = oracled - qs
    assert not orphans, f"oracles without a queries() entry: {sorted(orphans)}"


def test_no_query_failing_its_latest_driver_check():
    """The driver's CORRECTNESS history must show no query whose most
    recent check FAILED — a fail means either a regression or an
    oracle drift, and both block the round."""
    import os

    from __spark_entry__ import load_history

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    latest, max_round = load_history(repo)
    assert max_round >= 6
    fails = [n for n, (r, s) in latest.items() if s == "FAIL"]
    assert not fails, f"queries failing their latest driver check: {fails}"


def test_status_gate_names_exist_in_registry():
    """Docs-rot guard: every `hash X` / `rows X` gate name cited in
    STATUS.md's operator tables must be a real queries() entry (a
    renamed or deleted query must not leave a stale STATUS claim)."""
    import os
    import re

    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(repo, "STATUS.md")).read()
    cited = set()
    # gate cells look like: "hash `name`", "rows `name`", possibly
    # bolded (**hash `name`**) and with several names per cell; only
    # table lines count (prose mentions "hash-oracled" etc.)
    for line in text.splitlines():
        if not line.startswith("|"):
            continue
        for name in re.findall(r"(?:hash|rows) \*{0,2}`([a-z0-9_]+)`", line):
            cited.add(name)
    missing = sorted(cited - qs)
    assert not missing, f"STATUS.md cites unknown gate queries: {missing}"
    assert len(cited) > 100  # the tables really were parsed


def test_materialize_ctes_transform():
    """_materialize_ctes must mark exactly the non-self-referencing
    CTEs of recursive oracles, leave recursive members and WINDOW
    clauses untouched, and pass non-recursive SQL through unchanged."""
    from time_series_data_anomaly_detection_spark.plans import (
        registry_datapipe,
    )
    from time_series_data_anomaly_detection_spark.plans.registry import (
        ORACLES,
        _materialize_ctes,
        oracle_sql,
    )

    sql = """
WITH RECURSIVE
s AS (
  SELECT 1 AS x FROM t
  WINDOW w AS (PARTITION BY a ORDER BY b)
),
dp AS (
  SELECT 0 AS k FROM s
  UNION ALL
  SELECT dp.k + 1 FROM dp JOIN s USING (x) WHERE dp.k < 5
)
SELECT * FROM dp
"""
    out = _materialize_ctes(sql)
    assert "s AS MATERIALIZED (" in out
    assert "dp AS MATERIALIZED" not in out  # self-referencing
    assert "WINDOW w AS MATERIALIZED" not in out  # window spec untouched
    assert "WINDOW w AS (PARTITION" in out
    # non-recursive SQL passes through byte-identical
    plain = "WITH a AS (SELECT 1)\nSELECT * FROM a"
    assert _materialize_ctes(plain) == plain
    # every shipped recursive oracle got the treatment; every
    # non-recursive oracle keeps exactly the MATERIALIZED marks written
    # in its raw SQL (some materialize a CTE by hand)
    raw = {**ORACLES, **registry_datapipe.ORACLES}
    for name, osql in oracle_sql().items():
        if "WITH RECURSIVE" in osql:
            assert "AS MATERIALIZED (" in osql, name
        else:
            assert osql.count("AS MATERIALIZED") == raw[name].count(
                "AS MATERIALIZED"
            ), name


def test_queries_are_collected_by_q_prefix(monkeypatch):
    """Registration is by convention: a module-level ``q_<name>``
    function of the registry is a query named ``<name>``, with no
    other edit, and every key unwraps to its ``q_`` function."""
    import inspect

    import __spark_entry__ as entrymod
    from time_series_data_anomaly_detection_spark.plans import registry

    def q_probe_tmp(spark, sf_dir):
        return spark.range(1)

    monkeypatch.setattr(registry, "q_probe_tmp", q_probe_tmp, raising=False)
    qs = registry.queries()
    assert inspect.unwrap(qs["probe_tmp"]) is q_probe_tmp
    assert "probe_tmp" in entrymod.queries()
    for name, fn in qs.items():
        assert inspect.unwrap(fn).__name__ == f"q_{name}", name


def test_gate_order_follows_committed_history():
    """The driver's gate order re-verifies the stalest oracled queries
    first and puts the rows-only queries last."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    latest, _ = entrymod.load_history(entrymod._REPO)

    assert len(ROWS_ONLY) == 24
    assert set(names[-len(ROWS_ONLY):]) == set(ROWS_ONLY)
    prefix = names[: -len(ROWS_ONLY)]
    assert set(prefix) == oracled
    rounds = [latest.get(n, (0, "NEVER"))[0] for n in prefix]
    assert rounds == sorted(rounds)


def test_gate_order_without_history(monkeypatch, tmp_path):
    """With no committed history every query counts as never checked:
    oracled queries by name, then rows-only queries by name."""
    import __spark_entry__ as entrymod

    load = entrymod.load_history
    monkeypatch.setattr(
        entrymod, "load_history", lambda repo: load(str(tmp_path))
    )
    oracled = set(entrymod.oracle_sql())
    names = list(entrymod.queries())
    assert names == sorted(oracled) + sorted(set(names) - oracled)
    assert set(names) - oracled == set(ROWS_ONLY)


def test_pipelines_import_does_not_load_registry():
    """The production path (``score_model``, ``run_benchmark``) must
    not pay for building the gate registry's oracle strings."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        "import time_series_data_anomaly_detection_spark.plans.pipelines\n"
        "pkg = 'time_series_data_anomaly_detection_spark.plans.'\n"
        "print(sorted(m for m in sys.modules if m.startswith(pkg + 'registry')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
