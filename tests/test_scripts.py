"""The measurement and gate scripts: no script imports a fixed
checkout, the gate scripts work from outside their checkout,
`scripts/ab.py` alternates and summarises its runs as it says, and
`bench.py`'s retry ledger is looked up per host key."""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(ROOT, "scripts")


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load("ab_script", os.path.join(SCRIPTS, "ab.py"))


def test_no_script_puts_a_literal_path_on_sys_path():
    offenders = []
    for fname in sorted(os.listdir(SCRIPTS)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(SCRIPTS, fname)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "insert"
                and ast.unparse(node.func.value) == "sys.path"
                and len(node.args) == 2
                and isinstance(node.args[1], (ast.Constant, ast.JoinedStr))
            ):
                offenders.append(f"{fname}:{node.lineno}")
    assert offenders == []


def test_check_oracles_runs_from_outside_the_checkout(tmp_path):
    """``kalman_forecast_fixed`` runs a Python UDF: its Spark workers
    must import the package of the script's own checkout even when
    the script is started from another directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, os.path.join(SCRIPTS, "check_oracles.py"),
         "/root/testdata/sf0.001", "kalman_forecast_fixed"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    assert "OK" in out.stdout


# Each run appends "<side> <first PYTHONPATH entry is cwd>" to LOG and
# prints the side's next value; a value of "fail" exits 1, "junk"
# prints a last line that is not JSON.
RUN = textwrap.dedent(
    """
    import json, os, sys
    log, side = sys.argv[1], os.path.basename(os.getcwd())
    first = os.environ["PYTHONPATH"].split(os.pathsep)[0] == os.getcwd()
    with open("n") as f:
        n = int(f.read())
    with open("n", "w") as f:
        f.write(str(n + 1))
    with open(log, "a") as f:
        f.write(f"{side} {first}\\n")
    v = json.load(open("values.json"))[n]
    if v == "fail":
        sys.exit(1)
    print("report line")
    print("junk" if v == "junk" else json.dumps(
        {"correct": True, "metrics": {"pass_s": {"value": v[0], "unit": "s"},
                                      "rows_per_s": {"value": v[1], "unit": "rows/s"}}}))
    """
)


def _checkout(tmp_path, name, values, bench=None):
    d = tmp_path / name
    d.mkdir()
    (d / "n").write_text("0")
    (d / "values.json").write_text(json.dumps(values))
    if bench is not None:
        (d / "BENCHMARK.json").write_text(json.dumps(bench))
    return str(d)


def _rows(out: str) -> dict[str, list[str]]:
    rows = {}
    for line in out.splitlines():
        if line.startswith(("pass_s", "rows_per_s")):
            name, a, b, delta, wins, rule = line.replace(" [", "[").replace(", ", ",").split()
            rows[name] = [a, b, delta, wins, rule]
    return rows


def test_ab_checkouts_alternate_and_summarise(tmp_path, capsys):
    pass_a = [10, 12, 11, 13, 9, 10, 12, 11, 10, 12]  # 11 [10, 12]
    pass_b = [8, 10, 9, 11, 7, 8, 10, 9, 8, 13]  # 9 [8, 10]; loses pair 10
    rows_a = [100, 102, 101, 103, 99, 100, 102, 101, 100, 102]  # 101 [100, 102]
    bench = {"end_to_end": [{"name": "rows_per_s", "better": "higher"}]}
    a = _checkout(tmp_path, "A", [[p, r] for p, r in zip(pass_a, rows_a)], bench)
    b = _checkout(tmp_path, "B", [[p, r + 5] for p, r in zip(pass_b, rows_a)])
    log = tmp_path / "log"
    rc = ab.main([a, b, "--pairs", "10", "--", sys.executable, "-c", RUN, str(log)])
    out = capsys.readouterr().out

    assert rc == 0
    order = log.read_text().split("\n")[:-1]
    assert order == ["A True", "B True", "B True", "A True"] * 5
    assert "pairs 10, failed pairs 0" in out
    rows = _rows(out)
    # B wins 9/10 on pass_s but its median moved by exactly A's IQR: no
    assert rows["pass_s"] == ["11[10,12]", "9[8,10]", "-18.2%", "9/10", "no"]
    # higher is better from A's BENCHMARK.json: +5 in every pair, IQR 2
    assert rows["rows_per_s"] == ["101[100,102]", "106[105,107]", "+5.0%", "10/10", "holds"]


def test_ab_reports_and_counts_failed_runs(tmp_path, capsys):
    a = _checkout(tmp_path, "A", ["junk", [5, 1], [5, 1], [5, 1]])
    b = _checkout(tmp_path, "B", [[4, 1], [4, 1], "fail", [4, 1]])
    rc = ab.main([a, b, "--pairs", "4", "--", sys.executable, "-c", RUN, str(tmp_path / "log")])
    cap = capsys.readouterr()

    assert rc == 1
    assert "pairs 4, failed pairs 2" in cap.out
    assert cap.err.count("FAILED run") == 2
    assert "exit code 1" in cap.err
    # failed pairs count against B: 2 wins of 4 pairs
    assert _rows(cap.out)["pass_s"] == ["5[5,5]", "4[4,4]", "-20.0%", "2/4", "no"]


def test_ab_in_process_mode(tmp_path, monkeypatch, capsys):
    (tmp_path / "ab_inproc_mod.py").write_text(textwrap.dedent(
        """
        import time
        calls = []

        def slow():
            calls.append("slow")
            time.sleep(0.02)

        def fast():
            calls.append("fast")
        """
    ))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(sys, "path", list(sys.path))
    try:
        rc = ab.main(["ab_inproc_mod:slow", "ab_inproc_mod:fast", "--pairs", "4"])
        calls = sys.modules["ab_inproc_mod"].calls
    finally:
        sys.modules.pop("ab_inproc_mod", None)
    out = capsys.readouterr().out

    assert rc == 0
    # one untimed warm-up each, then AB, BA, AB, BA
    assert calls == ["slow", "fast"] + ["slow", "fast", "fast", "slow"] * 2
    line = next(ln for ln in out.splitlines() if ln.startswith("seconds"))
    assert line.split()[-2:] == ["4/4", "holds"]


def test_bench_ledger_is_keyed_by_host(monkeypatch):
    bench = _load("bench_script", os.path.join(ROOT, "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    key = bench.ledger_key(0.1)
    assert "4 cpus" in key and key.endswith("sf0.1")
    assert bench.ledger_key(0.01) != key
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench.ledger_key(0.1) != key

    # an SF-only entry from older runs is never consulted
    ledger = {"0.1": {"q": 1.0, "r": 1.0}}
    assert bench.ledger_baseline(ledger, key) == {}
    warm = bench.warm_times(bench.ledger_baseline(ledger, key), {"q": 3.0, "r": 2.0})
    assert warm == {"q": 3.0, "r": 2.0}
    ledger[key] = warm
    warm = bench.warm_times(bench.ledger_baseline(ledger, key), {"q": 4.0, "r": 1.5})
    assert warm == {"q": 3.0, "r": 1.5}
