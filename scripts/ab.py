"""Same-host A/B of two checkouts, or of two callables in one process.

Usage:
    python scripts/ab.py DIR_A DIR_B [--pairs N] -- CMD...
    python scripts/ab.py MODULE:ATTR MODULE:ATTR [--pairs N]

Checkouts: CMD runs with each directory as cwd and first on PYTHONPATH,
alternating which side goes first in each pair. Each numeric leaf of the
JSON object on its last stdout line is a metric, named by its dotted
path less a leading ``metrics.`` and a trailing ``.value`` (perfbench's
``metrics.pass_s.value`` is ``pass_s``). A run that exits non-zero or
ends without a JSON line fails its pair, which is reported and counted.
Callables: imported with the current directory first on sys.path,
called once each untimed, then timed alternately (metric ``seconds``).

Per metric it prints A and B as median [q1, q3], the change of the
median, the pairs B won, and whether the rule holds: B wins at least
9/10 of all pairs (a failed pair is lost) and its median moved the
better way by more than A's interquartile range. "Better" is the
metric's ``better`` in DIR_A/BENCHMARK.json if named there, else lower.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import subprocess
import sys
import time


def quartiles(xs: list[float]) -> tuple[float, ...]:
    """(q1, median, q3), linear interpolation between order statistics."""
    return tuple(statistics.quantiles(xs, n=4, method="inclusive")) if len(xs) > 1 else (xs[0],) * 3


def summarize(pairs: list[tuple], higher_better: bool = False) -> dict | None:
    """Statistics of one metric over (a, b) pairs; None marks a failed run."""
    ok = [(a, b) for a, b in pairs if a is not None and b is not None]
    if not ok:
        return None
    sign = -1.0 if higher_better else 1.0
    qa, qb = quartiles([a for a, _ in ok]), quartiles([b for _, b in ok])
    delta = qb[1] - qa[1]
    wins = sum(sign * (b - a) < 0 for a, b in ok)
    return {
        "a": qa,
        "b": qb,
        "delta_pct": 100.0 * delta / abs(qa[1]) if qa[1] else float("nan"),
        "wins": wins,
        "pairs": len(pairs),
        "holds": wins >= 0.9 * len(pairs) and sign * delta < 0 and abs(delta) > qa[2] - qa[0],
    }


def leaves(obj, prefix: str = "") -> dict[str, float]:
    if isinstance(obj, bool):
        return {}
    if isinstance(obj, (int, float)):
        name = prefix.removeprefix("metrics.")
        return {name[: -len(".value")] if name.endswith(".value") else name: float(obj)}
    items = obj.items() if isinstance(obj, dict) else enumerate(obj) if isinstance(obj, list) else ()
    out: dict[str, float] = {}
    for k, v in items:
        out.update(leaves(v, f"{prefix}.{k}" if prefix else str(k)))
    return out


def run_checkout(d: str, cmd: list[str]) -> dict[str, float] | None:
    path = [os.path.abspath(d), os.environ.get("PYTHONPATH", "")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in path if p))
    p = subprocess.run(cmd, cwd=d, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        if p.returncode:
            raise ValueError(f"exit code {p.returncode}")
        return leaves(json.loads(lines[-1] if lines else ""))
    except ValueError as exc:
        tail = "\n  ".join(p.stderr.strip().splitlines()[-5:])
        print(f"FAILED run in {d}: {exc}\n  {tail}", file=sys.stderr)
        return None


def load_callable(spec: str):
    module, _, attr = spec.partition(":")
    return getattr(importlib.import_module(module), attr)


def time_call(fn) -> dict[str, float]:
    t0 = time.perf_counter()
    fn()
    return {"seconds": time.perf_counter() - t0}


def directions(path: str) -> dict[str, bool]:
    try:
        with open(path) as f:
            bench = json.load(f)
    except (OSError, ValueError):
        return {}
    return {
        m["name"]: m.get("better") == "higher"
        for m in bench.get("end_to_end", []) + bench.get("per_layer", [])
    }


def report(runs: list[list], higher: dict[str, bool]) -> int:
    """Print the table; returns the number of failed pairs."""
    failed = sum(None in pair for pair in runs)
    print(f"pairs {len(runs)}, failed pairs {failed}")
    names = sorted({m for pair in runs for r in pair if r for m in r})
    print(f"{'metric':<28} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28} {'delta':>8} {'B wins':>7}  rule")
    for m in names:
        s = summarize([tuple(r.get(m) if r else None for r in pair) for pair in runs], higher.get(m, False))
        if s is None:
            continue
        a, b = ("{1:.4g} [{0:.4g}, {2:.4g}]".format(*s[k]) for k in ("a", "b"))
        wins = f"{s['wins']}/{s['pairs']}"
        print(f"{m:<28} {a:>28} {b:>28} {s['delta_pct']:>+7.1f}% {wins:>7}  {'holds' if s['holds'] else 'no'}")
    return failed


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    cut = argv.index("--") if "--" in argv else len(argv)
    cmd = argv[cut + 1 :]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="DIR_A, or MODULE:ATTR in in-process mode")
    ap.add_argument("b", help="DIR_B, or MODULE:ATTR in in-process mode")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv[:cut])
    if cmd:
        sides = [args.a, args.b]
        run = lambda d: run_checkout(d, cmd)  # noqa: E731
        higher = directions(os.path.join(args.a, "BENCHMARK.json"))
    else:
        sys.path.insert(0, os.getcwd())
        sides = [load_callable(args.a), load_callable(args.b)]
        for fn in sides:
            fn()
        run, higher = time_call, {}
    runs = []
    for i in range(args.pairs):
        pair = [None, None]
        for s in (0, 1) if i % 2 == 0 else (1, 0):
            pair[s] = run(sides[s])
        shown = [" ".join(f"{m}={v:.4g}" for m, v in r.items()) if r else "FAILED" for r in pair]
        print(f"pair {i + 1}/{args.pairs} ({'AB' if i % 2 == 0 else 'BA'}): A {shown[0]} | B {shown[1]}",
              file=sys.stderr, flush=True)
        runs.append(pair)
    return 1 if report(runs, higher) else 0


if __name__ == "__main__":
    sys.exit(main())
