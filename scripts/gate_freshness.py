"""Per-query driver-verification freshness: for each registry query,
the latest round the driver checked it (from the committed
CORRECTNESS_r{N}.json) and with what result, printed in the driver's
gate order as computed by ``__spark_entry__.queries()``.  The script
exits non-zero if any query's latest check FAILED.

Usage:
    python scripts/gate_freshness.py            # full table
    python scripts/gate_freshness.py --stale 2  # older than 2 rounds back
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    stale_cut = None
    if "--stale" in sys.argv:
        stale_cut = int(sys.argv[sys.argv.index("--stale") + 1])

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest, max_round = entrymod.load_history(repo)

    qs = list(entrymod.queries())  # gate order
    oracled = set(entrymod.oracle_sql())

    shown = 0
    for name in qs:
        rnd, status = latest.get(name, (0, "NEVER"))
        if stale_cut is not None and rnd > max_round - stale_cut:
            continue
        tag = "oracled" if name in oracled else "rows-only-decl"
        print(f"r{rnd:02d}  {status:9s}  {tag:14s}  {name}")
        shown += 1
    print(
        f"# {shown} shown / {len(qs)} queries; latest driver round r{max_round}",
        file=sys.stderr,
    )
    fails = [n for n in qs if latest.get(n, (0, "NEVER"))[1] == "FAIL"]
    if fails:
        print(f"# FAILING latest check: {fails}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
