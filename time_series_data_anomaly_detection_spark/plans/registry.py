"""The gate index: every ``q_<name>`` query and ``o_<name>`` DuckDB
oracle defined in a family module of ``plans/queries``, collected by
prefix, with no registration step.  Conventions both sides follow are
in ``plans/queries/__init__.py``."""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
from collections.abc import Callable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from . import queries as _families
from .queries._shared import R


def tieproof_round_sql(sql: str) -> str:
    """Rewrite every ``round(EXPR, 6)`` in oracle SQL into the shared
    floor quantizer (the DuckDB mirror of :func:`_rnd`).  Balanced-
    paren scan, applied to the final oracle strings in oracle_sql()."""
    out: list[str] = []
    i = 0
    while True:
        j = sql.find("round(", i)
        if j == -1:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        depth, k = 1, j + len("round(")
        last_comma = -1
        while depth:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                last_comma = k
            k += 1
        body, digits = sql[j + 6 : last_comma], sql[last_comma + 1 : k - 1]
        assert digits.strip() == str(R), f"unexpected round() digits: {digits!r}"
        out.append(
            f"(CASE WHEN isnan(CAST(({body}) AS DOUBLE)) THEN NULL "
            f"ELSE floor(CAST(({body}) AS DOUBLE) * 1000000.0 + 0.5) "
            f"/ 1000000.0 END)"
        )
        i = k


def _scoped(fn):
    """Release the PREVIOUS query's tracked caches at each query
    boundary, so a sequential multi-query session (driver gate, bench)
    never holds more than one query's cached frames.  ``wraps`` keeps
    ``inspect.unwrap`` reaching the real query body."""

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        from ..session import release_caches

        release_caches()
        return fn(spark, sf_dir)

    return wrapped


def _family_modules() -> list[ModuleType]:
    """The family modules of ``plans/queries`` in name order
    (``_``-prefixed modules hold helpers, not queries)."""
    return [
        importlib.import_module(f"{_families.__name__}.{info.name}")
        for info in pkgutil.iter_modules(_families.__path__)
        if not info.name.startswith("_")
    ]


def _members(prefix: str) -> dict[str, object]:
    """``{name: obj}`` for every ``<prefix><name>`` of the family
    modules, each module in definition order.  A function counts only
    in the module that defines it, so an import is never counted
    twice."""
    out = {}
    for mod in _family_modules():
        for attr, obj in vars(mod).items():
            if not attr.startswith(prefix) or (
                inspect.isfunction(obj) and obj.__module__ != mod.__name__
            ):
                continue
            assert attr[len(prefix):] not in out, f"duplicate {attr}"
            out[attr[len(prefix):]] = obj
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_<name>`` function, keyed ``<name>``.  The gate order is
    computed in ``__spark_entry__.queries()``."""
    return {
        name: _scoped(fn)
        for name, fn in _members("q_").items()
        if inspect.isfunction(fn)
    }


def _materialize_ctes(sql: str) -> str:
    """Mark every non-self-referencing CTE of a WITH RECURSIVE oracle
    as ``AS MATERIALIZED``.  DuckDB inlines plain CTEs, and an inlined
    CTE that is JOINed inside a recursive term is RE-EVALUATED — scan,
    windows and all — at every iteration of the recursion: the
    full-extent PELT twin's oracle measured 112 s with its ser2 CTE
    inlined vs 4.3 s materialized (2048 iterations × a re-run parquet
    scan + prefix-sum window).  Materializing is semantics-preserving,
    so it is applied mechanically to all recursive oracles rather than
    hand-annotated per query.  CTE headers are recognized at line
    start (``name AS (``); WINDOW clauses are indented and never
    match.  The recursive CTEs themselves (which reference their own
    name inside their balanced-paren body) are left untouched —
    MATERIALIZED is invalid on them."""
    import re as _re

    if "WITH RECURSIVE" not in sql:
        return sql
    out = []
    last = 0
    for m in _re.finditer(r"(?m)^([A-Za-z_]\w*) AS \(", sql):
        name = m.group(1)
        # balanced-paren scan of the CTE body
        depth, i = 1, m.end()
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end(): i - 1]
        if _re.search(rf"\b{name}\b", body):
            continue  # self-referencing: the recursive member
        out.append(sql[last: m.start()])
        out.append(f"{name} AS MATERIALIZED (")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def oracle_sql() -> dict[str, str]:
    return {
        name: _materialize_ctes(tieproof_round_sql(sql))
        for name, sql in _members("o_").items()
    }


def status_table() -> str:
    """STATUS.md: one row per query with its family module and its gate
    (``hash`` with an oracle, ``rows-only`` without)."""
    oracled = _members("o_")
    rows = [
        "# Query status",
        "Generated from the query index: `python -m "
        "time_series_data_anomaly_detection_spark.plans.registry > STATUS.md`.",
        "",
        "| query | family | gate |",
        "|---|---|---|",
    ]
    for name, fn in queries().items():
        family = inspect.unwrap(fn).__module__.rsplit(".", 1)[1]
        gate = "hash" if name in oracled else "rows-only"
        rows.append(f"| `{name}` | `{family}` | {gate} |")
    return "\n".join(rows) + "\n"


if __name__ == "__main__":
    print(status_table(), end="")
