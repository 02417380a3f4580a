"""Cross-engine bit-exact float algebra helpers.

The driver's correctness gate hashes round(x, 6) values from Spark and
DuckDB side by side.  Two independent hazards make naive float outputs
flip at the last decimal:

1. ORDER-DEPENDENT SUMS — both engines sum doubles in whatever order
   their parallel plans produce (Spark partial aggregates per
   partition, DuckDB morsel-parallel combines; DuckDB windowed
   aggregates use segment trees while Spark re-scans frames), so the
   last ulp of any ``sum``/``avg``/``stddev``/``corr`` over doubles is
   nondeterministic and engine-dependent.  Fix: route every such sum
   through DECIMAL(38,12) — decimal addition is exact, hence
   associative/commutative, hence order- and engine-independent — then
   do the remaining algebra in doubles with the SAME expression tree on
   both sides (IEEE ops on identical inputs are identical).

2. ROUND-HALF TIES — ``round(x, 6)`` disagrees between engines when x
   sits exactly on a 5e-7 grid point (e.g. a mean of 2-decimal data
   over a 32-row window = ...3125 exactly): Spark rounds the exact
   BigDecimal of the double, DuckDB rounds ``x*1e6`` in double space.
   Fix: quantize with ``floor(x*1e6 + 0.5)/1e6`` spelled identically on
   both sides — given bit-identical x (point 1) the result is
   bit-identical, whatever the tie.

These are the Spark (Column) forms.  The oracles spell the same
algebra in SQL text: the quantizer through
``plans.registry.tieproof_round_sql``, the sums as ``CAST(sum(CAST(x AS
DECIMAL(38,12))) AS DOUBLE)``; keep the two forms in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,12)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def r6(col: Column | str) -> Column:
    """Tie-proof 6-decimal quantizer (Spark side). NaN -> null (Spark's
    floor would silently map NaN to 0 through the long cast)."""
    c = _c(col).cast("double")
    q = F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(q)


def dsum(col: Column | str) -> Column:
    """Order-independent sum of doubles via exact decimal accumulation
    (Spark side).  Apply ``.over(window)`` on the returned aggregate via
    :func:`dsum_over` when a window frame is needed."""
    return F.sum(_c(col).cast(DEC)).cast("double")


def dsum_over(col: Column | str, window) -> Column:
    return F.sum(_c(col).cast(DEC)).over(window).cast("double")
