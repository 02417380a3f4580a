"""The grouped-map shell every batch per-series model runs in.

Each model is a Spark-side prelude (a ``select``, sometimes an exact
aggregate joined back) plus a module-level kernel ``kernel(g) ->
columns`` over ONE group ``g``, its rows in ``rn`` order.
:func:`per_series` is the package's only batch ``applyInPandas`` call:
it owns the partitioning decision, the sort and the output projection,
so a kernel is plain pandas/numpy that can be called in process.

Partitioning: AQE's shuffle coalescing is byte-based
(``parallelismFirst`` targets ~1 MB partitions): a multi-series frame
that is small in BYTES but expensive per row to model-fit gets
coalesced to a handful of partitions, serializing the pandas-UDF stage
(measured: 50 GP fit groups on 3 of 32 workers).  Model-fit inputs
here are always narrow (series_id, rn, value, ...) while the UDF does
O(rows·m²) math, so bytes are the wrong currency — an explicit hash
repartition by the grouping keys, sized to the cluster's task slots,
is honored by AQE and satisfies the grouped-map's
clustered-distribution requirement (no second shuffle).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def udf_repartition(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` into ``defaultParallelism``
    partitions — one task slot each — before a compute-bound
    ``applyInPandas``.  Parallelism is still capped by the distinct
    key count (chunk the work, as gp_forecast does, when that cap
    binds)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *keys)


def per_series(
    src: DataFrame,
    out_ddl: str,
    kernel: Callable[[pd.DataFrame], Mapping | pd.DataFrame],
    keys: tuple[str, ...] = ("series_id",),
) -> DataFrame:
    """Run ``kernel`` once per ``keys`` group of ``src`` (which must
    carry ``rn``), the group's rows sorted by ``rn`` and re-indexed.

    ``kernel`` returns either a mapping of NEW columns, attached to the
    group's own rows, or — when its output rows are not the input rows
    (segments, alarms, one summary row) — a whole frame.  Either way
    the result is projected to the columns of ``out_ddl``."""
    names = StructType.fromDDL(out_ddl).names

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.sort_values("rn").reset_index(drop=True)
        out = kernel(g)
        if not isinstance(out, pd.DataFrame):
            out = g.assign(**out)
        return out[names]

    return (
        udf_repartition(src, *keys)
        .groupBy(*keys)
        .applyInPandas(run, out_ddl)
    )
