"""The per-partition shell every batch per-series model runs in.

Each model is a Spark-side prelude (a ``select``, sometimes an exact
aggregate joined back) plus a module-level kernel ``kernel(g) ->
columns`` over ONE group ``g``, its rows in ``rn`` order.
:func:`per_series` is the package's only batch per-series Python call:
it owns the partitioning decision, the sort and the output projection,
so a kernel is plain pandas/numpy that can be called in process.

One Python pass per task: the rows are hash-partitioned by the group
keys and sorted by ``(keys, rn)`` on the JVM side, then ONE
``mapInPandas`` walks each partition's Arrow batches, cuts them at key
changes, hands each complete group to the kernel and yields one output
frame per input batch.  A group that straddles two batches is carried
into the next one.  So each batch crosses the Arrow boundary once (a
grouped-map converts every group separately), no pandas sort runs, and
a task holds at most one Arrow batch plus one series.

Partitioning: AQE's shuffle coalescing is byte-based
(``parallelismFirst`` targets ~1 MB partitions): a multi-series frame
that is small in BYTES but expensive per row to model-fit gets
coalesced to a handful of partitions, serializing the Python stage
(measured: 50 GP fit groups on 3 of 32 workers).  Model-fit inputs
here are always narrow (series_id, rn, value, ...) while the kernel
does O(rows·m²) math, so bytes are the wrong currency — an explicit
hash repartition by the grouping keys, sized to the cluster's task
slots, is honored by AQE and keeps every group in one partition.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def udf_repartition(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` into ``defaultParallelism``
    partitions — one task slot each — before a compute-bound pandas
    UDF.  Parallelism is still capped by the distinct key count (chunk
    the work, as gp_forecast does, when that cap binds)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *keys)


def _group_starts(k: pd.DataFrame) -> np.ndarray:
    """Positions ``i >= 1`` of the key frame ``k`` whose keys differ
    from row ``i - 1``'s; NULL equals NULL, as in Spark's grouping."""
    cut = np.zeros(max(len(k) - 1, 0), bool)
    for c in k.columns:
        v = k[c].to_numpy()
        na = pd.isna(v)
        cut |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
    return np.flatnonzero(cut) + 1


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
    keys = list(keys)

    def run(pieces: list[pd.DataFrame]) -> pd.DataFrame:
        g = pd.concat(pieces) if len(pieces) > 1 else pieces[0]
        g = g.reset_index(drop=True)
        out = kernel(g)
        if not isinstance(out, pd.DataFrame):
            out = g.assign(**out)
        return out[names]

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_: list[pd.DataFrame] = []  # the group the last batch ended in
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if open_:
                # the open group's last row leads the key frame, so a
                # key change at the batch's first row shows up as cut 0
                k = pd.concat([open_[-1][keys].iloc[-1:], pdf[keys]])
                cuts = _group_starts(k) - 1
            else:
                cuts = _group_starts(pdf[keys])
            outs = []
            lo = 0
            for cut in cuts:
                if cut > lo:
                    open_.append(pdf.iloc[lo:cut])
                out = run(open_)
                if len(out):
                    outs.append(out)
                open_, lo = [], cut
            # a copy, so the carried rows do not pin the whole batch
            open_.append(pdf.iloc[lo:].copy())
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if open_:
            yield run(open_)

    return (
        udf_repartition(src, *keys)
        .sortWithinPartitions(*keys, "rn")
        .mapInPandas(run_partition, out_ddl)
    )
