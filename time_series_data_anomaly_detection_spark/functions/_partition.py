"""The per-partition shell every batch per-series model runs in.

Each model is a Spark-side prelude (a ``select``, sometimes an exact
aggregate joined back) plus a module-level kernel.  :func:`per_series`
is the package's only batch per-series Python call: it owns the
partitioning decision, the sort and the output projection, so a kernel
is plain numpy/pandas that can be called in process.

One Python pass per task: the rows are hash-partitioned by the group
keys and sorted by ``(keys, rn)`` on the JVM side, then ONE
``mapInPandas`` walks each partition's Arrow batches and cuts them
where the keys change.  A group that straddles two batches is carried
into the next one; the shell reads one batch ahead, so the group a
partition ends in joins its last batch's call.  Every group that ends
in a batch goes to the kernel in ONE call, ``kernel(cols, offsets)``:
``cols`` maps each column to an array of those rows, back to back in
``(keys, rn)`` order, and ``offsets`` holds the CSR group starts
followed by the row count.  So
each batch crosses the Arrow boundary once, no pandas sort runs, a task
holds at most two Arrow batches plus one series, and a kernel whose
recursion can step several series at once (``bocpd_changepoints``,
``kalman_local_level``) pays its per-step cost once per batch instead
of once per series.  A kernel written for one pandas group,
``kernel(g)``, runs under :func:`each_series`, which hands it each
group as a frame re-indexed from 0, as a grouped map would.

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


def each_series(kernel: Callable[[pd.DataFrame], Mapping | pd.DataFrame]) -> Callable:
    """Adapt a one-series pandas kernel ``kernel(g)`` to the batch
    contract of :func:`per_series`: it runs once per group, on a frame
    of the group's rows re-indexed from 0, exactly as a grouped map
    would hand it.  A returned mapping of new columns is attached to
    the group's rows; a returned frame is taken as is."""

    def run(cols: dict[str, np.ndarray], offsets: np.ndarray) -> pd.DataFrame:
        outs = []
        for lo, hi in zip(offsets[:-1].tolist(), offsets[1:].tolist()):
            g = pd.DataFrame({c: v[lo:hi] for c, v in cols.items()})
            out = kernel(g)
            outs.append(out if isinstance(out, pd.DataFrame) else g.assign(**out))
        outs = [o for o in outs if len(o)] or outs[:1]
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    return run


def per_series(
    src: DataFrame,
    out_ddl: str,
    kernel: Callable[[dict[str, np.ndarray], np.ndarray], Mapping | pd.DataFrame],
    keys: tuple[str, ...] = ("series_id",),
) -> DataFrame:
    """Run ``kernel`` over the ``keys`` groups of ``src`` (which must
    carry ``rn``), several groups per call.

    ``kernel(cols, offsets)`` gets every complete group of one Arrow
    batch: ``cols`` maps each column of ``src`` to an array of the
    batch's rows in ``(keys, rn)`` order, and group ``i`` is rows
    ``offsets[i]:offsets[i + 1]`` (CSR starts, ending with the row
    count).  It returns either a mapping of NEW columns, one value per
    input row, or — when its output rows are not the input rows
    (segments, alarms, one summary row) — a whole frame.  Either way
    the result is projected to the columns of ``out_ddl``.  A kernel
    written for one pandas group runs through :func:`each_series`."""
    names = StructType.fromDDL(out_ddl).names
    keys = list(keys)

    def run(pieces: list[pd.DataFrame], starts: list[int]) -> pd.DataFrame:
        g = pd.concat(pieces) if len(pieces) > 1 else pieces[0]
        cols = {c: g[c].to_numpy() for c in g.columns}
        out = kernel(cols, np.array([*starts, len(g)]))
        if not isinstance(out, pd.DataFrame):
            out = g.assign(**out)
        return out[names]

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_: list[pd.DataFrame] = []  # the group the last batch ended in
        batches = (b for b in batches if len(b))
        pdf = next(batches, None)
        while pdf is not None:
            # one batch ahead: after the last batch the group it ends in
            # is complete, so it joins that batch's call
            nxt = next(batches, None)
            if open_:
                # the open group's last row leads the key frame, so a
                # key change at the batch's first row shows up as cut 0
                k = pd.concat([open_[-1][keys].iloc[-1:], pdf[keys]])
                cuts = (_group_starts(k) - 1).tolist()
            else:
                cuts = _group_starts(pdf[keys]).tolist()
            if nxt is None:
                cuts.append(len(pdf))
            lo = 0
            if cuts:
                # every group that ends in this batch, in one call
                carried = sum(map(len, open_))
                starts = [0, *(carried + c for c in cuts[:-1])]
                lo = cuts[-1]
                if lo > 0:
                    open_.append(pdf.iloc[:lo])
                out = run(open_, starts)
                if len(out):
                    yield out
                open_ = []
            if lo < len(pdf):
                # a copy, so the carried rows do not pin the whole batch
                open_.append(pdf.iloc[lo:].copy())
            pdf = nxt

    return (
        udf_repartition(src, *keys)
        .sortWithinPartitions(*keys, "rn")
        .mapInPandas(run_partition, out_ddl)
    )
