"""PySpark-native time-series anomaly-detection engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``Aditya281122/Time_series_data_anomaly_detection``
(anomaly detection on NAB-style series via STL / Kalman / BSTS / GP /
LSTM / BOCPD models, rolling adaptive thresholds, and event-level
evaluation), generalized to a multi-series data model::

    series_id STRING, timestamp TIMESTAMP, value DOUBLE

Design principles (100 TB scale):

- Everything is a lazy DataFrame transformation; Catalyst picks the
  physical plan.  No ``collect()`` in any operator.
- Per-series sequential semantics ride on
  ``Window.partitionBy("series_id").orderBy("timestamp")`` — the
  parallelism axis is *many series*; no operator ever needs a global
  sort or a single-partition window.
- Model fits (Kalman, GP, BOCPD, ...) are Arrow-batched pandas UDFs
  (one ``mapInPandas`` pass per task, ``functions._partition``) — one
  fit per series, fanned out across executors.
- Small sides (labels, event tables, threshold grids) are broadcast.
"""

__version__ = "0.1.0"

from . import _worker_boot
from .session import get_spark  # noqa: F401

_worker_boot.install()
