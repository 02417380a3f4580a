"""Seeded fleet generator for the benchmark.

Every workload draws its series from :func:`make_fleet`, which follows
the series recipe in FIXTURES.md: seasonal, heavy-tailed, drifting with
one level shift, and constant series, each with injected spike/dip
windows.  The program under test only ever sees the parquet files that
:func:`write_events` and :func:`write_stream` produce, in the schema of
the synthetic ``events`` table (``event_id, ts, user_id, event_type,
value, props``), so the registry's own loaders and oracles apply.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

KINDS = ("seasonal", "noisy", "drifting", "constant")
START = np.datetime64("2024-01-01T00:00:00", "us")
START_EPOCH_S = 1704067200  # START in seconds since the epoch (UTC)
STEP = np.timedelta64(30, "m")  # 30-min grid, 48 samples per day


def _series(kind: str, n: int, rng: np.random.Generator) -> np.ndarray:
    t = np.arange(n, dtype=float)
    level = rng.uniform(50.0, 150.0)
    if kind == "seasonal":
        sigma = rng.uniform(1.0, 3.0)
        y = (
            level
            + rng.uniform(5.0, 15.0) * np.sin(2 * np.pi * t / 48)
            + rng.uniform(2.0, 6.0) * np.sin(2 * np.pi * t / 336)
            + rng.normal(0.0, sigma, n)
        )
    elif kind == "noisy":
        sigma = rng.uniform(1.0, 3.0)
        y = level + sigma * rng.standard_t(3, n)
    elif kind == "drifting":
        sigma = rng.uniform(0.5, 1.5)
        y = level + np.cumsum(rng.normal(0.0, 0.2 * sigma, n)) + rng.normal(0.0, sigma, n)
        shift_at = int(rng.integers(n // 4, 3 * n // 4))
        y[shift_at:] += rng.choice((-1.0, 1.0)) * rng.uniform(8.0, 15.0) * sigma
    else:
        sigma = 1.0
        y = np.full(n, level)
    # 2-5 additive spike/dip windows of 6-10 sigma, 2-6 samples long
    for _ in range(int(rng.integers(2, 6))):
        width = int(rng.integers(2, 7))
        at = int(rng.integers(0, max(n - width, 1)))
        y[at : at + width] += rng.choice((-1.0, 1.0)) * rng.uniform(6.0, 10.0) * sigma
    return np.round(y, 2)


def make_fleet(n_series: int, n_points: int, seed: int) -> pd.DataFrame:
    """``n_series`` series of ``n_points`` each, as rows of the events
    table in time order.  The same arguments give the same frame."""
    rng = np.random.default_rng(seed)
    values = np.empty((n_points, n_series))
    names = []
    for i in range(n_series):
        kind = KINDS[i % len(KINDS)]
        names.append(f"s{i:05d}_{kind}")
        values[:, i] = _series(kind, n_points, rng)
    ts = pd.DatetimeIndex(START + STEP * np.arange(n_points), tz="UTC")
    # time-major order: row k is point k // n_series of series k % n_series
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n_series * n_points, dtype=np.int64),
            "ts": ts.repeat(n_series),
            "user_id": np.tile(np.arange(n_series, dtype=np.int64), n_points),
            "event_type": np.tile(np.array(names, dtype=object), n_points),
            "value": values.reshape(-1),
            "props": "{}",
        }
    )
    return pdf


def write_events(pdf: pd.DataFrame, sf_dir: str) -> str:
    """Write ``pdf`` as ``<sf_dir>/events.parquet`` (the layout the
    registry's loaders read)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pdf.to_parquet(path, index=False, coerce_timestamps="us")
    return path


STREAM_SCHEMA = "series_id string, timestamp timestamp, value double, event_id long"


def write_stream(pdf: pd.DataFrame, src_dir: str, n_files: int) -> list[str]:
    """Replay ``pdf`` (time-ordered) as ``n_files`` parquet files of
    equal row count, named so the file source lists them in time
    order."""
    os.makedirs(src_dir, exist_ok=True)
    # the streaming detectors' input schema (STREAM_SCHEMA)
    frame = pd.DataFrame(
        {
            "series_id": pdf["event_type"].astype(str),
            "timestamp": pdf["ts"],
            "value": pdf["value"],
            "event_id": pdf["event_id"],
        }
    )
    paths = []
    for i, idx in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        path = os.path.join(src_dir, f"part{i:04d}.parquet")
        frame.iloc[idx].to_parquet(path, index=False, coerce_timestamps="us")
        paths.append(path)
    return paths
