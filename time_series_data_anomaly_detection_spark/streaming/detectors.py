"""Structured Streaming anomaly detectors (SURVEY §2.10 / §7 step 8).

The reference is pure batch; this is the engine's streaming
EXTENSION, cleanly separated from reference parity.

``streaming_window_stats`` and ``streaming_user_sessions`` are native
event-time aggregations (tumbling and session windows) with a
watermark — stateless per window, fully built-in, the late-data story
is Spark's own.

Every other detector is one ``init`` and one ``step``, run by
``_per_series_state`` (the module's only ``applyInPandasWithState``
call).  State is keyed by ``series_id`` — the same partition axis as
batch, so a 1M-series stream spreads across executors with no
hand-scheduling — and is a tuple in the field order of the detector's
state DDL:

- ``init() -> state``: the state of a series not seen before;
- ``step(y, state) -> (columns, state)``: advance over one micro-batch
  slice of a series (``y`` = its values in timestamp order) and return
  the output columns that follow ``series_id, timestamp, value``.

Only plain numbers cross the Arrow boundary into Python: ``series_id``,
``ts_us = unix_micros(timestamp)`` and ``value`` (any other input
column, an ``event_id`` say, is projected away before the shuffle),
and the state tuple.  ``update`` takes ``ts_us`` and ``value`` as numpy
arrays and reorders them by a stable ``np.argsort`` only when ``ts_us``
is not already non-decreasing; the output frame is built from those
arrays, and ``timestamp_micros(ts_us)`` restores ``timestamp`` in the
same column position after ``applyInPandasWithState``.  So:

- a row with a NULL timestamp sorts after every other row of its
  micro-batch and comes out with a NULL timestamp;
- rows with equal timestamps in one micro-batch keep the order they
  were delivered in, because the sort is stable;
- a group holding a NULL timestamp reaches pandas as float64, which
  carries every timestamp exactly while ``|ts_us| < 2**53``
  (1684-07-28 to 2255-06-05).

``streaming_bocpd`` keeps its run-length posterior as one ``binary``
field: the ``(4 × m)`` float64 block of ``bocpd.STATE_KEYS`` (``r``,
``mu``, ``beta``, ``run_len``, one row each, ``m`` hypotheses), written
by ``tobytes()`` and read back by ``np.frombuffer``, ``run_len`` cast
back to int.  A checkpoint written with the former four
``array<double>`` fields is refused on resume
(``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``) and must be restarted.

Where a batch operator has the same recursion, ``step`` calls that
operator's resumable kernel, so the stream equals the batch output
row-for-row on any prefix by construction:

- ``streaming_bocpd`` → ``functions.bocpd.bocpd_run``;
- ``streaming_control_flags`` → ``functions.control.ewma_run`` and
  ``cusum_run``;
- ``streaming_holt_winters`` → ``functions.holt_winters.holt_winters_run``
  after its own warm-up.

A stream has no global series moments, so these take train-time
``(norm_mu, norm_sd)`` from the caller where the batch operator uses
the series' own.  The rolling, Page-Hinkley, Spectral Residual, SPOT
and conformal detectors keep their recursion in ``step``; rows a
stream cannot score yet (before ``min_periods``, a warm-up or a
calibration) emit nulls.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.bocpd import STATE_KEYS, bocpd_run, initial_state
from ..functions.control import cusum_run, ewma_run
from ..functions.holt_winters import holt_winters_run


def streaming_window_stats(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Tumbling event-time window mean/std/count per series with a
    watermark for late data — the streaming analogue of W1's windowed
    moments, expressed entirely with built-ins (map-side partial
    aggregation, watermark-bounded state eviction for free)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("series_id"))
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.stddev_samp("value").alias("std"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .select(
            "series_id",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n", "mean", "std", "vmin", "vmax",
        )
    )


def _per_series_state(
    stream: DataFrame,
    out_ddl: str,
    state_ddl: str,
    init: Callable[[], tuple],
    step: Callable[[np.ndarray, tuple], tuple[dict, tuple]],
) -> DataFrame:
    """The stateful shell of every per-series detector (see the module
    docstring): ``out_ddl`` names the columns ``step`` returns."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (series_id,) = key
        st = state.get if state.exists else init()
        for pdf in pdfs:
            ts = pdf["ts_us"].to_numpy()
            y = pdf["value"].to_numpy(float)
            # NaN (a NULL timestamp) fails the test and sorts last
            if not (ts[1:] >= ts[:-1]).all():
                order = np.argsort(ts, kind="stable")
                ts, y = ts[order], y[order]
            cols, st = step(y, st)
            yield pd.DataFrame(
                {"series_id": series_id, "ts_us": ts, "value": y, **cols}
            )
        state.update(st)

    rows = stream.select(
        "series_id", F.unix_micros("timestamp").alias("ts_us"), "value"
    )
    out = rows.groupBy("series_id").applyInPandasWithState(
        update,
        f"series_id string, ts_us bigint, value double, {out_ddl}",
        state_ddl,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return out.select(
        *(
            F.timestamp_micros(c).alias("timestamp") if c == "ts_us" else c
            for c in out.columns
        )
    )


def streaming_rolling_flags(
    stream: DataFrame,
    k: float = 3.0,
    window: int = 48,
    min_periods: int = 5,
) -> DataFrame:
    """W1 adaptive threshold as a stateful stream: trailing
    ``window``-row mean/std (ddof=1) + ``|x−mean| > k·(std+1e-6)``
    flag, state = last ``window−1`` values per series.  Matches the
    batch operator except the head rows that batch BACK-fills (the
    stream can't see the future): the stream emits null stats until
    ``min_periods`` rows have arrived."""

    def step(y, st):
        tail, seen = st
        full = np.concatenate([np.asarray(tail, float), y])
        off = len(tail)
        means = np.full(len(y), np.nan)
        stds = np.full(len(y), np.nan)
        for i in range(len(y)):
            lo = max(0, off + i - (window - 1))
            w = full[lo : off + i + 1]
            if seen + i + 1 >= min_periods and len(w) >= 2:
                means[i] = w.mean()
                stds[i] = w.std(ddof=1)
        flags = (np.abs(y - means) > k * (stds + 1e-6)).astype(float)
        flags[np.isnan(means)] = np.nan
        return {
            "roll_mean": means,
            "roll_std": stds,
            "flag": pd.array(flags, dtype="Int32"),
        }, (full[max(0, len(full) - (window - 1)):].tolist(), seen + len(y))

    return _per_series_state(
        stream,
        "roll_mean double, roll_std double, flag int",
        "tail array<double>, seen bigint",
        lambda: ([], 0),
        step,
    )


def streaming_bocpd(
    stream: DataFrame,
    hazard_lam: float = 100.0,
    max_run: int = 500,
    norm_mu: float = 0.0,
    norm_sd: float = 1.0,
) -> DataFrame:
    """M6 BOCPD as a stateful stream — the batch operator's resumable
    core with the run-length posterior carried in GroupState as one
    packed ``binary`` field per series (``4 × m`` float64, ``m <=
    max_run``; see the module docstring).

    ``(norm_mu, norm_sd)`` standardize incoming values (the batch op
    uses global series moments; supply train-time moments here)."""

    def encode(st):
        return (np.stack([np.asarray(st[k], float) for k in STATE_KEYS]).tobytes(),)

    def step(y, st):
        packed = np.frombuffer(st[0], float).reshape(len(STATE_KEYS), -1)
        st = dict(zip(STATE_KEYS, packed))
        st["run_len"] = st["run_len"].astype(int)
        cp, short, st = bocpd_run(
            (y - norm_mu) / (norm_sd or 1.0), st,
            hazard_lam=hazard_lam, max_run=max_run,
        )
        return {"cp_prob": cp, "cp_score": short}, encode(st)

    return _per_series_state(
        stream,
        "cp_prob double, cp_score double",
        "state binary",
        lambda: encode(initial_state()),
        step,
    )


def streaming_user_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Session-window aggregation of per-user event streams — the
    streaming twin of ``datapipe.events.user_sessions`` built on
    Spark's NATIVE ``session_window`` (dynamic gap-close windows with
    watermark-driven state eviction): a session closes once no event
    arrives within ``gap``.

    Exact-gap boundary: the batch operator breaks a session only when
    the gap is STRICTLY GREATER than ``gap_seconds`` — an event arriving
    exactly ``gap`` later stays in the session.  ``session_window``
    windows are nominally half-open ``[t, t+gap)``, but Spark MERGES
    candidate sessions that touch at the boundary (merge condition is
    ``start <= other.end``), so an exact-gap arrival also stays in the
    session here — both sides agree, pinned by
    ``test_streaming_session_exact_gap_boundary``.

    State is bounded by the watermark (sessions older than it are
    finalized and evicted), so an unbounded user population streams in
    O(open sessions) memory — the semantics the batch operator computes
    over a static table, with late-data handling for free.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(user_col),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col)).alias("total_value"),
        )
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_control_flags(
    stream: DataFrame,
    norm_mu: float = 0.0,
    norm_sd: float = 1.0,
    lam: float = 0.25,
    nsig: float = 3.0,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """EWMA + CUSUM control charts as ONE stateful stream — the
    streaming twin of ``functions.control.ewma_chart`` /
    ``cusum_chart`` with O(1) state per series (four doubles), sharing
    a single state store and shuffle.

    The batch charts derive (μ, σ) from the full series; a stream has
    no global moments, so the caller supplies train-time
    ``(norm_mu, norm_sd)`` — same convention as ``streaming_bocpd``.
    Given identical moments the recursions match the batch operators
    row-for-row on any prefix (asserted by the batch-parity test).
    """
    lam, nsig, k, h = float(lam), float(nsig), float(k), float(h)
    mu, sd = float(norm_mu), float(norm_sd)

    def step(y, st):
        (ew, hw), (z, w) = ewma_run(y, mu, sd, lam, nsig, st[:2])
        (cp, cn), (sp, sn) = cusum_run(y, mu, sd, k, st[2:])
        ucl = mu + hw
        lcl = mu - hw
        return {
            "ewma": ew,
            "ucl": ucl,
            "lcl": lcl,
            "ewma_flag": ((ew > ucl) | (ew < lcl)).astype("int32"),
            "cusum_pos": cp,
            "cusum_neg": cn,
            "cusum_flag": ((cp > h) | (cn > h)).astype("int32"),
        }, (z, w, sp, sn)

    return _per_series_state(
        stream,
        "ewma double, ucl double, lcl double, ewma_flag int, "
        "cusum_pos double, cusum_neg double, cusum_flag int",
        "z double, w double, sp double, sn double",
        lambda: (mu, 1.0, 0.0, 0.0),
        step,
    )


def streaming_page_hinkley(
    stream: DataFrame,
    norm_mu: float = 0.0,
    norm_sd: float = 1.0,
    delta_frac: float = 0.125,
    lam_frac: float = 20.0,
) -> DataFrame:
    """Page-Hinkley as a stateful stream — the streaming twin of
    ``operators.drift.page_hinkley`` with O(1) state per series (four
    doubles: the two cumulative deviations and their running
    extrema).  Like ``streaming_control_flags``, the stream has no
    global moments, so the caller supplies train-time
    ``(norm_mu, norm_sd)``; given identical moments the statistics
    match the batch operator row-for-row on any prefix (asserted by
    the batch-parity test).
    """
    mu, sd = float(norm_mu), float(norm_sd)
    delta = sd * float(delta_frac)
    lam = sd * float(lam_frac)

    def step(y, st):
        m_up, mn, m_dn, mx = st
        up = np.empty(len(y))
        dn = np.empty(len(y))
        for i, yt in enumerate(y.tolist()):
            m_up = m_up + (yt - mu - delta)
            mn = min(mn, m_up)
            m_dn = m_dn + (yt - mu + delta)
            mx = max(mx, m_dn)
            up[i] = m_up - mn
            dn[i] = mx - m_dn
        return {
            "ph_up": up,
            "ph_dn": dn,
            "flag_up": (up > lam).astype("int32"),
            "flag_dn": (dn > lam).astype("int32"),
        }, (m_up, mn, m_dn, mx)

    return _per_series_state(
        stream,
        "ph_up double, ph_dn double, flag_up int, flag_dn int",
        "m_up double, mn double, m_dn double, mx double",
        lambda: (0.0, np.inf, 0.0, -np.inf),
        step,
    )


def streaming_holt_winters(
    stream: DataFrame,
    period: int = 48,
    alpha: float = 0.25,
    beta: float = 0.0625,
    gamma: float = 0.25,
) -> DataFrame:
    """Fixed-parameter additive Holt-Winters as a stateful stream —
    the streaming twin of ``functions.holt_winters.holt_winters_fixed``.

    The first ``period`` rows per series are the warm-up (emitted with
    null ``pred``, matching the batch operator which emits nothing for
    them); the level seeds at their mean and the seasonal vector at
    their deviations, then the recursion matches batch row-for-row.
    State is O(period) doubles per series: the warm-up buffer until it
    fills, then the seasonal vector.
    """
    p = int(period)
    params = float(alpha), float(beta), float(gamma)

    def step(y, st):
        buf, sl, l, b, started = st
        buf = list(buf)
        i = 0
        if not started:
            i = min(p - len(buf), len(y))
            buf += y[:i].tolist()
            if len(buf) == p:
                l = float(np.mean(buf))
                sl, b, started = [v - l for v in buf], 0.0, 1
        preds = np.full(len(y), np.nan)
        if started:
            preds[i:], (l, b, sl) = holt_winters_run(y[i:], (l, b, sl), *params)
        # the warm-up buffer is dead once started: store it empty
        return {"pred": preds, "resid": y - preds}, (
            [] if started else buf, sl, l, b, started
        )

    return _per_series_state(
        stream,
        "pred double, resid double",
        "buf array<double>, sl array<double>, l double, b double, started int",
        lambda: ([], [], 0.0, 0.0, 0),
        step,
    )


def streaming_spectral_residual(
    stream: DataFrame,
    history: int = 128,
    min_history: int = 32,
    tau: float = 3.0,
) -> DataFrame:
    """Spectral Residual saliency as a stateful stream — the SR
    paper's own streaming mode (Ren et al. KDD'19 §3.1): keep the last
    ``history`` points per series, extend the window with the
    estimated-point tail so the newest real point is not at the FFT
    boundary, and score only that newest point.

    Semantics note: unlike the rolling/BOCPD streams (batch-parity by
    construction), SR-over-a-trailing-window is inherently different
    from SR-over-the-full-batch — that IS the published streaming
    algorithm, not an approximation of the batch one.  State is
    O(history) doubles per series; cost is one O(H log H) FFT per
    arriving point.
    """
    from ..functions.spectral import estimate_tail, spectral_residual_saliency

    def step(y, st):
        buf = list(st[0])
        scores = np.full(len(y), np.nan)
        for i, v in enumerate(y.tolist()):
            buf.append(v)
            if len(buf) > history:
                buf = buf[-history:]
            if len(buf) >= min_history:
                ext = estimate_tail(np.asarray(buf), m=5)
                _, s = spectral_residual_saliency(ext)
                scores[i] = s[len(buf) - 1]
        flags = np.where(np.isnan(scores), np.nan, scores > tau)
        return {"sr_score": scores, "flag": pd.array(flags, dtype="Int32")}, (buf,)

    return _per_series_state(
        stream,
        "sr_score double, flag int",
        "tail array<double>",
        lambda: ([],),
        step,
    )


def _gpd_mom_threshold(
    u: float, n: int, n_tail: int, s1: float, s2: float, target_p: float
) -> float:
    """Closed-form MoM GPD threshold — the EXACT batch formula of
    ``operators.evt.pot_threshold`` on scalar tail stats, so stream
    and batch agree given the same (u, tail)."""
    m = s1 / n_tail
    v = (s2 - s1 * s1 / n_tail) / n_tail
    ratio = target_p * n / n_tail
    if v > 0:
        r = m * m / v
        xi = (1.0 - r) / 2.0
        beta = m * (r + 1.0) / 2.0
        if abs(xi) > 1e-9:
            return u + beta / xi * (ratio ** -xi - 1.0)
    return u - m * np.log(ratio)


def streaming_pot(
    stream: DataFrame,
    n_init: int = 200,
    q_level: float = 0.98,
    target_p: float = 1e-3,
) -> DataFrame:
    """Streaming peaks-over-threshold — SPOT (Siffer et al., KDD 2017)
    as a per-series stateful operator, the streaming twin of
    ``operators.evt.pot_threshold``.

    Calibration: the first ``n_init`` points set the empirical
    quantile ``u`` and the initial GPD tail fit.  Scoring: each
    subsequent point is compared to the extrapolated threshold
    ``z_q``; points above it are anomalies (and do NOT update the
    model — the SPOT rule that keeps the threshold from chasing its
    own alarms); points in ``(u, z_q]`` enter the tail and the GPD
    refits in closed form (method of moments — O(1) per point, three
    scalars of tail state).  State is O(1) doubles per series after
    calibration; the O(n_init) buffer exists only before it.

    Calibration rows emit null ``u``/``z_q`` and flag 0 — a stream
    cannot score before it has a model (same head-row convention as
    ``streaming_rolling_flags``).
    """
    n_init = int(n_init)
    q_level = float(q_level)
    target_p = float(target_p)

    def step(y, st):
        buf, u, s1, s2, zq, n, n_tail, started = st
        buf = list(buf) if buf is not None else []
        m_ = len(y)
        out_u = np.full(m_, np.nan)
        out_z = np.full(m_, np.nan)
        out_tail = np.zeros(m_, dtype="int32")
        out_an = np.zeros(m_, dtype="int32")
        for i, x in enumerate(y.tolist()):
            if not started:
                buf.append(x)
                if len(buf) >= n_init:
                    arr = np.asarray(buf)
                    u = float(np.quantile(arr, q_level, method="linear"))
                    exc = arr[arr > u] - u
                    n = len(arr)
                    n_tail = len(exc)
                    s1 = float(exc.sum())
                    s2 = float((exc * exc).sum())
                    # Degenerate calibration (constant data, or the
                    # quantile ties with the max): no excesses to
                    # fit a GPD on.  Fall back to z_q = u; the
                    # first exceedance bootstraps the tail below.
                    zq = (
                        _gpd_mom_threshold(u, n, n_tail, s1, s2, target_p)
                        if n_tail > 0
                        else u
                    )
                    buf = []
                    started = 1
                continue
            out_u[i] = u
            out_z[i] = zq
            if x > zq and n_tail == 0:
                # Bootstrapping a degenerate calibration: with no
                # tail sample yet, z_q == u is not a fitted model —
                # admit the first exceedance as a tail observation
                # (refitting z_q) instead of alarming forever.
                out_tail[i] = 1
                n += 1
                n_tail += 1
                e = x - u
                s1 += e
                s2 += e * e
                zq = _gpd_mom_threshold(u, n, n_tail, s1, s2, target_p)
            elif x > zq:
                out_an[i] = 1
            elif x > u:
                out_tail[i] = 1
                n += 1
                n_tail += 1
                e = x - u
                s1 += e
                s2 += e * e
                zq = _gpd_mom_threshold(u, n, n_tail, s1, s2, target_p)
            else:
                n += 1
        return {
            "u": out_u,
            "z_q": out_z,
            "in_tail": out_tail,
            "is_anomaly": out_an,
        }, (buf, u, s1, s2, zq, n, n_tail, started)

    return _per_series_state(
        stream,
        "u double, z_q double, in_tail int, is_anomaly int",
        "buf array<double>, u double, s1 double, s2 double, zq double, "
        "n bigint, n_tail bigint, started int",
        lambda: ([], 0.0, 0.0, 0.0, 0.0, 0, 0, 0),
        step,
    )


def streaming_conformal(
    stream: DataFrame,
    icept: float,
    slope: float,
    n_cal: int = 200,
    alpha: float = 0.1,
) -> DataFrame:
    """Rolling-calibration split-conformal intervals as a stateful
    stream — the streaming twin of the batch ``conformal_intervals``
    query.  The caller supplies the train-time AR(1) point forecaster
    ``(icept, slope)`` (the streaming_bocpd convention: a stream has
    no train split of its own); per series the operator keeps the
    SLIDING last-``n_cal`` absolute one-step residuals and emits

        q̂  = the ⌈(n_cal+1)(1−α)⌉-th smallest buffered |residual|
        lo/hi = pred ± q̂,  covered = value ∈ [lo, hi]

    — the "adaptive conformal" recipe whose coverage tracks
    distribution drift because yesterday's residuals calibrate
    today's band.  Rows before the buffer fills emit null q̂/lo/hi
    (same head-row convention as the other detectors).  State is
    O(n_cal) doubles per series, strictly bounded.
    """
    n_cal = int(n_cal)
    alpha = float(alpha)
    a_, b_ = float(icept), float(slope)
    k_rank = min(int(np.ceil((n_cal + 1) * (1.0 - alpha))), n_cal)

    def step(y, st):
        buf, prev = list(st[0]), st[1]
        pred = np.full(len(y), np.nan)
        qh = np.full(len(y), np.nan)
        for i, yt in enumerate(y.tolist()):
            if prev is not None:
                pred[i] = fc = a_ + b_ * prev
                if len(buf) >= n_cal:
                    qh[i] = np.partition(
                        np.asarray(buf, float), k_rank - 1
                    )[k_rank - 1]
                buf.append(abs(yt - fc))
                if len(buf) > n_cal:
                    buf.pop(0)
            prev = yt
        lo = pred - qh
        hi = pred + qh
        cov = np.where(
            np.isnan(qh),
            np.nan,
            ((y >= lo) & (y <= hi)).astype(float),
        )
        return {
            "pred": pred,
            "q_hat": qh,
            "lo": lo,
            "hi": hi,
            "covered": pd.array(cov, dtype="Int32"),
        }, (buf, prev)

    return _per_series_state(
        stream,
        "pred double, q_hat double, lo double, hi double, covered int",
        "buf array<double>, prev double",
        lambda: ([], None),
        step,
    )
