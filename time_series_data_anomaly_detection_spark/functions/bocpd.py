"""Bayesian Online Changepoint Detection (SURVEY §2.3 W7 / §2.9 M6).

Reference: ``src/bocpd_model.py:50-115`` / ``src/changepoint.py:36-107``
— Student-t predictive under a Normal-Inverse-Gamma prior, constant
hazard ``1/lam``, run-length posterior recursion; output
``cp_prob[t] = R[t+1, 0]`` on the z-normalized series.

scipy is unavailable; the Student-t pdf is computed from
``math.lgamma``.  The run-length distribution is TRUNCATED: run lengths
with posterior mass < eps are dropped and the tail capped at
``max_run`` — this bounds state to O(max_run) per point (the
reference's full T×T matrix is O(T²) memory; SURVEY §7 flags
truncation as the scale fix, and it is also what the streaming mode
needs).

Spark shape: sequential in time, independent across series.  The batch
operator hands every series of an Arrow batch to ONE ``bocpd_run``
call (``bocpd_changepoints_batch`` under ``_partition.per_series``),
which steps their run-length sets together: each elementwise operation
of a time step is one numpy call for all of them.  The outputs are
bit-identical to stepping each series alone.  The streaming variant
(streaming.detectors.streaming_bocpd) calls the same function with one
series per key and micro-batch; between micro-batches it keeps the
state as one ``binary`` group-state field, the ``(4 × m)`` float64
block of ``STATE_KEYS`` (``np.stack(...).tobytes()``, read back with
``np.frombuffer``), so the state crosses the Arrow boundary as one
value.
"""

from __future__ import annotations

from functools import partial
from math import lgamma, pi

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._partition import per_series

BOCPD_SCHEMA = (
    "series_id string, timestamp timestamp, value double, rn long, "
    "cp_prob double, cp_score double"
)


def initial_state(mu0: float = 0.0, beta0: float = 1.0) -> dict:
    """Fresh BOCPD state (one run-length hypothesis: 'just started').
    κ and α are not carried: they are ``kappa0 + run_len`` and
    ``alpha0 + run_len/2`` for every hypothesis."""
    return {
        "r": np.array([1.0]),
        "mu": np.array([mu0]),
        "beta": np.array([beta0]),
        "run_len": np.array([0]),
    }


# the arrays of a BOCPD state, one entry per run-length hypothesis
STATE_KEYS = ("r", "mu", "beta", "run_len")


def _seg_sums(v: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``np.sum(v[a:a + n])`` for each ``(a, n)`` of ``zip(starts, lens)``:
    numpy's own pairwise sum over each run, so every series gets the
    sum it gets alone.  A vectorized replica of numpy's pairwise order
    (8 accumulators per leaf of at most 128, halving above) takes ~30
    numpy calls per call; on the 64 × 512 fleet at 16 series per call
    the whole run took 20.9 ms/series with it and 10.9–13.1 with this
    loop."""
    add = np.add.reduce
    ends = (starts + lens).tolist()
    return np.array([add(v[a:b]) for a, b in zip(starts.tolist(), ends)])


def bocpd_run(
    y: np.ndarray,
    state: dict | list[dict],
    hazard_lam: float = 100.0,
    mu0: float = 0.0,
    kappa0: float = 1.0,
    alpha0: float = 1.0,
    beta0: float = 1.0,
    max_run: int = 500,
    eps: float = 1e-9,
    short_run: int = 5,
    offsets: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, dict | list[dict]]:
    """Advance BOCPD over ``y`` from ``state``; returns per-point
    ``(cp_prob, cp_score)`` plus the updated state.  The resumable
    core shared by the batch operator and the Structured Streaming
    stateful detector (streaming.detectors.streaming_bocpd) —
    identical math, so
    stream output == batch output on the same prefix.

    With CSR ``offsets`` (``S + 1`` group starts), ``y`` holds S series
    back to back, ``state`` is a list of their S states, and the
    returned outputs and states follow the same layout.  The S series
    step together: their run-length sets sit back to back in one array
    per quantity, so each elementwise operation of a step is one numpy
    call for all of them; only the per-series sums loop over series.
    Series are stepped longest first, so the series still running at
    step ``t`` are always a prefix.  Every output is bit-identical
    to stepping each series alone: elementwise operations do not depend
    on their neighbours, each per-series sum reproduces ``np.sum``
    (:func:`_seg_sums`), and the ``max_run`` cap is applied per series.

    The state carries no κ or α: they are rebuilt from ``run_len`` as
    ``kappa0 + run_len`` and ``alpha0 + run_len/2``, so a state must come
    from ``initial_state`` or an earlier call with the same
    ``(mu0, kappa0, alpha0, beta0)``.  A state whose run-length-0
    hypothesis (always index 0) does not hold ``(mu0, beta0)`` raises
    ``ValueError``.
    """
    one = offsets is None
    states = [state] if one else list(state)
    for st in states:
        if st["mu"][0] != mu0 or st["beta"][0] != beta0:
            raise ValueError(
                f"BOCPD state prior (mu0={st['mu'][0]}, "
                f"beta0={st['beta'][0]}) does not match the call's "
                f"(mu0={mu0}, beta0={beta0})"
            )
    y = np.asarray(y)
    offsets = [0, len(y)] if one else np.asarray(offsets).tolist()
    lens = [b - a for a, b in zip(offsets[:-1], offsets[1:])]
    order = sorted(range(len(lens)), key=lambda i: -lens[i])
    n_of = [lens[i] for i in order]
    y_at = np.array([offsets[i] for i in order], np.intp)
    states = [states[i] for i in order]
    if one:
        (r, mu, beta, run_len), m = (states[0][k] for k in STATE_KEYS), None
    else:
        r, mu, beta, run_len = (np.concatenate([st[k] for st in states])
                                for k in STATE_KEYS)
        m = np.array([len(st["r"]) for st in states])
    h = 1.0 / hazard_lam
    cp = np.empty(len(y))
    short = np.empty(len(y))
    out: list[dict | None] = [None] * len(states)
    # kappa/alpha ride the grids kappa0 + run_len and alpha0 + run_len/2
    # by construction (every hypothesis starts at the prior and gains
    # +1 / +0.5 per survived step), so EVERY run-length-determined
    # quantity in the predictive is a table gather: the two lgamma
    # terms (r09; np.vectorize(lgamma) was the original hot spot), and
    # — new in r14 — df, (df+1)/2, α·κ, κ+1 and the whole
    # y-independent part of the Student-t log-pdf.  That removes one
    # vector log, one lgamma-difference and four vector mult/adds per
    # step; with the concatenate→preallocated-buffer rewrite below it
    # cut bocpd_series from ~1.7 s to ~0.8 s per 20k-row series (r14
    # A/B).  The gathered values equal the r13 per-step recomputation
    # (same operands, same op order) only for priors whose +1 / +0.5
    # steps accumulate exactly, such as the defaults; for others
    # (kappa0=0.7) the table's kappa0 + k may differ from k repeated
    # additions in the last ulp.  Either way a call is bit-identical to
    # the same call split in two, or over any other set of series.
    rl_cap = max(
        (int(st["run_len"].max()) + n for st, n in zip(states, n_of)), default=0
    ) + 2
    ar = np.arange(rl_cap)
    grid = alpha0 + ar / 2.0
    kap_tab = kappa0 + ar.astype(float)
    lg_den_tab = np.array([lgamma(a) for a in grid])
    lg_num_tab = np.array([lgamma(a + 0.5) for a in grid])
    df_tab = 2 * grid
    # y-independent Student-t log-pdf part, grouped left-associatively
    # exactly as the r13 per-step expression evaluated it
    const_tab = lg_num_tab - lg_den_tab - 0.5 * np.log(df_tab * pi)
    dfp_tab = (df_tab + 1) / 2
    kap1_tab = kap_tab + 1
    ak_tab = grid * kap_tab
    one_mh = 1 - h

    def set_aside(s: int) -> None:
        """Move the last active series ``s``'s state out of the arrays."""
        nonlocal r, mu, beta, run_len
        a = len(r) - int(m[s]) if s else 0
        out[order[s]] = {"r": r[a:], "mu": mu[a:], "beta": beta[a:],
                         "run_len": run_len[a:]}
        r, mu, beta, run_len = r[:a], mu[:a], beta[:a], run_len[:a]

    active = len(states)
    for t in range(n_of[0] if active else 0):
        while n_of[active - 1] <= t:  # the shortest active series ended
            active -= 1
            set_aside(active)
        # each series' run-length set grows by one hypothesis in front
        # (run length 0): the grown sets start at `heads`, the surviving
        # hypotheses fill `body`.  A series stepped alone uses a scalar,
        # slices and plain sums, so it costs what it did before series
        # were batched.
        one_left = active == 1
        if one_left:
            at = int(y_at[0]) + t
            yt = y[at]
            heads, body = 0, slice(1, None)
        else:
            m = m[:active]
            m1 = m + 1
            at = y_at[:active] + t
            starts = _starts(m)
            heads = starts + np.arange(active)
            body = np.ones(len(r) + active, bool)
            body[heads] = False
            yt = np.repeat(y[at], m)
        kap1 = kap1_tab[run_len]
        scale = np.sqrt(beta * kap1 / ak_tab[run_len])
        d = yt - mu
        z = d / scale
        pred = np.exp(
            const_tab[run_len]
            - np.log(scale)
            - dfp_tab[run_len] * np.log1p(z * z / df_tab[run_len])
        )
        rp = r * pred
        growth = rp * one_mh
        r_new = np.empty(len(r) + active)
        r_new[heads] = (rp * h).sum() if one_left else _seg_sums(rp * h, starts, m)
        r_new[body] = growth
        if one_left:
            total = r_new.sum()
            r_new = r_new / total if total > 0 else np.r_[1.0, np.zeros(len(r))]
        else:
            total = _seg_sums(r_new, heads, m1)
            ok = total > 0
            r_new /= np.repeat(np.where(ok, total, 1.0), m1)
            if not ok.all():  # no mass (or NaN) left: restart at run length 0
                r_new[np.repeat(~ok, m1)] = 0.0
                r_new[heads[~ok]] = 1.0
        cp[at] = r_new[heads]
        rl_new = np.empty(len(r_new), dtype=run_len.dtype)
        rl_new[heads] = 0
        rl_new[body] = run_len + 1
        # rl_new is ascending per series, so the short-run mass is a
        # prefix sum (same elements, same order as the old boolean-mask
        # sum)
        if one_left:
            short[at] = r_new[: np.searchsorted(rl_new, short_run, side="right")].sum()
        else:
            n_short = np.add.reduceat(rl_new <= short_run, heads, dtype=np.intp)
            short[at] = _seg_sums(r_new, heads, n_short)
        # posterior updates for each surviving run length
        kap = kap_tab[run_len]
        mu_new = np.empty(len(r_new))
        mu_new[heads] = mu0
        mu_new[body] = (kap * mu + yt) / kap1
        beta_new = np.empty(len(r_new))
        beta_new[heads] = beta0
        beta_new[body] = beta + kap * d**2 / (2 * kap1)
        # truncate: keep run lengths with mass, cap each series' tail
        keep = r_new > eps
        keep[heads] = True
        if one_left:
            if np.count_nonzero(keep) > max_run:
                keep = _top(r_new, max_run)
            r = r_new[keep]
            r = r / r.sum()
        else:
            m = np.add.reduceat(keep, heads, dtype=np.intp)
            for s in np.flatnonzero(m > max_run):
                seg = slice(heads[s], heads[s] + m1[s])
                keep[seg] = _top(r_new[seg], max_run)
                m[s] = np.count_nonzero(keep[seg])
            r = r_new[keep]
            r = r / np.repeat(_seg_sums(r, _starts(m), m), m)
        mu, beta = mu_new[keep], beta_new[keep]
        run_len = rl_new[keep]
    while active:
        active -= 1
        set_aside(active)
    return cp, short, out[0] if one else out


def _top(r: np.ndarray, max_run: int) -> np.ndarray:
    """Keep-mask of one series' ``max_run`` most probable run lengths,
    plus run length 0."""
    idx = np.argsort(r)[::-1][:max_run]
    keep = np.zeros(len(r), bool)
    keep[idx] = True
    keep[0] = True
    return keep


def _starts(lens: np.ndarray) -> np.ndarray:
    """CSR starts of back-to-back segments of lengths ``lens``."""
    starts = np.zeros(len(lens), np.intp)
    np.cumsum(lens[:-1], out=starts[1:])
    return starts


def bocpd_series(
    y: np.ndarray,
    hazard_lam: float = 100.0,
    mu0: float = 0.0,
    kappa0: float = 1.0,
    alpha0: float = 1.0,
    beta0: float = 1.0,
    max_run: int = 500,
    eps: float = 1e-9,
    short_run: int = 5,
) -> tuple[np.ndarray, np.ndarray]:
    """Run-length-truncated BOCPD over a whole series.

    Returns ``(cp_prob, cp_score)`` per point:

    - ``cp_prob`` = normalized R[t+1, 0] — the reference's output
      (``src/changepoint.py:99-106``).  NOTE: with a CONSTANT hazard
      this is identically h by algebra (cp0/total = h·Σrπ/Σrπ), and the
      reference's own golden artifact confirms it (cp_probs.csv is
      0.01 everywhere).  Kept for exact parity.
    - ``cp_score`` = P(run_length <= short_run | x_1:t) — the
      run-length-posterior collapse, which is the actually informative
      changepoint signal.
    """
    cp, short, _ = bocpd_run(
        y,
        initial_state(mu0, beta0),
        hazard_lam=hazard_lam,
        mu0=mu0,
        kappa0=kappa0,
        alpha0=alpha0,
        beta0=beta0,
        max_run=max_run,
        eps=eps,
        short_run=short_run,
    )
    return cp, short


def bocpd_changepoints_batch(cols: dict, offsets: np.ndarray,
                             hazard_lam: float = 100.0,
                             max_run: int = 500) -> dict:
    """:func:`bocpd_changepoints` on the series of ``cols``, back to
    back in ``rn`` order at CSR ``offsets``: each is z-normalized by its
    own moments, then one :func:`bocpd_run` steps them all."""
    y = np.asarray(cols["value"], dtype=float)
    z = np.empty(len(y))
    for a, b in zip(offsets[:-1], offsets[1:]):
        ys = y[a:b]
        sd = ys.std() or 1.0
        z[a:b] = (ys - ys.mean()) / sd
    cp, short, _ = bocpd_run(
        z, [initial_state()] * (len(offsets) - 1), hazard_lam=hazard_lam,
        max_run=max_run, offsets=offsets,
    )
    return {"cp_prob": cp, "cp_score": short}


def bocpd_changepoints_kernel(g: pd.DataFrame, hazard_lam: float = 100.0,
                              max_run: int = 500) -> dict:
    """:func:`bocpd_changepoints` on one series ``g`` in ``rn`` order."""
    return bocpd_changepoints_batch(
        {"value": g["value"].to_numpy(float)}, np.array([0, len(g)]),
        hazard_lam=hazard_lam, max_run=max_run,
    )


def bocpd_changepoints(
    df: DataFrame,
    hazard_lam: float = 100.0,
    max_run: int = 500,
) -> DataFrame:
    """M6: per-series changepoint probability column ``cp_prob``.

    The input series is z-normalized first (reference
    ``src/changepoint.py:89-92``).
    """
    return per_series(
        df.select("series_id", "timestamp", "value", "rn"),
        BOCPD_SCHEMA,
        partial(bocpd_changepoints_batch, hazard_lam=hazard_lam,
                max_run=max_run),
    )
