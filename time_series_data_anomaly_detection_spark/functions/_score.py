"""In-UDF residual scoring shared by the model kernels.

Two scores, each computed on the series the model kernel already holds
and each bit-identical to its Spark operator form:

- :func:`mad_z` — ``operators.scaling.mad_scores`` (exact medians,
  ``1.4826`` consistency constant, ``1e-9`` epsilon — ``src/utils.py:
  31-38``, ``src/run_hybrid.py:41-42``);
- :func:`rolling_sigma_z` — ``|resid| / (rs_std + 1e-6)`` over
  ``operators.rolling.rolling_stats(resid, 48, 5)``
  (``src/run_bsts.py:105-106``).

Fusing the score into the fit pass removes the stages the operator
form costs per call (4 aggregate/join waves for the MAD score; an
exchange, two sorts and four windows over decimal sums for the rolling
σ) — at bench scale those fixed stage latencies dominate the math.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal
from itertools import accumulate

import numpy as np

MAD_K = 1.4826
EPS = 1e-9

# operators.rolling.rolling_stats defaults and EPS_SIGMA
ROLL_WINDOW = 48
ROLL_MIN_PERIODS = 5
SIGMA_EPS = 1e-6

_CTX = Context(prec=60)
_Q12 = Decimal("1e-12")


def mad_z(resid: np.ndarray) -> np.ndarray:
    """|x − median| / (1.4826·MAD + 1e-9) over non-NaN values; NaN in →
    NaN out (Arrow maps them to SQL nulls at the UDF boundary)."""
    r = resid[~np.isnan(resid)]
    if len(r) == 0:
        return np.full_like(resid, np.nan)
    med = np.median(r)
    mad = np.median(np.abs(r - med))
    return np.abs(resid - med) / (MAD_K * mad + EPS)


def dec12(x: float) -> int:
    """``CAST(x AS DECIMAL(38,12))`` as an integer count of 1e-12.

    Spark converts a double to decimal through its ``Double.toString``
    digits, not its binary value, then rounds HALF_UP (away from zero
    on a tie): 5e-13 becomes 1e-12 although the double 5e-13 is a hair
    below the tie.  Python's ``repr`` gives the same shortest digits."""
    return int(Decimal(repr(x)).quantize(_Q12, ROUND_HALF_UP, _CTX).scaleb(12, _CTX))


# below this |x|, trunc(x)·1e12 plus a fraction's count stays in int64
_FAST_ABS = 9e6


def dec12_array(x: np.ndarray) -> np.ndarray:
    """:func:`dec12` of every element of ``x``: int64, or Python ints
    in an object array when one does not fit in int64.

    ``x = trunc(x) + f`` exactly, so the count is ``trunc(x)·1e12``
    plus ``f·1e12`` rounded HALF_UP.  That product is rounded once in
    float.  It can differ from the digits :func:`dec12` rounds by at
    most half an ulp of the product plus half an ulp of ``x`` times
    1e12: ``repr``'s digits lie within half an ulp of ``x``.  Where
    the product's fraction is within twice that margin of .5, or where
    ``|x| >= 9e6``, the element takes the exact :func:`dec12`."""
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(invalid="ignore", over="ignore"):
        t = np.trunc(x)
        p = (x - t) * 1e12
        a = np.abs(p)
        whole = np.floor(a)
        half = (a - whole) - 0.5  # exact: a - whole is a's fraction
        margin = np.spacing(a) + np.spacing(np.abs(x)) * 1e12
        fast = (np.abs(x) < _FAST_ABS) & (np.abs(half) > margin)
        r = whole + (half > 0)
        t_int = np.where(fast, t, 0.0).astype(np.int64)
        r_int = np.where(fast, np.copysign(r, p), 0.0).astype(np.int64)
    out = t_int * 10**12 + r_int
    slow = np.flatnonzero(~fast)
    if len(slow) == 0:
        return out
    exact = [dec12(float(v)) for v in x[slow]]
    if max(map(abs, exact)) >= 2**63:
        out = out.astype(object)
    out[slow] = exact
    return out


def _dec11_double(d: int) -> float:
    """A difference of two ``decimal(38,12)`` sums, given in 1e-12
    units, as Spark computes it: the result type is ``decimal(38,11)``
    (rounded HALF_UP), then cast to double (correctly rounded, as
    Python's int true division is)."""
    q = (abs(d) + 5) // 10
    return (q if d >= 0 else -q) / 10**11


def _dec11_doubles(d: np.ndarray) -> np.ndarray:
    """:func:`_dec11_double` of every element of ``d``; vectorized
    where ``|q| < 2**53``, so ``q`` converts to float exactly and one
    IEEE division rounds as Python's int division does."""
    if d.dtype == object:
        return np.array([_dec11_double(v) for v in d.tolist()], dtype=np.float64)
    q = (np.abs(d) + 5) // 10
    out = np.where(d >= 0, q, -q).astype(np.float64) / 1e11
    big = np.flatnonzero(q >= 2**53)
    out[big] = [_dec11_double(int(v)) for v in d[big]]
    return out


def _prefix_sums(d: np.ndarray) -> np.ndarray:
    """``[0, d0, d0+d1, ...]`` exactly: int64 when no partial sum can
    overflow it, Python ints otherwise."""
    if d.dtype != object and float(np.abs(d).astype(np.float64).sum()) < 2.0**62:
        return np.concatenate([np.zeros(1, np.int64), np.cumsum(d)])
    return np.array([0, *accumulate(d.tolist())], dtype=object)


def rolling_sigma_z(resid: np.ndarray) -> np.ndarray:
    """``|resid| / (σ + 1e-6)``, σ the trailing 48-row sample std of
    ``resid`` (rows in series order) over at least 5 non-null rows,
    the warm-up head backfilled — exactly the doubles
    ``rolling_stats(value_col="resid", out_prefix="rs")`` computes.

    That operator sums ``CAST(x AS DECIMAL(38,12))`` and
    ``CAST(x*x AS DECIMAL(38,12))`` exactly, differences the running
    sums at lag 48, casts each frame sum back to double and
    takes ``sqrt(max((s2 - s1*s1/n)/(n-1), 0))``; NULL residuals
    (NaN here) count in neither the sums nor ``n``.  NaN in → NaN out.
    """
    r = np.asarray(resid, dtype=np.float64)
    ok = ~np.isnan(r)
    xs = r[ok]
    # prefix sums over the non-null rows; hi[i] = non-null rows up to
    # row i, so the frame ending at row i holds hi[i] - hi[i - 48] of them
    c1 = _prefix_sums(dec12_array(xs))
    c2 = _prefix_sums(dec12_array(xs * xs))
    hi = np.cumsum(ok)
    w = ROLL_WINDOW
    lo = np.concatenate([np.zeros(min(w, len(r)), np.int64), hi[:-w]])
    cnt = hi - lo
    s1 = _dec11_doubles(c1[hi] - c1[lo])
    s2 = _dec11_doubles(c2[hi] - c2[lo])
    n = cnt.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        var = (s2 - s1 * s1 / n) / (n - 1)
    std = np.where((cnt >= ROLL_MIN_PERIODS) & (cnt >= 2),
                   np.sqrt(np.maximum(var, 0.0)), np.nan)
    # backfill: each row takes the nearest non-null σ at or after it
    idx = np.where(~np.isnan(std), np.arange(len(std)), len(std))
    nxt = np.minimum.accumulate(idx[::-1])[::-1]
    std = np.append(std, np.nan)[nxt]
    return np.abs(r) / (std + SIGMA_EPS)
