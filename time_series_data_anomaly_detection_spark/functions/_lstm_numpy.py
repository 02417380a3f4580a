"""From-scratch numpy LSTM used as the M5 backend when torch is absent.

Mirrors the reference's architecture (``src/lstm_model.py:32-48``):
single-layer LSTM(input=1, hidden=H) with PyTorch gate ordering
(i, f, g, o) + Linear(H, 1) head reading the LAST timestep, trained
with MSE + Adam on sliding windows (``:50-72``), seeded shuffled
mini-batches.  Forward + full BPTT + Adam in ~150 lines of numpy —
matmuls are batched (B×H GEMMs), so the Python loop runs once per
timestep, not per sample.

Parity is at metric level (SURVEY §5): training is stochastic in the
reference (torch init + DataLoader shuffle) and seeded-deterministic
here, so row equality is not defined.
"""

from __future__ import annotations

import numpy as np


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # clip instead of the two-branch stable form: |x| <= 60 keeps exp
    # finite, and one vectorized exp is ~3x cheaper than masked halves
    # (the sigmoid is the prediction pass's hot spot)
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60.0, 60.0)))


class NumpyLSTM:
    """LSTM(1 -> hidden) + Linear(hidden -> 1) with Adam."""

    def __init__(self, hidden: int, seed: int = 0):
        self.H = H = hidden
        rng = np.random.default_rng(seed)
        k = 1.0 / np.sqrt(H)
        # torch layout: one input-weight and one recurrent-weight matrix
        # per gate block, uniform(-k, k) init; two bias vectors folded
        # into one (they are summed in the cell update anyway)
        self.params = {
            "Wx": rng.uniform(-k, k, (1, 4 * H)),
            "Wh": rng.uniform(-k, k, (H, 4 * H)),
            "b": rng.uniform(-k, k, 4 * H),
            "Wy": rng.uniform(-k, k, (H, 1)),
            "by": np.zeros(1),
        }
        self._adam = {
            n: (np.zeros_like(p), np.zeros_like(p))
            for n, p in self.params.items()
        }
        self._t = 0

    def _forward(self, X: np.ndarray, want_cache: bool):
        """X: (B, T, 1) -> pred (B,), optional per-step cache.

        Two dispatch cuts vs the r13 loop, both bit-identical: the
        input projection ``X[:,t,:] @ Wx`` has inner dim 1, so a
        broadcast multiply produces the same single-rounded products
        without the BLAS call (hoisting the whole (B,T,4H) projection
        out of the loop was ALSO tried and measured SLOWER — the 75 MB
        materialization per predict chunk evicts cache; r14 A/B), and
        the i/f gates are adjacent columns of z, so one sigmoid call
        covers both (ufunc on a strided view, per-element values
        unchanged)."""
        p, H = self.params, self.H
        B, T, _ = X.shape
        dt = p["Wx"].dtype  # fp64 in training, fp32 in predict
        h = np.zeros((B, H), dtype=dt)
        c = np.zeros((B, H), dtype=dt)
        wx0 = p["Wx"][0]
        cache = []
        for t in range(T):
            z = X[:, t, :] * wx0 + h @ p["Wh"] + p["b"]
            sif = _sigmoid(z[:, : 2 * H])
            i = sif[:, :H]
            f = sif[:, H:]
            g = np.tanh(z[:, 2 * H : 3 * H])
            o = _sigmoid(z[:, 3 * H :])
            c_new = f * c + i * g
            tc = np.tanh(c_new)
            if want_cache:
                cache.append((X[:, t, :], h, c, i, f, g, o, c_new, tc))
            h = o * tc
            c = c_new
        pred = (h @ p["Wy"] + p["by"]).ravel()
        return pred, h, cache

    def _backward(self, dpred: np.ndarray, h_last: np.ndarray, cache):
        """dpred: (B,) dLoss/dpred -> parameter grads via BPTT."""
        p, H = self.params, self.H
        g_ = {n: np.zeros_like(v) for n, v in p.items()}
        dp = dpred[:, None]
        g_["Wy"] = h_last.T @ dp
        g_["by"] = dp.sum(axis=0)
        dh = dp @ p["Wy"].T
        dc = np.zeros_like(dh)
        # reused (B, 4H) gate-gradient buffer: the r13 loop built it
        # with a 4-way concatenate per step; writing the four blocks in
        # place is the same values without the per-step allocations
        dz = np.empty((dh.shape[0], 4 * H), dtype=dh.dtype)
        for x_t, h_prev, c_prev, i, f, g, o, c_new, tc in reversed(cache):
            do = dh * tc
            dc = dc + dh * o * (1.0 - tc * tc)
            # groupings kept left-associative exactly as r13 spelled
            # them (FP multiply is not associative)
            np.multiply(dc * g * i, 1.0 - i, out=dz[:, :H])
            np.multiply(dc * c_prev * f, 1.0 - f, out=dz[:, H : 2 * H])
            np.multiply(dc * i, 1.0 - g * g, out=dz[:, 2 * H : 3 * H])
            np.multiply(do * o, 1.0 - o, out=dz[:, 3 * H :])
            g_["Wx"] += x_t.T @ dz
            g_["Wh"] += h_prev.T @ dz
            g_["b"] += dz.sum(axis=0)
            dh = dz @ p["Wh"].T
            dc = dc * f
        return g_

    def _adam_step(self, grads, lr=1e-3, b1=0.9, b2=0.999, eps=1e-8):
        self._t += 1
        t = self._t
        for n, p in self.params.items():
            m, v = self._adam[n]
            gr = grads[n]
            m *= b1
            m += (1 - b1) * gr
            v *= b2
            v += (1 - b2) * gr * gr
            mh = m / (1 - b1**t)
            vh = v / (1 - b2**t)
            p -= lr * mh / (np.sqrt(vh) + eps)

    def fit(
        self,
        X: np.ndarray,
        y: np.ndarray,
        epochs: int = 10,
        batch: int = 64,
        lr: float = 1e-3,
        seed: int = 0,
    ) -> None:
        rng = np.random.default_rng(seed + 1)
        n = len(X)
        for _ in range(epochs):
            order = rng.permutation(n)
            for s in range(0, n, batch):
                idx = order[s : s + batch]
                pred, h_last, cache = self._forward(X[idx], want_cache=True)
                dpred = 2.0 * (pred - y[idx]) / len(idx)  # MSE grad
                self._adam_step(
                    self._backward(dpred, h_last, cache), lr=lr
                )

    def predict(self, X: np.ndarray, chunk: int = 4096) -> np.ndarray:
        """Inference pass in float32: training stays float64 (the
        gradcheck contract), but prediction is bandwidth-bound in the
        gate activations and fp32 halves it; the reference's torch
        path is fp32 throughout anyway."""
        saved = self.params
        self.params = {n: p.astype(np.float32) for n, p in saved.items()}
        try:
            out = np.empty(len(X))
            X32 = X.astype(np.float32)
            for s in range(0, len(X), chunk):
                out[s : s + chunk] = self._forward(X32[s : s + chunk], False)[0]
        finally:
            self.params = saved
        return out
