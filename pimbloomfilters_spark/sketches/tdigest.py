"""t-digest quantile sketch (Dunning & Ertl, "Computing extremely accurate
quantiles using t-digests") — merging variant, deterministic.

North-rule extension: the rule names both KLL and t-digest; KLL gives
uniform rank error, t-digest trades that for much tighter tails (its k1
scale function bounds centroid width by q(1-q)). Like KLL it is
estimate-stable (not byte-stable) under merge reordering, so tests compare
quantile estimates within the error envelope, never payload bytes.

Determinism: values are buffered and compressed in sorted order with a fixed
left-to-right greedy pass — no RNG — so a given insertion order always yields
the same digest (required for resumable builds).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from .base import Sketch, register


@register(5)
class TDigest(Sketch):
    kind = "tdigest"

    def __init__(self, delta: int = 200, seed: int = 0):
        if delta < 10:
            raise ValueError("delta must be >= 10")
        self.delta = int(delta)
        self.seed = int(seed)  # interface symmetry; deterministic variant
        self._means = np.empty(0, dtype=np.float64)
        self._weights = np.empty(0, dtype=np.int64)
        self._buf: list[np.ndarray] = []
        self._buf_n = 0
        self.n = 0

    # -- scale function k1 ------------------------------------------------------
    def _k(self, q: np.ndarray) -> np.ndarray:
        return self.delta / (2 * math.pi) * np.arcsin(2 * np.clip(q, 0, 1) - 1)

    def _compress(self) -> None:
        if not self._buf and self._means.size <= self.delta:
            return
        parts = [m for m in (self._means,) if m.size] + self._buf
        wparts = ([self._weights] if self._means.size else []) + [
            np.ones(b.size, dtype=np.int64) for b in self._buf
        ]
        means = np.concatenate(parts) if parts else self._means
        weights = np.concatenate(wparts) if wparts else self._weights
        self._buf, self._buf_n = [], 0
        if means.size == 0:
            return
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]
        total = weights.sum()
        # greedy left-to-right merge under the k1 size bound
        out_m: list[float] = []
        out_w: list[int] = []
        cur_m, cur_w, w_before = float(means[0]), int(weights[0]), 0
        for i in range(1, means.size):
            q0 = w_before / total
            q2 = (w_before + cur_w + weights[i]) / total
            if self._k(np.array([q2]))[0] - self._k(np.array([q0]))[0] <= 1.0:
                cur_m = (cur_m * cur_w + float(means[i]) * int(weights[i])) / (
                    cur_w + int(weights[i])
                )
                cur_w += int(weights[i])
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                w_before += cur_w
                cur_m, cur_w = float(means[i]), int(weights[i])
        out_m.append(cur_m)
        out_w.append(cur_w)
        self._means = np.array(out_m, dtype=np.float64)
        self._weights = np.array(out_w, dtype=np.int64)

    # -- build -------------------------------------------------------------------
    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        if values.size == 0:
            return
        self._buf.append(values.copy())
        self._buf_n += values.size
        self.n += int(values.size)
        if self._buf_n >= 10 * self.delta:
            self._compress()

    # -- query --------------------------------------------------------------------
    def quantile(self, q: float) -> float:
        self._compress()
        if self._means.size == 0:
            return float("nan")
        if self._means.size == 1:
            return float(self._means[0])
        cum = np.cumsum(self._weights) - self._weights / 2.0
        target = q * self._weights.sum()
        i = int(np.searchsorted(cum, target))
        if i == 0:
            return float(self._means[0])
        if i >= self._means.size:
            return float(self._means[-1])
        frac = (target - cum[i - 1]) / (cum[i] - cum[i - 1])
        return float(self._means[i - 1] + frac * (self._means[i] - self._means[i - 1]))

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank_error(self, q: float = 0.5) -> float:
        """Approximate relative rank-error envelope: ~4/delta at the median,
        shrinking toward the tails like q(1-q)."""
        return max(0.005, 16.0 * q * (1 - q) / self.delta)

    # -- merge ----------------------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        """Centroid-level merge: concat centroid sets (weights preserved,
        no value expansion) + re-compress."""
        self._check_mergeable(other)
        other._compress()
        if other._means.size:
            self._means = np.concatenate([self._means, other._means])
            self._weights = np.concatenate([self._weights, other._weights])
        self.n += other.n
        self._compress()
        return self

    # -- serialization -----------------------------------------------------------------
    def config(self) -> dict[str, Any]:
        return {"delta": self.delta, "seed": self.seed}

    def payload(self) -> bytes:
        self._compress()
        return (
            np.int64(self.n).tobytes()
            + np.int64(self._means.size).tobytes()
            + self._means.tobytes()
            + self._weights.tobytes()
        )

    def _load_payload(self, raw: bytes) -> None:
        if len(raw) < 16:
            raise ValueError(f"payload of {len(raw)} bytes has no tdigest header")
        n, k = (int(x) for x in np.frombuffer(raw, dtype=np.int64, count=2))
        if k < 0 or len(raw) != 16 + 16 * k:
            raise ValueError(f"{k} centroids need {16 + 16 * k} payload bytes, "
                             f"got {len(raw)}")
        self.n = n
        self._means = np.frombuffer(raw, dtype=np.float64, count=k, offset=16).copy()
        self._weights = np.frombuffer(raw, dtype=np.int64, count=k,
                                      offset=16 + 8 * k).copy()
        self._buf, self._buf_n = [], 0

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "TDigest":
        return cls(**cfg)
