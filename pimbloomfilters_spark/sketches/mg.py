"""Misra–Gries frequent-items summary (Misra & Gries 1982; mergeable form per
Agarwal et al. 2012, "Mergeable Summaries").

Beyond-the-reference family complementing count-min: CMS answers point
queries with one-sided OVER-estimates; MG keeps an explicit candidate set
with one-sided UNDER-estimates and the deterministic guarantee that any item
with true count > N/(k+1) is present in the summary.

Bounds (capacity k): 0 <= true - est <= N/(k+1). Merge = sum counters, then
decrement all by the (k+1)-st largest and drop non-positives — preserves the
bound with N = N1 + N2 (the mergeable-summaries result).

Vectorized build: one np.unique per chunk, then a dict merge over at most
(k + #unique) entries.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from .base import Sketch, register


@register(6)
class MisraGries(Sketch):
    kind = "mg"

    def __init__(self, k: int = 256, seed: int = 0):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = int(k)
        self.seed = int(seed)  # interface symmetry; MG is deterministic
        self._counts: dict[int, int] = {}
        self.n = 0

    def _shrink(self) -> None:
        if len(self._counts) <= self.k:
            return
        vals = np.fromiter(self._counts.values(), dtype=np.int64)
        # decrement by the (k+1)-st largest count
        dec = int(np.partition(vals, len(vals) - self.k - 1)[len(vals) - self.k - 1])
        self._counts = {
            key: c - dec for key, c in self._counts.items() if c - dec > 0
        }

    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.int64)
        if values.size == 0:
            return
        uniq, counts = np.unique(values, return_counts=True)
        for key, c in zip(uniq.tolist(), counts.tolist()):
            self._counts[key] = self._counts.get(key, 0) + c
        self.n += int(values.size)
        self._shrink()

    def query(self, value) -> int:
        """Under-estimate: true - N/(k+1) <= result <= true."""
        return self._counts.get(int(value), 0)

    def query_bulk(self, values: np.ndarray) -> np.ndarray:
        return np.array([self._counts.get(int(v), 0) for v in np.asarray(values)],
                        dtype=np.int64)

    def heavy_hitters(self, min_fraction: float = 0.0) -> list[tuple[int, int]]:
        """(item, est) sorted by est desc, item asc; includes every item with
        true frequency > n/(k+1) (and any with est >= min_fraction * n)."""
        thr = min_fraction * self.n
        items = [(v, key) for key, v in self._counts.items() if v >= thr]
        items.sort(key=lambda t: (-t[0], t[1]))
        return [(key, v) for v, key in items]

    def error_bound(self) -> float:
        return self.n / (self.k + 1)

    def merge(self, other: "MisraGries") -> "MisraGries":
        self._check_mergeable(other)
        for key, c in other._counts.items():
            self._counts[key] = self._counts.get(key, 0) + c
        self.n += other.n
        self._shrink()
        return self

    def config(self) -> dict[str, Any]:
        return {"k": self.k, "seed": self.seed}

    def payload(self) -> bytes:
        keys = np.fromiter(self._counts.keys(), dtype=np.int64,
                           count=len(self._counts))
        vals = np.fromiter(self._counts.values(), dtype=np.int64,
                           count=len(self._counts))
        order = np.argsort(keys)
        return (np.array([self.n, len(self._counts)], dtype=np.int64).tobytes()
                + keys[order].tobytes() + vals[order].tobytes())

    def _load_payload(self, raw: bytes) -> None:
        if len(raw) < 16:
            raise ValueError(f"payload of {len(raw)} bytes has no mg header")
        n, m = (int(x) for x in np.frombuffer(raw, dtype=np.int64, count=2))
        if m < 0 or len(raw) != 16 + 16 * m:
            raise ValueError(f"{m} counters need {16 + 16 * m} payload bytes, "
                             f"got {len(raw)}")
        self.n = n
        keys = np.frombuffer(raw[16:16 + 8 * m], dtype=np.int64)
        vals = np.frombuffer(raw[16 + 8 * m:16 + 16 * m], dtype=np.int64)
        self._counts = dict(zip(keys.tolist(), vals.tolist()))

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "MisraGries":
        return cls(**cfg)
