"""KLL quantile sketch (Karnin, Lang, Liberty 2016) — deterministic variant.

North-rule extension (SURVEY.md §2.3): token-length (n_tok) quantiles. The
classic KLL compacts a level by keeping every other element of the sorted
buffer with a random offset; we use a per-level alternating (parity) offset
instead, which keeps the sketch fully deterministic for a given insertion
order — required so tests and resumable builds are reproducible. Merges are
estimate-stable, not byte-stable (SURVEY.md §5c): permuted-partition tests
compare *estimates within the rank-error bound*, not payload bytes.

Geometry: parameter k controls accuracy; level h holds at most
max(2, ceil(k * (2/3)**depth_above)) items, each carrying weight 2**h.
Normalized rank error is O(1/k); tests assert against a conservative
``rank_error()`` envelope vs exact ranks computed by Spark/DuckDB oracles
(``percentile_approx`` / exact sort) at small scale.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from .base import Sketch, register

_C = 2.0 / 3.0


@register(4)
class KLLSketch(Sketch):
    kind = "kll"

    def __init__(self, k: int = 200, seed: int = 0):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        self.seed = int(seed)  # kept for interface symmetry; variant is deterministic
        self._levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self._parity: list[int] = [0]
        self.n = 0

    # -- capacity ---------------------------------------------------------------
    def _cap(self, h: int) -> int:
        depth_above = len(self._levels) - 1 - h
        return max(2, int(math.ceil(self.k * (_C ** depth_above))))

    def _compact(self) -> None:
        h = 0
        while h < len(self._levels):
            if self._levels[h].size > self._cap(h):
                buf = np.sort(self._levels[h])
                off = self._parity[h]
                self._parity[h] ^= 1
                kept = buf[off::2]
                self._levels[h] = np.empty(0, dtype=np.float64)
                if h + 1 == len(self._levels):
                    self._levels.append(np.empty(0, dtype=np.float64))
                    self._parity.append(0)
                self._levels[h + 1] = np.concatenate([self._levels[h + 1], kept])
                # re-check from this level upward (h+1 may now overflow)
            else:
                h += 1

    # -- build -------------------------------------------------------------------
    _CHUNK = 32_768  # level-0 ingestion slice: bounds peak memory at the
    # chunk (a multi-million-value partition otherwise sits in level 0 in
    # full and gets sorted at once); same discipline as bloom.py's insert

    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        for lo in range(0, values.size, self._CHUNK):
            chunk = values[lo:lo + self._CHUNK]
            self._levels[0] = np.concatenate([self._levels[0], chunk])
            self.n += int(chunk.size)
            self._compact()

    # -- query ---------------------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, lvl in enumerate(self._levels):
            if lvl.size:
                vals.append(lvl)
                wts.append(np.full(lvl.size, 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        """Estimated q-quantile (0 <= q <= 1)."""
        v, w = self._weighted()
        if v.size == 0:
            return float("nan")
        cum = np.cumsum(w)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(i, v.size - 1)])

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank(self, x: float) -> int:
        """Estimated number of inserted items <= x."""
        v, w = self._weighted()
        if v.size == 0:
            return 0
        i = int(np.searchsorted(v, x, side="right"))
        return int(w[:i].sum())

    def rank_error(self) -> float:
        """Conservative normalized rank-error envelope (fraction of n)."""
        return max(0.02, 3.0 / self.k)

    # -- merge ------------------------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        self._check_mergeable(other)
        while len(self._levels) < len(other._levels):
            self._levels.append(np.empty(0, dtype=np.float64))
            self._parity.append(0)
        for h, lvl in enumerate(other._levels):
            if lvl.size:
                self._levels[h] = np.concatenate([self._levels[h], lvl])
        self.n += other.n
        self._compact()
        return self

    # -- serialization -----------------------------------------------------------------
    def config(self) -> dict[str, Any]:
        return {"k": self.k, "seed": self.seed}

    def payload(self) -> bytes:
        parts = [np.array([self.n, len(self._levels)], dtype=np.int64).tobytes()]
        for h, lvl in enumerate(self._levels):
            parts.append(np.array([lvl.size, self._parity[h]], dtype=np.int64).tobytes())
            parts.append(lvl.tobytes())
        return b"".join(parts)

    def _load_payload(self, raw: bytes) -> None:
        if len(raw) < 16:
            raise ValueError(f"payload of {len(raw)} bytes has no kll header")
        n, n_levels = (int(x) for x in np.frombuffer(raw, dtype=np.int64, count=2))
        off = 16
        levels, parity = [], []
        for h in range(n_levels):
            if off + 16 > len(raw):
                raise ValueError(f"payload ends before level {h} of {n_levels}")
            sz, par = (int(x) for x in np.frombuffer(raw, dtype=np.int64,
                                                     count=2, offset=off))
            off += 16
            if sz < 0 or off + 8 * sz > len(raw):
                raise ValueError(f"level {h} claims {sz} items, "
                                 f"{(len(raw) - off) // 8} left")
            levels.append(np.frombuffer(raw, dtype=np.float64, count=sz,
                                        offset=off).copy())
            parity.append(par)
            off += 8 * sz
        if off != len(raw):
            raise ValueError(f"{len(raw) - off} trailing bytes after "
                             f"{n_levels} levels")
        self.n, self._levels, self._parity = n, levels, parity
        if not self._levels:
            self._levels = [np.empty(0, dtype=np.float64)]
            self._parity = [0]

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "KLLSketch":
        return cls(**cfg)
