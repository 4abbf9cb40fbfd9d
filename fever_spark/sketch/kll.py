"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016) over float64 values.

Capability extension beyond the reference (fever has no quantile operator —
SURVEY.md §2.5): page-size / text-length quantiles with O(k log(n/k)) state.

Published bound (KLL paper §5 / Apache DataSketches docs): normalized rank
error ε ≈ 2.296 / k^0.9 with high probability for the c=2/3 geometric
capacity schedule (k=200 → ≈1.9%). ``rank_error()`` exposes it; tests assert
estimates stay inside it.

Compaction coin-flips come from a splitmix64 state stored in the sketch, so
a FIXED update/merge order reproduces byte-identical states (needed for
checkpoint-resume verification, SURVEY.md §7.4.1) while remaining unbiased
across levels.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from fever_spark.hashing import splitmix64
from fever_spark.sketch.base import KIND_KLL, Cursor, Sketch, corrupt, register

_C = 2.0 / 3.0
_MIN_CAP = 8
_HEADER = struct.Struct("<IqQI")  # k, n, rng_state, n_levels
_LEVEL_LEN = struct.Struct("<I")


@register(KIND_KLL, "kll")
class KLLSketch(Sketch):
    def __init__(self, k: int = 200, seed: int = 0,
                 _levels: list[np.ndarray] | None = None, _n: int = 0,
                 _rng_state: int | None = None):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        self.levels: list[np.ndarray] = _levels if _levels is not None else [
            np.empty(0, dtype=np.float64)]
        self.n = int(_n)
        # unsigned 64-bit splitmix state: mask so a negative or oversized
        # seed can't raise struct.error in the '<IqQ...' header's Q slot
        self.rng_state = (int(_rng_state) if _rng_state is not None
                          else (seed or 0xDA3E39CB94B95BDB)) & 0xFFFFFFFFFFFFFFFF

    def rank_error(self) -> float:
        """Published normalized rank-error bound for this k."""
        return 2.296 / (self.k ** 0.9)

    def max_state_bytes(self) -> int:
        """Saturated in-memory bound: the capacity schedule sums to
        k·Σc^d ≈ k/(1-c) = 3k retained items across levels (plus the
        _MIN_CAP floor on ~60 deep levels), and the bulk-update path holds
        one max(k, 1024)-item chunk in level 0 before compressing."""
        retained = 3 * self.k + 64 * _MIN_CAP
        in_flight = max(self.k, 1024)
        return _HEADER.size + 8 * (retained + in_flight)

    # -- capacity schedule ----------------------------------------------------

    def _cap(self, h: int) -> int:
        depth = len(self.levels) - 1 - h
        return max(_MIN_CAP, int(math.ceil(self.k * (_C ** depth))))

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    def _size(self) -> int:
        return sum(len(lv) for lv in self.levels)

    # -- update / compaction ---------------------------------------------------

    def update(self, values) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        # Bulk path: feed in capacity-sized chunks to bound level-0 growth.
        chunk = max(self.k, 1024)
        for start in range(0, len(values), chunk):
            v = values[start:start + chunk]
            self.levels[0] = np.concatenate([self.levels[0], v])
            self.n += len(v)
            self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_cap():
            for h in range(len(self.levels)):
                if len(self.levels[h]) >= self._cap(h):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        items = np.sort(self.levels[h], kind="stable")
        if len(items) % 2 == 1:
            # leave one item behind so total weight is conserved
            keep, items = items[-1:], items[:-1]
        else:
            keep = np.empty(0, dtype=np.float64)
        self.rng_state, z = splitmix64(self.rng_state)
        offset = int(z & 1)
        promoted = items[offset::2]
        self.levels[h] = keep
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # -- merge ------------------------------------------------------------------

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if self.k != other.k:
            raise ValueError("cannot merge KLL sketches with different k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, lv in enumerate(other.levels):
            if len(lv):
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        # mix rng states so merged sketches don't correlate coin flips
        self.rng_state ^= other.rng_state * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
        self.rng_state &= 0xFFFFFFFFFFFFFFFF
        self._compress()
        return self

    @classmethod
    def _merge_many(cls, sketches: list["KLLSketch"]) -> "KLLSketch":
        """N-way merge (see base.merge_many): concatenate level-wise across
        ALL inputs, then run ONE compression pass — versus N-1 pairwise
        merge+compress rounds. Same estimator guarantees: compaction is
        randomized, and the rng fold matches pairwise merge's mixing."""
        k = sketches[0].k
        if any(sk.k != k for sk in sketches):
            raise ValueError("cannot merge KLL sketches with different k")
        depth = max(len(sk.levels) for sk in sketches)
        levels = [np.concatenate([sk.levels[h] for sk in sketches
                                  if h < len(sk.levels)])
                  for h in range(depth)]
        rng_state = sketches[0].rng_state
        for sk in sketches[1:]:
            rng_state ^= sk.rng_state * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
        out = cls(k=k, _levels=levels, _n=sum(sk.n for sk in sketches),
                  _rng_state=rng_state)
        out._compress()
        return out

    # -- queries -----------------------------------------------------------------

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, lv in enumerate(self.levels):
            if len(lv):
                items.append(lv)
                weights.append(np.full(len(lv), 1 << h, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantile(self, q) -> np.ndarray | float:
        """Value(s) at normalized rank(s) q ∈ [0,1]."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        it, wt = self._weighted_items()
        if len(it) == 0:
            out = np.full(len(qs), np.nan)
            return out if np.ndim(q) else float(out[0])
        cum = np.cumsum(wt)
        targets = np.clip(qs, 0.0, 1.0) * cum[-1]
        idx = np.minimum(np.searchsorted(cum, targets, side="left"), len(it) - 1)
        out = it[idx]
        return out if np.ndim(q) else float(out[0])

    def rank(self, x) -> np.ndarray | float:
        """Normalized rank(s) of value(s) x (fraction of mass <= x)."""
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        it, wt = self._weighted_items()
        if len(it) == 0:
            out = np.full(len(xs), np.nan)
            return out if np.ndim(x) else float(out[0])
        cum = np.concatenate([[0], np.cumsum(wt)])
        idx = np.searchsorted(it, xs, side="right")
        out = cum[idx] / cum[-1]
        return out if np.ndim(x) else float(out[0])

    # -- serde ---------------------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        parts = [_HEADER.pack(self.k, self.n, self.rng_state, len(self.levels))]
        for lv in self.levels:
            parts.append(_LEVEL_LEN.pack(len(lv)))
            parts.append(np.ascontiguousarray(lv, dtype=np.float64).tobytes())
        return b"".join(parts)

    @classmethod
    def _from_payload(cls, cur: Cursor) -> "KLLSketch":
        k, n, rng_state, n_levels = cur.unpack(_HEADER)
        # every writer keeps level 0; without it update() has nowhere to go
        if n_levels < 1:
            raise corrupt("KLL state with 0 levels")
        levels = []
        for _ in range(n_levels):
            (ln,) = cur.unpack(_LEVEL_LEN)
            levels.append(cur.array(np.float64, ln).copy())
        cur.end()
        return cls(k=k, _levels=levels, _n=n, _rng_state=rng_state)
