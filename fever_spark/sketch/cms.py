"""Count-min sketch (Cormode & Muthukrishnan 2005) for heavy-hitter counting.

Replaces the reference's exact per-key count maps — UnicornAggregator's flow
and proxy maps (/root/reference/processing/unicorn_aggregator.go:145-165) —
with fixed d×w state. Guarantee: estimates never undercount, and overcount by
at most ε·N with probability ≥ 1-δ, for w = ceil(e/ε), d = ceil(ln(1/δ)),
N = total added weight. Merge = elementwise matrix sum (exactly associative
and commutative, like the reference's partial-count merge at
unicorn_aggregator.go:145-155).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from fever_spark.hashing import double_hash64
from fever_spark.sketch.base import (
    KIND_CMS, Cursor, Sketch, canonical_seed, corrupt, register)

_HEADER = struct.Struct("<IIqqB")  # depth d, width w, seed (signed 64), total N, cell dtype code

# On-wire cell dtype: a partition-local partial over ~15k rows holds counts
# ≤ 15k, so shipping the dense d×w table as int64 wastes 4-8x bytes AND
# dominates the merge stage in zlib time (dense int64 tables compress
# slowly and poorly). The payload narrows to the smallest unsigned dtype
# that holds table.max(); in-memory stays int64. Codes = itemsize.
_DTYPE_BY_CODE = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.int64}


@register(KIND_CMS, "cms")
class CountMinSketch(Sketch):
    def __init__(self, epsilon: float = 1e-4, delta: float = 1e-3, seed: int = 0,
                 _table: np.ndarray | None = None, _total: int = 0,
                 depth: int | None = None, width: int | None = None):
        if depth is None:
            depth = max(1, int(math.ceil(math.log(1.0 / delta))))
        if width is None:
            width = max(8, int(math.ceil(math.e / epsilon)))
        self.depth = int(depth)
        self.width = int(width)
        self.seed = canonical_seed(seed)
        self.table = (_table if _table is not None
                      else np.zeros((self.depth, self.width), dtype=np.int64))
        self.total = int(_total)

    def max_state_bytes(self) -> int:
        """In-memory footprint is the full int64 table regardless of the
        narrowed on-wire dtype _payload_bytes ships."""
        return _HEADER.size + self.depth * self.width * 8

    @property
    def epsilon(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    def _cols(self, values) -> np.ndarray:
        """(depth, n) column indices via enhanced double hashing (same
        rationale as BloomFilter._positions — row independence)."""
        h1, h2 = double_hash64(values, seed=self.seed)
        out = np.empty((self.depth, len(h1)), dtype=np.int64)
        a, b = h1.copy(), h2.copy()
        w = np.uint64(self.width)
        with np.errstate(over="ignore"):
            for i in range(self.depth):
                out[i] = (a % w).astype(np.int64)
                a += b
                b += np.uint64(i + 1)
        return out

    def update(self, values, counts=None) -> None:
        values = np.asarray(values)
        if len(values) == 0:
            return
        cols = self._cols(values)
        if counts is None:
            # ONE np.add.at over the raveled table with per-row offsets:
            # numpy's indexed-add runs a vectorized inner loop since 1.25,
            # and skipping bincount's width-sized temp + astype copy per
            # row wins at every batch size (measured depth=7 width=27k:
            # 20x at 500 values, 1.2x at 100k, tie at 1M). Small batches
            # are the common case — update runs per (group, Arrow batch).
            flat = cols + (np.arange(self.depth,
                                     dtype=np.int64)[:, None] * self.width)
            np.add.at(self.table.reshape(-1), flat.reshape(-1), 1)
            self.total += len(values)
        else:
            # weighted: bincount's float accumulate beats add.at ~4x here
            # (measured 0.082s vs 0.361s at 1M weighted values)
            w = np.asarray(counts, dtype=np.int64)
            for i in range(self.depth):
                self.table[i] += np.bincount(
                    cols[i], weights=w, minlength=self.width) \
                    .astype(np.int64)
            self.total += int(w.sum())

    def estimate(self, values) -> np.ndarray:
        """Vectorized point-frequency estimates (min over rows) → int64 array."""
        values = np.asarray(values)
        if len(values) == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._cols(values)
        rows = np.arange(self.depth, dtype=np.int64)[:, None]
        return self.table[rows, cols].min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.depth, self.width, self.seed) != (other.depth, other.width, other.seed):
            raise ValueError("cannot merge CMS with different (d, w, seed)")
        self.table += other.table
        self.total += other.total
        return self

    def error_bound(self) -> float:
        """ε·N additive overcount bound at the current total weight."""
        return self.epsilon * self.total

    # -- serde ---------------------------------------------------------------

    def _wire_dtype(self):
        if self.table.min(initial=0) < 0:  # negative weights: stay int64
            return np.int64
        m = int(self.table.max(initial=0))
        if m < (1 << 8):
            return np.uint8
        if m < (1 << 16):
            return np.uint16
        if m < (1 << 32):
            return np.uint32
        return np.int64

    def _payload_bytes(self) -> bytes:
        dt = self._wire_dtype()
        return (_HEADER.pack(self.depth, self.width, self.seed, self.total,
                             np.dtype(dt).itemsize)
                + np.ascontiguousarray(self.table, dtype=dt).tobytes())

    @classmethod
    def _from_payload(cls, cur: Cursor) -> "CountMinSketch":
        d, w, seed, total, code = cur.unpack(_HEADER)
        if code not in _DTYPE_BY_CODE:
            raise corrupt(f"CMS cell dtype code {code}")
        table = cur.array(_DTYPE_BY_CODE[code], d * w).reshape(d, w)
        cur.end()
        return cls(seed=seed, _table=table.astype(np.int64), _total=total,
                   depth=d, width=w)
