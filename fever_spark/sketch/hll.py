"""HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier 2007,
with the 64-bit-hash variant of Heule et al. 2013 that removes the
large-range correction).

Replaces the reference's exact, memory-unbounded dedup maps
(/root/reference/processing/dns_aggregator.go:148-167 collect-set style
dedup; SURVEY.md §2.5) with O(2^p) state. Relative standard error is
1.04 / sqrt(2^p) — the bound BASELINE.json requires estimates to meet.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from fever_spark.hashing import hash64
from fever_spark.sketch.base import KIND_HLL, Cursor, Sketch, canonical_seed, register

_HEADER = struct.Struct("<Bq")  # p, seed (signed 64)


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


@register(KIND_HLL, "hll")
class HyperLogLog(Sketch):
    """Dense HLL: 2^p registers, one byte each (6 bits used).

    ``update`` is fully vectorized: index = top p hash bits, rho = leading
    zeros of the remaining 64-p bits + 1, register = elementwise max.
    Merge = elementwise max, which is exactly associative and commutative.
    """

    def __init__(self, p: int = 14, seed: int = 0,
                 _registers: np.ndarray | None = None):
        if not (4 <= p <= 18):
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.m = 1 << self.p
        self.seed = canonical_seed(seed)
        self.registers = (_registers if _registers is not None
                          else np.zeros(self.m, dtype=np.uint8))

    @property
    def relative_error(self) -> float:
        """Published standard-error bound (BASELINE.md)."""
        return 1.04 / math.sqrt(self.m)

    def update(self, values) -> None:
        values = np.asarray(values)
        if len(values) == 0:
            return
        h = hash64(values, seed=self.seed)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h & np.uint64((1 << (64 - self.p)) - 1)
        # bit_length via float64 exponent: exact for w < 2^53, and 64-p <= 60
        # bits. For the (astronomically rare) w >= 2^53, frexp's exponent can
        # be off by one only when rounding crosses a power of two; clamp below.
        _, exp = np.frexp(w.astype(np.float64))
        maxbits = 64 - self.p
        rho = (maxbits - exp + 1).astype(np.uint8)
        rho[w == 0] = maxbits + 1
        np.clip(rho, 1, maxbits + 1, out=rho)
        np.maximum.at(self.registers, idx, rho)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if (self.p, self.seed) != (other.p, other.seed):
            raise ValueError("cannot merge HLLs with different (p, seed)")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = self.m
        regs = self.registers.astype(np.float64)
        e = _alpha(m) * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            v = int(np.count_nonzero(self.registers == 0))
            if v > 0:
                return m * math.log(m / v)  # linear counting, small range
        return float(e)  # 64-bit hash: no large-range correction needed

    def copy(self) -> "HyperLogLog":
        return HyperLogLog(p=self.p, seed=self.seed,
                           _registers=self.registers.copy())

    # -- serde ---------------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        return _HEADER.pack(self.p, self.seed) + self.registers.tobytes()

    @classmethod
    def _from_payload(cls, cur: Cursor) -> "HyperLogLog":
        p, seed = cur.unpack(_HEADER)
        regs = cur.array(np.uint8, 1 << p).copy()
        cur.end()
        return cls(p=p, seed=seed, _registers=regs)


# -- set-operation estimators (module level: they consume, never mutate) ----


def union_estimate(*hlls: HyperLogLog) -> float:
    """|A ∪ B ∪ ...| — exact on the sketch lattice (register max), same
    error bound as a single HLL."""
    if not hlls:
        return 0.0
    acc = hlls[0].copy()
    for h in hlls[1:]:
        acc.merge(h)
    return acc.estimate()


def intersection_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∩ B| by inclusion-exclusion: |A| + |B| − |A ∪ B|. The ABSOLUTE
    error compounds across the three estimates (≈ 1.04/√m × (|A|+|B|+|A∪B|)),
    so the RELATIVE error blows up for nearly-disjoint sets — callers
    comparing small overlaps should gate on intersection_error_bound()."""
    return max(0.0, a.estimate() + b.estimate() - union_estimate(a, b))


def intersection_error_bound(a: HyperLogLog, b: HyperLogLog) -> float:
    """Additive error bound for intersection_estimate (1-sigma of each term
    summed; multiply by your sigma multiple)."""
    rel = a.relative_error
    return rel * (a.estimate() + b.estimate() + union_estimate(a, b))


def jaccard_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∩ B| / |A ∪ B| from the two sketches."""
    u = union_estimate(a, b)
    return intersection_estimate(a, b) / u if u > 0 else 0.0
