"""Bloom filter (Bloom 1970) with fever-compatible membership semantics.

Behavioral reference: /root/reference/processing/bloom_handler.go:97-291 and
the DCSO/bloom usage it wraps — sized from (capacity n, false-positive
probability p), zero false negatives by construction, gzip-able file
persistence (bloom_handler.go:97-129), and a management API that reports
(n, p, k, m, N) like mgmt/mgmtserver.go:102-109. The byte format is our own
(north_rule requires matching *semantics and bounds*, not the reference's
file format — SURVEY.md §7.4.6).

Standard sizing: m = ceil(-n ln p / ln(2)^2), k = max(1, round(m/n ln 2)).
"""

from __future__ import annotations

import gzip
import math
import struct

import numpy as np

from fever_spark.hashing import double_hash64
from fever_spark.sketch.base import KIND_BLOOM, Sketch, canonical_seed, register

_HEADER = struct.Struct("<QQIqQ")  # capacity n, m bits, k, seed (signed 64), N inserted


@register(KIND_BLOOM, "bloom")
class BloomFilter(Sketch):
    """Fixed-size bit array with k double-hashed probes.

    Guarantees: an added element is ALWAYS reported present (zero false
    negatives — the acceptance invariant of
    /root/reference/processing/bloom_handler_test.go:409-427); a non-member
    is reported present with probability ≈ (1 - e^{-kn/m})^k ≤ p at the
    configured capacity.
    """

    def __init__(self, capacity: int = 100, fpp: float = 1e-8, seed: int = 0,
                 _bits: np.ndarray | None = None, _m: int | None = None,
                 _k: int | None = None, _n_inserted: int = 0):
        # Defaults mirror the reference's fallback filter (capacity 100,
        # p=1e-8) used when a filter file is empty/corrupt
        # (/root/reference/processing/bloom_handler.go:108-112).
        if not (0.0 < fpp < 1.0):
            raise ValueError("fpp must be in (0, 1)")
        capacity = max(1, int(capacity))
        self.capacity = capacity
        self.fpp = float(fpp)
        self.seed = canonical_seed(seed)
        if _bits is not None:
            self.m = int(_m)
            self.k = int(_k)
            self.bits = _bits
        else:
            self.m = max(8, int(math.ceil(-capacity * math.log(fpp) / (math.log(2) ** 2))))
            self.k = max(1, round(self.m / capacity * math.log(2)))
            self.bits = np.zeros((self.m + 7) // 8, dtype=np.uint8)
        self.n_inserted = int(_n_inserted)

    # -- core ---------------------------------------------------------------

    def _positions(self, values) -> np.ndarray:
        """(k, len(values)) matrix of bit positions via ENHANCED double
        hashing (Dillinger & Manolios 2004): g_0=h1, g_{i+1}=g_i+h2+tri(i).
        Plain Kirsch-Mitzenmacher's additive structure measurably inflates
        FPR at small m (observed ~50-400x over the configured bound); the
        triangular-increment variant restores it (0 FPs in 200k probes at
        the same m/k in our calibration)."""
        h1, h2 = double_hash64(values, seed=self.seed)
        out = np.empty((self.k, len(h1)), dtype=np.int64)
        a, b = h1.copy(), h2.copy()
        m = np.uint64(self.m)
        with np.errstate(over="ignore"):
            for i in range(self.k):
                out[i] = (a % m).astype(np.int64)
                a += b
                b += np.uint64(i + 1)
        return out

    def update(self, values) -> None:
        values = np.asarray(values)
        if len(values) == 0:
            return
        pos = self._positions(values).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        self.n_inserted += len(values)

    # fever calls this "Add" over the mgmt API (mgmt/mgmtserver.go:120-139)
    add = update

    def contains(self, values) -> np.ndarray:
        """Vectorized membership test → bool array.

        Early-exit batching: after each of the k probe rounds, rows that
        missed a bit are dropped from the working set — on a matching
        workload (~all non-members, the fever steady state) most rows die
        in 1-2 rounds instead of paying all k, measured 2.9x faster at
        k=20 and still faster on all-member input (no (k, n) position
        matrix is materialized). Bit positions are identical to update()'s,
        so zero-false-negative semantics are untouched."""
        values = np.asarray(values)
        n = len(values)
        if n == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = double_hash64(values, seed=self.seed)
        a, b = h1.copy(), h2.copy()
        alive = np.arange(n)
        out = np.ones(n, dtype=bool)
        m = np.uint64(self.m)
        with np.errstate(over="ignore"):
            for i in range(self.k):
                pos = (a[alive] % m).astype(np.int64)
                hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
                out[alive[hit == 0]] = False
                alive = alive[hit == 1]
                if len(alive) == 0:
                    break
                a += b
                b += np.uint64(i + 1)
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m, self.k, self.seed) != (other.m, other.k, other.seed):
            raise ValueError("cannot merge Bloom filters with different (m, k, seed)")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_inserted += other.n_inserted
        return self

    # -- introspection (mgmt `bloom show` parity, mgmt/mgmtserver.go:102-109)

    def info(self) -> dict:
        return {"capacity": self.capacity, "fpp": self.fpp, "k": self.k,
                "m": self.m, "n_inserted": self.n_inserted,
                # bitorder must match _positions' little-endian bit layout,
                # or the [:m] slice counts the wrong bits of a partial byte
                "fill_ratio": float(np.unpackbits(
                    self.bits, bitorder="little")[: self.m].mean())}

    # -- serde ----------------------------------------------------------------

    @classmethod
    def _merge_many(cls, states: list[bytes]) -> "BloomFilter":
        """Vectorized N-way merge: one bitwise-or reduce over bit views."""
        from fever_spark.sketch.base import payload_of

        payloads = [payload_of(s) for s in states]
        cap, m, k, seed, _ = _HEADER.unpack_from(payloads[0], 0)
        (fpp,) = struct.unpack_from("<d", payloads[0], _HEADER.size)
        off = _HEADER.size + 8
        n_ins = 0
        views = []
        for pl in payloads:
            m2 = _HEADER.unpack_from(pl, 0)
            if (m2[1], m2[2], m2[3]) != (m, k, seed):
                raise ValueError(
                    "cannot merge Bloom filters with different (m, k, seed): "
                    f"{(m, k, seed)} vs {(m2[1], m2[2], m2[3])}")
            n_ins += m2[4]
            views.append(np.frombuffer(pl, dtype=np.uint8, offset=off))
        bits = np.bitwise_or.reduce(views)
        return cls(capacity=cap, fpp=fpp, seed=seed, _bits=bits.copy(),
                   _m=m, _k=k, _n_inserted=n_ins)

    def _payload_bytes(self) -> bytes:
        return (_HEADER.pack(self.capacity, self.m, self.k, self.seed, self.n_inserted)
                + struct.pack("<d", self.fpp) + self.bits.tobytes())

    @classmethod
    def _from_payload(cls, buf: memoryview) -> "BloomFilter":
        if len(buf) < _HEADER.size + 8:
            raise ValueError(f"corrupt Bloom filter: {len(buf)} payload bytes "
                             f"(header needs {_HEADER.size + 8})")
        cap, m, k, seed, n_ins = _HEADER.unpack_from(buf, 0)
        (fpp,) = struct.unpack_from("<d", buf, _HEADER.size)
        bits = np.frombuffer(buf[_HEADER.size + 8:], dtype=np.uint8).copy()
        # a truncated file would otherwise load and fail every later probe
        # with IndexError; k=0 would report every value present
        if m < 1 or k < 1 or len(bits) != (m + 7) // 8:
            raise ValueError(
                f"corrupt Bloom filter: m={m}, k={k}, {len(bits)} bit bytes "
                f"(expected {(m + 7) // 8})")
        return cls(capacity=cap, fpp=fpp, seed=seed, _bits=bits, _m=m, _k=k,
                   _n_inserted=n_ins)

    # -- file persistence (bloom_handler.go:97-129 load/save, gzip optional) --

    def save(self, path: str, compressed: bool | None = None) -> None:
        data = self.to_bytes()
        if compressed is None:
            compressed = path.endswith(".gz")
        if compressed:
            data = gzip.compress(data)
        with open(path, "wb") as f:
            f.write(data)

    @classmethod
    def load(cls, path: str, compressed: bool | None = None) -> "BloomFilter":
        with open(path, "rb") as f:
            data = f.read()
        if compressed is None:
            compressed = data[:2] == b"\x1f\x8b"
        if compressed:
            data = gzip.decompress(data)
        return cls.from_bytes(data)

    @classmethod
    def load_or_empty(cls, path: str, capacity: int = 100, fpp: float = 1e-8) -> "BloomFilter":
        """Tolerant load: empty/corrupt file → fresh default filter, matching
        the reference's recovery path (bloom_handler.go:105-129)."""
        try:
            return cls.load(path)
        except Exception:
            return cls(capacity=capacity, fpp=fpp)
