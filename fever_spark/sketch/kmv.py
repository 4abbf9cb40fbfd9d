"""KMV / bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al., "On
Synopses for Distinct-Value Estimation Under Multiset Operations",
SIGMOD 2007): keep the k smallest 64-bit hashes of the distinct values,
WITH the values themselves.

One state answers three questions the rest of the sketch family answers
only separately:

- distinct count: the unbiased KMV estimator (k-1) / U(k), U(k) = the
  k-th smallest hash mapped to (0,1]; relative standard error is about
  1/sqrt(k-2) (Beyer et al. §4).
- mergeable DETERMINISTIC uniform sample of the distinct values: the
  min-k-by-hash set is an order/partition-independent simple random
  sample without replacement of the distincts — the corpus-sampling
  primitive a training pipeline wants from the same build+merge pass.
- set similarity: Jaccard from the union's bottom-k (the fraction of the
  merged sketch's k minima present in both sides — Beyer et al. §5).

Merge = union, dedup by hash, truncate to the k smallest — exactly
associative and commutative, so it rides the standard two-level salted
merge unchanged. The reference has no sampling at all; this generalizes
its exact collect-set maps (/root/reference/processing/dns_aggregator.go:
148-167) into a bounded-size sample+estimate state.

Values are stored as UTF-8 strings (inputs are stringified on update);
hashing uses the library's seeded SipHash-equivalent (hashing.hash64) over
the ORIGINAL values, so numeric and string inputs both work and estimates
agree with the other hash sketches' distinct semantics.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from fever_spark.hashing import hash64
from fever_spark.sketch.base import (
    KIND_KMV, Cursor, Sketch, canonical_seed, register)

_HEADER = struct.Struct("<IqQ")  # k, seed (signed 64), n_entries
_TWO64 = float(1 << 64)

# saturated-state sizing assumption for max_state_bytes: stored values are
# URL/hostname-shaped strings; 128 bytes/value is the provisioning estimate
# (generous for hosts, right for long URLs). Callers storing bigger values
# should pass build_sketches a memory_budget_bytes to match.
_EST_VALUE_BYTES = 128


@register(KIND_KMV, "kmv")
class KMVSketch(Sketch):
    def __init__(self, k: int = 1024, seed: int = 0,
                 _hashes: np.ndarray | None = None,
                 _values: np.ndarray | None = None):
        if k < 3:
            raise ValueError("k must be >= 3 (estimator uses k-2)")
        self.k = int(k)
        self.seed = canonical_seed(seed)
        # invariant: hashes sorted ascending, len <= k, values aligned
        self.hashes = (_hashes if _hashes is not None
                       else np.zeros(0, dtype=np.uint64))
        self.values = (_values if _values is not None
                       else np.zeros(0, dtype=object))

    @property
    def relative_error(self) -> float:
        """Published RSE bound ~ 1/sqrt(k-2) (Beyer et al. 2007)."""
        return 1.0 / math.sqrt(self.k - 2)

    def _absorb(self, h: np.ndarray, v: np.ndarray) -> None:
        """Union (h, v) into the bottom-k, dedup by hash."""
        all_h = np.concatenate([self.hashes, h])
        all_v = np.concatenate([self.values, v])
        # np.unique returns ascending hashes + first-occurrence indices →
        # bottom-k is a plain prefix slice
        uniq_h, idx = np.unique(all_h, return_index=True)
        self.hashes = uniq_h[: self.k]
        self.values = all_v[idx[: self.k]]

    def update(self, values) -> None:
        values = np.asarray(values)
        if len(values) == 0:
            return
        h = hash64(values, seed=self.seed)
        sv = values.astype(str).astype(object)
        # cheap pre-filter: only candidates below the current k-th minimum
        # can enter a FULL sketch
        if len(self.hashes) == self.k:
            mask = h < self.hashes[-1]
            if not mask.any():
                return
            h, sv = h[mask], sv[mask]
        self._absorb(h, sv)

    def merge(self, other: "KMVSketch") -> "KMVSketch":
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("cannot merge KMV with different (k, seed)")
        self._absorb(other.hashes, other.values)
        return self

    def estimate(self) -> float:
        n = len(self.hashes)
        if n < self.k:
            return float(n)  # sketch is exact below k distincts
        u_k = (float(self.hashes[-1]) + 1.0) / _TWO64
        return (self.k - 1) / u_k

    def sample(self) -> list[str]:
        """Deterministic uniform sample (without replacement) of the
        distinct values — the min-k-by-hash set, hash order."""
        return list(self.values)

    def copy(self) -> "KMVSketch":
        return KMVSketch(k=self.k, seed=self.seed,
                         _hashes=self.hashes.copy(),
                         _values=self.values.copy())

    def max_state_bytes(self) -> int:
        """Saturated KMV state is k hashes + k length prefixes + k STORED
        VALUE strings — ~4 orders of magnitude bigger than the ~16-byte
        empty state, so the default fresh-payload sizing would let a
        build-task group map overrun its memory budget."""
        return _HEADER.size + self.k * (8 + 4 + _EST_VALUE_BYTES)

    # -- serde ---------------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        enc = [str(v).encode("utf-8") for v in self.values]
        lens = np.array([len(b) for b in enc], dtype=np.uint32)
        return (_HEADER.pack(self.k, self.seed, len(self.hashes))
                + self.hashes.tobytes() + lens.tobytes() + b"".join(enc))

    @classmethod
    def _from_payload(cls, cur: Cursor) -> "KMVSketch":
        k, seed, n = cur.unpack(_HEADER)
        hashes = cur.array(np.uint64, n).copy()
        lens = cur.array(np.uint32, n)
        vals = np.empty(n, dtype=object)
        for i, ln in enumerate(lens.tolist()):
            vals[i] = bytes(cur.take(ln)).decode("utf-8")
        cur.end()
        return cls(k=k, seed=seed, _hashes=hashes, _values=vals)


def kmv_union_estimate(a: KMVSketch, b: KMVSketch) -> float:
    """|A ∪ B| — merge is exact on the bottom-k lattice, so this is just
    the merged sketch's estimator."""
    return a.copy().merge(b).estimate()


def kmv_intersection_estimate(a: KMVSketch, b: KMVSketch) -> float:
    """|A ∩ B| ≈ Jaccard × |A ∪ B| (Beyer et al. §5 ratio estimator).
    One merged sketch serves both the Jaccard numerator and the union
    estimator."""
    if (a.k, a.seed) != (b.k, b.seed):
        raise ValueError("KMV set ops need identical (k, seed)")
    union = a.copy().merge(b)
    if len(union.hashes) == 0:
        return 0.0
    in_both = (np.isin(union.hashes, a.hashes)
               & np.isin(union.hashes, b.hashes))
    # multiply before dividing: below k the union estimate is len(hashes),
    # so the count comes back exact instead of off by one rounding step
    return float(in_both.sum()) * union.estimate() / len(union.hashes)


def kmv_jaccard(a: KMVSketch, b: KMVSketch) -> float:
    """Jaccard estimate from two KMV states (Beyer et al. §5): among the
    union's bottom-k hashes, the fraction present in BOTH sides."""
    if (a.k, a.seed) != (b.k, b.seed):
        raise ValueError("KMV Jaccard needs identical (k, seed)")
    union = a.copy().merge(b)
    if len(union.hashes) == 0:
        return 0.0
    in_both = (np.isin(union.hashes, a.hashes)
               & np.isin(union.hashes, b.hashes))
    return float(in_both.sum() / len(union.hashes))
