"""t-digest quantile sketch (Dunning & Ertl 2019, "Computing extremely
accurate quantiles using t-digests"), merging variant with the k1 (arcsine)
scale function.

Capability extension beyond the reference (SURVEY.md §2.5): tail-accurate
quantiles of page-size / text-length distributions. Complements KLL: KLL has
a uniform rank-error guarantee, t-digest concentrates accuracy at the tails
(error ∝ q(1-q)/δ).

Fully numpy-vectorized: updates buffer into the digest with a single
sort + cumsum + bucket-assignment pass per flush (no per-point Python loop).
Merging two digests = merging their centroid lists through the same pass,
which is commutative (stable sort on (mean, weight)) and associative up to
the documented approximation (tests assert rank-error bounds, not byte
equality, across merge orders — SURVEY.md §7.4.1).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from fever_spark.sketch.base import KIND_TDIGEST, Cursor, Sketch, register

_HEADER = struct.Struct("<dqdI")  # delta, n, buffered_count_unused, n_centroids


@register(KIND_TDIGEST, "tdigest")
class TDigest(Sketch):
    def __init__(self, delta: float = 200.0,
                 _means: np.ndarray | None = None,
                 _weights: np.ndarray | None = None, _n: int = 0):
        if delta < 10:
            raise ValueError("delta must be >= 10")
        self.delta = float(delta)
        self.means = _means if _means is not None else np.empty(0, dtype=np.float64)
        self.weights = _weights if _weights is not None else np.empty(0, dtype=np.float64)
        self.n = int(_n)
        self._buf_means: list[np.ndarray] = []
        self._buf_weights: list[np.ndarray] = []
        self._buf_size = 0

    def max_state_bytes(self) -> int:
        """Saturated in-memory bound: compressed centroids are capped by the
        k1 floor-bucketing at ~delta/2 + 2 groups, but the UPDATE BUFFER
        holds up to max(512, 10·delta) raw points before a flush — the
        dominant term a per-group memory budget must provision."""
        centroids = int(self.delta) // 2 + 2
        buffered = max(512, 10 * int(self.delta))
        return _HEADER.size + 16 * (centroids + buffered)

    # -- scale function k1 and its q-limit step --------------------------------

    def _k(self, q: np.ndarray) -> np.ndarray:
        return (self.delta / (2 * math.pi)) * np.arcsin(2 * np.clip(q, 0, 1) - 1)

    def _k_inv(self, k: np.ndarray) -> np.ndarray:
        return (np.sin(k * (2 * math.pi) / self.delta) + 1) / 2

    # -- update -----------------------------------------------------------------

    def update(self, values, weights=None) -> None:
        values = np.asarray(values, dtype=np.float64)
        mask = ~np.isnan(values)
        values = values[mask]
        if len(values) == 0:
            return
        w = (np.ones(len(values)) if weights is None
             else np.asarray(weights, dtype=np.float64)[mask])
        self._buf_means.append(values)
        self._buf_weights.append(w)
        self._buf_size += len(values)
        if self._buf_size >= max(512, 10 * int(self.delta)):
            self._flush()

    def _flush(self) -> None:
        if not self._buf_size:
            return
        means = np.concatenate([self.means] + self._buf_means)
        weights = np.concatenate([self.weights] + self._buf_weights)
        self._buf_means, self._buf_weights, self._buf_size = [], [], 0
        self.means, self.weights = self._compress(means, weights)
        self.n = int(round(self.weights.sum()))

    def _compress(self, means: np.ndarray, weights: np.ndarray):
        """One merge pass: sort by mean, then group runs of centroids whose
        cumulative q-span stays within one unit of the k1 scale function."""
        order = np.lexsort((weights, means))  # deterministic tie-break
        means, weights = means[order], weights[order]
        total = weights.sum()
        if total <= 0:
            return np.empty(0), np.empty(0)
        # q position of each centroid's left edge
        cum = np.cumsum(weights)
        q_left = (cum - weights) / total
        k_left = self._k(q_left)
        # greedy grouping: new group starts when k(q_left) crosses the next
        # integer boundary relative to the current group's start. Vectorized
        # approximation: bucket by floor(k); adjacent centroids in the same
        # k-unit merge together. This keeps every group's k-span <= 1 (the
        # t-digest size invariant) at a small constant-factor size cost.
        buckets = np.floor(k_left).astype(np.int64)
        # group-by consecutive equal buckets
        boundaries = np.empty(len(buckets), dtype=bool)
        boundaries[0] = True
        boundaries[1:] = buckets[1:] != buckets[:-1]
        gid = np.cumsum(boundaries) - 1
        ngroups = gid[-1] + 1
        gw = np.zeros(ngroups)
        gm = np.zeros(ngroups)
        np.add.at(gw, gid, weights)
        np.add.at(gm, gid, means * weights)
        return gm / gw, gw

    # -- merge ---------------------------------------------------------------------

    def merge(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("cannot merge t-digests with different delta")
        other_flushed = other._flushed_view()
        self._flush()
        means = np.concatenate([self.means, other_flushed[0]])
        weights = np.concatenate([self.weights, other_flushed[1]])
        self.means, self.weights = self._compress(means, weights)
        self.n = int(round(self.weights.sum()))
        return self

    def _flushed_view(self):
        if self._buf_size:
            self._flush()
        return self.means, self.weights

    @classmethod
    def _merge_many(cls, digests: list["TDigest"]) -> "TDigest":
        """N-way merge (see base.merge_many): concatenate every input's
        centroid list and run ONE compression pass, versus N-1 pairwise
        merge+compress rounds. Accuracy is the documented merge
        approximation either way (rank-error-bound tests, not byte
        equality, across merge orders)."""
        out = cls(delta=digests[0].delta)
        if any(d.delta != out.delta for d in digests):
            raise ValueError("cannot merge t-digests with different delta")
        # decoded states hold no update buffer: means/weights are complete
        means = np.concatenate([d.means for d in digests])
        if len(means):
            out.means, out.weights = out._compress(
                means, np.concatenate([d.weights for d in digests]))
            out.n = int(round(out.weights.sum()))
        return out

    # -- queries ----------------------------------------------------------------------

    def quantile(self, q) -> np.ndarray | float:
        self._flush()
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if len(self.means) == 0:
            out = np.full(len(qs), np.nan)
            return out if np.ndim(q) else float(out[0])
        total = self.weights.sum()
        # centroid centers at cumulative weight minus half own weight
        cum = np.cumsum(self.weights) - self.weights / 2
        targets = np.clip(qs, 0, 1) * total
        out = np.interp(targets, cum, self.means,
                        left=self.means[0], right=self.means[-1])
        return out if np.ndim(q) else float(out[0])

    def rank(self, x) -> np.ndarray | float:
        self._flush()
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if len(self.means) == 0:
            out = np.full(len(xs), np.nan)
            return out if np.ndim(x) else float(out[0])
        total = self.weights.sum()
        cum = np.cumsum(self.weights) - self.weights / 2
        out = np.interp(xs, self.means, cum / total, left=0.0, right=1.0)
        return out if np.ndim(x) else float(out[0])

    # -- serde ---------------------------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        self._flush()
        return (_HEADER.pack(self.delta, self.n, 0.0, len(self.means))
                + self.means.tobytes() + self.weights.tobytes())

    @classmethod
    def _from_payload(cls, cur: Cursor) -> "TDigest":
        delta, n, _, nc = cur.unpack(_HEADER)
        means = cur.array(np.float64, nc).copy()
        weights = cur.array(np.float64, nc).copy()
        cur.end()
        return cls(delta=delta, _means=means, _weights=weights, _n=n)
