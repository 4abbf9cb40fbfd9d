"""CMS-backed heavy-hitter top-k sketch (candidate tracking + count-min).

The reference's UnicornAggregator exists to ship top talkers — exact per-key
maps flushed per interval (/root/reference/processing/unicorn_aggregator.go:95-140).
At 10^12 rows an exact map is unbounded, so this sketch pairs the count-min
table with a bounded CANDIDATE set (the "heap" of the classic CMS top-k
construction, Cormode & Muthukrishnan 2005 §4.2; same role as
Metwally et al.'s space-saving summary):

- update: feed the CMS, then re-estimate the batch's distinct items and keep
  the ``track`` highest-estimate candidates;
- merge: sum the CMS tables, union both candidate sets, RE-ESTIMATE every
  candidate against the merged table, keep the top ``track`` — so retained
  estimates are a pure function of the (exactly associative) merged CMS;
- heavy_hitters(k): top k candidates by merged-table estimate.

Guarantees: estimates never undercount and overcount ≤ ε·N w.h.p. (the CMS
bound); an item is reported iff it survived candidate pruning, which holds
for every item whose frequency reaches its arrival partitions' top-``track``
— with track ≥ 8–32× k this retains all true top-k on any realistically
skewed (Zipfian) stream. The exactness gate for the candidate set is
q_cms_heavy_hitters (sketch top-k set vs exact top-k, oracle-checked).
"""

from __future__ import annotations

import json
import struct

import numpy as np

from fever_spark.sketch.base import (
    KIND_CMSTOPK, Cursor, Sketch, corrupt, register)
from fever_spark.sketch.cms import CountMinSketch

_TK_HEADER = struct.Struct("<IIBQ")  # track, n_candidates, items_are_int, cms_len


@register(KIND_CMSTOPK, "cmstopk")
class CMSTopK(Sketch):
    def __init__(self, epsilon: float = 1e-4, delta: float = 1e-3,
                 track: int = 512, seed: int = 0,
                 _cms: CountMinSketch | None = None,
                 _items: list | None = None,
                 _counts: np.ndarray | None = None,
                 _items_are_int: bool | None = None):
        self.cms = _cms if _cms is not None else CountMinSketch(
            epsilon=epsilon, delta=delta, seed=seed)
        self.track = int(track)
        self.items: list = list(_items) if _items else []
        self.counts: np.ndarray = (np.asarray(_counts, dtype=np.int64)
                                   if _counts is not None
                                   else np.zeros(0, dtype=np.int64))
        self.items_are_int = _items_are_int

    @property
    def total(self) -> int:
        return self.cms.total

    def max_state_bytes(self) -> int:
        """Dense inner CMS table + the bounded candidate set (``track``
        items; 128 bytes/item provisions URL/hostname-shaped strings —
        the same sizing assumption as KMV's stored values)."""
        return self.cms.max_state_bytes() + self.track * (8 + 128)

    def error_bound(self) -> float:
        return self.cms.error_bound()

    # -- core -----------------------------------------------------------------

    def _check_itemtype(self, values: np.ndarray) -> bool:
        is_int = values.dtype.kind in "iu"
        if self.items_are_int is None:
            self.items_are_int = is_int
        elif self.items_are_int != is_int:
            raise TypeError("cannot mix int and string items in one CMSTopK")
        return is_int

    def update(self, values, counts=None) -> None:
        values = np.asarray(values)
        if len(values) == 0:
            return
        self._check_itemtype(values)
        self.cms.update(values, counts)
        uniq = np.unique(values)
        self._absorb(uniq.tolist(), self.cms.estimate(uniq))

    def _absorb(self, new_items: list, new_counts: np.ndarray) -> None:
        """Union candidates with (new_items, their current estimates), keep
        the ``track`` largest. Existing candidates keep their previous
        (possibly stale-lower) estimate unless re-estimated — callers that
        need exact current estimates re-estimate via heavy_hitters()."""
        pos = {it: i for i, it in enumerate(self.items)}
        items, counts = self.items, list(self.counts)
        for it, c in zip(new_items, new_counts):
            c = int(c)
            i = pos.get(it)
            if i is None:
                pos[it] = len(items)
                items.append(it)
                counts.append(c)
            elif c > counts[i]:
                counts[i] = c
        counts_arr = np.asarray(counts, dtype=np.int64)
        if len(items) > self.track:
            keep = np.argpartition(counts_arr, -self.track)[-self.track:]
            keep = keep[np.argsort(keep)]  # preserve stable order
            items = [items[i] for i in keep]
            counts_arr = counts_arr[keep]
        self.items, self.counts = items, counts_arr

    def merge(self, other: "CMSTopK") -> "CMSTopK":
        if self.track != other.track:
            raise ValueError("cannot merge CMSTopK with different track sizes")
        if (self.items_are_int is not None and other.items_are_int is not None
                and self.items_are_int != other.items_are_int):
            raise TypeError("cannot merge int-item and string-item CMSTopK")
        if self.items_are_int is None:
            self.items_are_int = other.items_are_int
        self.cms.merge(other.cms)
        union = list(dict.fromkeys(self.items + other.items))
        if union:
            # re-estimate EVERY candidate against the merged table: retained
            # estimates depend only on the merged CMS, not the merge order
            arr = self._items_array(union)
            est = self.cms.estimate(arr)
            self.items, self.counts = [], np.zeros(0, dtype=np.int64)
            self._absorb(union, est)
        return self

    def _items_array(self, items: list) -> np.ndarray:
        return (np.asarray(items, dtype=np.int64) if self.items_are_int
                else np.asarray(items, dtype=object))

    def heavy_hitters(self, k: int) -> list[tuple[object, int]]:
        """Top-k (item, estimate), estimates taken from the CURRENT table,
        sorted by estimate desc then item asc (deterministic)."""
        if not self.items:
            return []
        arr = self._items_array(self.items)
        est = self.cms.estimate(arr)
        order = sorted(range(len(self.items)),
                       key=lambda i: (-int(est[i]), str(self.items[i])))
        return [(self.items[i], int(est[i])) for i in order[:k]]

    # -- serde ------------------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        cms_payload = self.cms._payload_bytes()
        # canonical candidate order (estimate desc, item asc) so equal
        # logical states serialize byte-identically regardless of history
        hh = self.heavy_hitters(len(self.items)) if self.items else []
        counts = np.asarray([c for _, c in hh], dtype=np.int64)
        if self.items_are_int:
            items_blob = np.asarray([i for i, _ in hh], dtype=np.int64).tobytes()
        else:
            items_blob = json.dumps([i for i, _ in hh],
                                    separators=(",", ":")).encode("utf-8")
        head = _TK_HEADER.pack(self.track, len(hh),
                               1 if self.items_are_int else 0, len(cms_payload))
        return head + cms_payload + counts.tobytes() + items_blob

    @classmethod
    def _from_payload(cls, cur: Cursor) -> "CMSTopK":
        track, n_cand, is_int, cms_len = cur.unpack(_TK_HEADER)
        cms = CountMinSketch._from_payload(Cursor(cur.take(cms_len)))
        counts = cur.array(np.int64, n_cand).copy()
        if is_int:
            items = cur.array(np.int64, n_cand).tolist()
        else:
            try:
                items = json.loads(bytes(cur.rest()).decode("utf-8"))
            except ValueError as e:  # bad UTF-8 or JSON
                raise corrupt(f"CMSTopK items: {e}") from e
            if not isinstance(items, list) or len(items) != n_cand:
                raise corrupt(f"CMSTopK items do not match its {n_cand} counts")
        cur.end()
        return cls(track=track, _cms=cms, _items=items, _counts=counts,
                   _items_are_int=bool(is_int) if n_cand else None)
