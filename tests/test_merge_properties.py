"""Merge associativity + commutativity property tests (north_rule requirement,
BASELINE.json:14 "merge associativity/commutativity property tests").

Bloom / HLL / CMS merges are EXACT lattice operations (bitwise-or, max, sum)
— we assert byte-identical states under any re-ordering / re-association.
KLL / t-digest are only statistically stable across orders (SURVEY.md
§7.4.1), so for those we assert the algebraic invariants that do hold
exactly (total weight / n conservation) plus rank-error bounds under every
permutation and association.
"""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from fever_spark.sketch import (
    BloomFilter, CountMinSketch, HyperLogLog, KLLSketch, TDigest,
)


def value_chunks(draw_lists):
    return [np.array([f"v{i}" for i in chunk], dtype=object) for chunk in draw_lists]


chunk_strategy = st.lists(
    st.lists(st.integers(0, 500), min_size=0, max_size=200), min_size=3, max_size=3
)


def build(cls_factory, chunks):
    sketches = []
    for c in chunks:
        s = cls_factory()
        if len(c):
            s.update(c)
        sketches.append(s)
    return sketches


def merge_left(sketches):
    """(a+b)+c"""
    acc = sketches[0]
    for s in sketches[1:]:
        acc.merge(s)
    return acc


EXACT_FACTORIES = [
    lambda: BloomFilter(capacity=2000, fpp=1e-4, seed=11),
    lambda: HyperLogLog(p=8, seed=11),
    lambda: CountMinSketch(epsilon=1e-2, delta=0.1, seed=11),
    lambda: _kmv(k=64, seed=11),
]


def _kmv(**kw):
    from fever_spark.sketch import KMVSketch

    return KMVSketch(**kw)


@settings(max_examples=40, deadline=None)
@given(chunk_strategy)
def test_exact_sketches_associative(int_chunks):
    chunks = value_chunks(int_chunks)
    for factory in EXACT_FACTORIES:
        a1, b1, c1 = build(factory, chunks)
        left = a1.merge(b1).merge(c1)  # (a+b)+c
        a2, b2, c2 = build(factory, chunks)
        right = a2.merge(b2.merge(c2))  # a+(b+c)
        assert left.to_bytes() == right.to_bytes(), type(left).__name__


@settings(max_examples=40, deadline=None)
@given(chunk_strategy)
def test_exact_sketches_commutative(int_chunks):
    chunks = value_chunks(int_chunks)
    for factory in EXACT_FACTORIES:
        a1, b1, _ = build(factory, chunks)
        ab = a1.merge(b1)
        b2, a2 = build(factory, chunks[1::-1])  # build b then a
        ba = b2.merge(a2)
        assert ab.to_bytes() == ba.to_bytes(), type(ab).__name__


float_chunks_strategy = st.lists(
    st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
             min_size=0, max_size=300),
    min_size=3, max_size=3,
)


@settings(max_examples=25, deadline=None)
@given(float_chunks_strategy)
def test_kll_merge_order_invariants(chunks):
    arrs = [np.asarray(c, dtype=np.float64) for c in chunks]
    all_vals = np.concatenate(arrs) if any(len(a) for a in arrs) else np.empty(0)

    def build_kll(order):
        parts = []
        for i in order:
            s = KLLSketch(k=64, seed=7)
            if len(arrs[i]):
                s.update(arrs[i])
            parts.append(s)
        return merge_left(parts)

    for order in ([0, 1, 2], [2, 0, 1], [1, 2, 0]):
        acc = build_kll(order)
        # exact invariant: weight conservation under ANY merge order
        assert acc.n == len(all_vals)
        _, wt = acc._weighted_items()
        assert wt.sum() == len(all_vals)
        if len(all_vals) >= 10:
            sv = np.sort(all_vals)
            n = len(all_vals)
            for q in (0.25, 0.5, 0.75):
                est = acc.quantile(q)
                # duplicate-heavy inputs give the estimate a rank INTERVAL
                # [left, right] (e.g. all-equal input: any q maps to the
                # single value whose interval is [0, 1]); require q to fall
                # within that interval expanded by the error bound, not to
                # match the right-rank point.
                lo = np.searchsorted(sv, est, side="left") / n
                hi = np.searchsorted(sv, est, side="right") / n
                slack = max(2 * acc.rank_error(), 2.0 / n + 0.12)
                assert lo - slack <= q <= hi + slack


@settings(max_examples=25, deadline=None)
@given(float_chunks_strategy)
def test_tdigest_merge_order_invariants(chunks):
    arrs = [np.asarray(c, dtype=np.float64) for c in chunks]
    all_vals = np.concatenate(arrs) if any(len(a) for a in arrs) else np.empty(0)

    def build_td(order):
        parts = []
        for i in order:
            s = TDigest(delta=100)
            if len(arrs[i]):
                s.update(arrs[i])
            parts.append(s)
        return merge_left(parts)

    for order in ([0, 1, 2], [2, 1, 0]):
        acc = build_td(order)
        acc._flush()
        assert abs(acc.weights.sum() - len(all_vals)) < 1e-6
        if len(all_vals):
            # means stay inside the data range (weighted-average invariant)
            assert acc.means.min() >= all_vals.min() - 1e-9
            assert acc.means.max() <= all_vals.max() + 1e-9


@settings(max_examples=25, deadline=None)
@given(chunk_strategy)
def test_cmstopk_merge_order_invariants(chunks):
    """With track >= distinct keys, candidate pruning never fires and the
    heavy-hitter report is EXACTLY merge-order invariant (re-estimation on
    the merged CMS is a pure function of the summed table). Weight is
    conserved under any order; estimates never undercount."""
    from fever_spark.sketch import CMSTopK

    arrs = value_chunks(chunks)
    all_vals = (np.concatenate([a for a in arrs if len(a)])
                if any(len(a) for a in arrs) else np.empty(0, dtype=object))

    def build_order(order):
        acc = None
        for i in order:
            s = CMSTopK(epsilon=1e-3, delta=1e-2, track=1024)
            if len(arrs[i]):
                s.update(arrs[i])
            acc = s if acc is None else acc.merge(s)
        return acc

    reports = []
    for order in ([0, 1, 2], [2, 0, 1], [1, 2, 0]):
        acc = build_order(order)
        assert acc.total == len(all_vals)
        reports.append(acc.heavy_hitters(20))
    assert reports[0] == reports[1] == reports[2]
    if len(all_vals):
        import collections
        exact = collections.Counter(all_vals.tolist())
        for item, est in reports[0]:
            assert est >= exact[item]
            assert est - exact[item] <= build_order([0, 1, 2]).error_bound()


# ---------------------------------------------------------------- round 6
# KMV set-operation estimator properties: identities that hold EXACTLY on
# the bottom-k lattice for any inputs, plus the sampling bound on random
# overlapping sets.

kmv_sets = st.tuples(
    st.lists(st.integers(0, 3000), min_size=0, max_size=400),
    st.lists(st.integers(1500, 4500), min_size=0, max_size=400),
)


@settings(max_examples=30, deadline=None)
@given(kmv_sets)
# exact regime where J * |A u B| = 7/25 * 25 rounds to 7.000000000000001
@example(ab=([0, 1, 2, 3, 4, 5, 6, 7, 8, 1500, 1501, 1502, 1503, 1504, 1505,
              1506], list(range(1500, 1516))))
def test_kmv_setop_identities(ab):
    from fever_spark.sketch import (KMVSketch, kmv_intersection_estimate,
                                    kmv_jaccard, kmv_union_estimate)

    a_vals, b_vals = ab
    a, b = KMVSketch(k=64, seed=3), KMVSketch(k=64, seed=3)
    if a_vals:
        a.update(np.array([f"x{i}" for i in a_vals], dtype=object))
    if b_vals:
        b.update(np.array([f"x{i}" for i in b_vals], dtype=object))
    # symmetry, range, self-identity
    assert kmv_jaccard(a, b) == kmv_jaccard(b, a)
    assert 0.0 <= kmv_jaccard(a, b) <= 1.0
    assert kmv_intersection_estimate(a, b) == kmv_intersection_estimate(b, a)
    if len(a.hashes):
        assert kmv_jaccard(a, a) == 1.0
    # union >= each side's estimate is NOT guaranteed by the estimator,
    # but intersection <= union always is (it's J * union with J <= 1)
    assert kmv_intersection_estimate(a, b) <= kmv_union_estimate(a, b) + 1e-9
    # exact regime: union fits in k -> exact values
    sa, sb = {f"x{i}" for i in a_vals}, {f"x{i}" for i in b_vals}
    if len(sa | sb) <= 64 and (sa or sb):
        assert kmv_jaccard(a, b) == len(sa & sb) / len(sa | sb)
        assert kmv_intersection_estimate(a, b) == float(len(sa & sb))


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 10_000))
def test_kmv_jaccard_sampling_bound(seed_overlap):
    """Saturated regime: J estimate within 6*sqrt(J(1-J)/k) + 2/k of truth
    for planted 10k∪10k sets with variable overlap (loose, deterministic
    per overlap because the hash seed is fixed)."""
    from fever_spark.sketch import KMVSketch, kmv_jaccard

    n = 10_000
    ov = seed_overlap
    a, b = KMVSketch(k=1024, seed=5), KMVSketch(k=1024, seed=5)
    a.update(np.arange(0, n))
    b.update(np.arange(n - ov, 2 * n - ov))
    j_true = ov / (2 * n - ov)
    bound = 6 * (j_true * (1 - j_true) / 1024) ** 0.5 + 2 / 1024
    assert abs(kmv_jaccard(a, b) - j_true) <= bound


# --------------------------------------------------- driver union-find fuzz


@given(st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)),
                min_size=1, max_size=120))
@settings(max_examples=300, deadline=None)
def test_driver_components_match_scalar_union_find(edges):
    """The numpy hook-and-jump kernel behind near_dup_clusters' driver
    path must equal a scalar path-compressed union-find with min-root
    relabeling on EVERY random graph (self-loops and duplicates included)."""
    from fever_spark.operators.dedup import _components_roots

    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    got = dict(zip(*(x.tolist() for x in _components_roots(a, b))))

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in edges:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    want = {}
    for x in set(a.tolist()) | set(b.tolist()):
        root = find(x)
        # min reachable id = min member of the component
        want.setdefault(root, []).append(x)
    expect = {x: min(members) for root, members in want.items()
              for x in members}
    assert got == expect


def _states_pair(kind_b):
    a = HyperLogLog(p=12, seed=0)
    a.update(np.array(["x", "y"], dtype=object))
    if kind_b == "bad_version":
        b = bytearray(a.to_bytes())
        b[4] = 9  # format-version byte
        return a.to_bytes(), bytes(b)
    b = CountMinSketch(epsilon=1e-2, delta=0.1, seed=0)
    b.update(np.array(["x"], dtype=object))
    return a.to_bytes(), b.to_bytes()


@pytest.mark.parametrize("kind_b,match", [
    ("bad_version", "unsupported sketch version 9"),
    ("cms", r"cannot merge different sketch kinds: \['cms', 'hll'\]"),
])
def test_merge_many_checks_every_state_in_any_order(kind_b, match):
    """merge_many validated only states[0]; the fast paths read the rest
    unchecked, so a bad state passed or failed depending on its position."""
    from fever_spark.sketch.base import merge_many

    good, bad = _states_pair(kind_b)
    for states in ([good, bad], [bad, good]):
        with pytest.raises(ValueError, match=match):
            merge_many(states)


def test_merge_many_empty_raises():
    from fever_spark.sketch.base import merge_many

    with pytest.raises(ValueError, match="at least one state"):
        merge_many([])
