"""Sketch kernels timed on the driver over a fixed seeded sample: update
cost per item, merge cost per pair of states and serialized state size, the
update/merge/state-size axes of quantile-sketch experiments. The same run
checks each kernel's estimate against the exact answer."""

from __future__ import annotations

import time

import numpy as np

import checks
from fever_spark.sketch import (BloomFilter, CMSTopK, CountMinSketch,
                                HyperLogLog, KLLSketch, KMVSketch, TDigest)

N = 100_000
REPEATS = 3
HLL_P, CMS_EPS, CMS_DELTA, KLL_K, TD_DELTA = 14, 1e-3, 1e-3, 200, 200.0

MAKERS = {
    "hll": lambda: HyperLogLog(p=HLL_P),
    "cms": lambda: CountMinSketch(epsilon=CMS_EPS, delta=CMS_DELTA),
    "cmstopk": lambda: CMSTopK(epsilon=CMS_EPS, delta=CMS_DELTA, track=80),
    "kll": lambda: KLLSketch(k=KLL_K),
    "tdigest": lambda: TDigest(delta=TD_DELTA),
    "kmv": lambda: KMVSketch(k=256),
}
NUMERIC = {"kll", "tdigest"}
MERGED = ("hll", "cms", "kll", "tdigest")


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return float(np.median(times))


def sample(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Zipfian string items (hosts) and log-normal sizes."""
    rng = np.random.default_rng(seed)
    ranks = np.minimum(rng.zipf(1.2, size=N), 50_000)
    items = np.char.add("host", ranks.astype(str)).astype(object)
    return items, rng.lognormal(6, 1.2, size=N)


def run(seed: int) -> tuple[dict, list[str]]:
    """Return (metrics, correctness failures)."""
    items, values = sample(seed)
    metrics, failures, built = {}, [], {}
    for kind, make in MAKERS.items():
        data = values if kind in NUMERIC else items

        def update(kind=kind, make=make, data=data):
            built[kind] = make()
            built[kind].update(data)

        metrics[f"sketch.{kind}.update_ns"] = _median_time(update) / N * 1e9

    half = N // 2
    for kind in MERGED:
        data = values if kind in NUMERIC else items
        a, b = MAKERS[kind](), MAKERS[kind]()
        a.update(data[:half])
        b.update(data[half:])
        sa, sb = a.to_bytes(), b.to_bytes()
        times = []
        for _ in range(REPEATS * 4):
            x, y = type(a).from_bytes(sa), type(b).from_bytes(sb)
            t = time.perf_counter()
            x.merge(y)
            times.append(time.perf_counter() - t)
        metrics[f"sketch.{kind}.merge_us"] = float(np.median(times)) * 1e6
        metrics[f"sketch.{kind}.state_kb"] = len(built[kind].to_bytes()) / 1e3

    uniq, counts = np.unique(items.astype(str), return_counts=True)
    failures += checks.hll_within_bound(
        {"all": built["hll"].estimate()}, {"all": len(uniq)}, HLL_P)
    top = np.argsort(counts)[::-1][:2000]
    est = built["cms"].estimate(uniq[top].astype(object))
    failures += checks.cms_within_bound(
        dict(zip(uniq[top], est.tolist())),
        dict(zip(uniq[top], counts[top].tolist())), CMS_EPS, CMS_DELTA)
    qs = (0.01, 0.1, 0.5, 0.9, 0.99)
    svals = np.sort(values)
    failures += checks.rank_within(
        svals, {q: float(built["kll"].quantile(q)) for q in qs},
        checks.kll_bound(built["kll"].rank_error()), "kll")
    failures += checks.rank_within(
        svals, {q: float(built["tdigest"].quantile(q)) for q in qs},
        checks.tdigest_bound(TD_DELTA), "tdigest")

    bloom = BloomFilter(capacity=len(uniq), fpp=1e-6)
    bloom.update(uniq.astype(object))
    probe = items[: N // 4]
    metrics["sketch.bloom.contains_ns"] = _median_time(
        lambda: bloom.contains(probe)) / len(probe) * 1e9
    hits = bloom.contains(probe)
    failures += checks.no_false_negatives(
        {"members": int(np.count_nonzero(hits))}, {"members": len(probe)},
        "bloom")
    return metrics, failures
