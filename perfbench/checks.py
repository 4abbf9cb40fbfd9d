"""Correctness checks of workload outputs against exact references.

Every check is a pure function of plain Python/numpy values (no Spark) and
returns a list of failure messages; an empty list means the output is
correct. The benchmark's tests feed each check a tampered output and expect
a failure.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np


def hll_within_bound(estimates: dict, exact: dict, p: int) -> list[str]:
    """HLL estimate per key within 3 standard errors (3 * 1.04 / sqrt(2^p))
    of the exact distinct count."""
    tol = 3 * 1.04 / math.sqrt(2 ** p)
    out = []
    for key, true in exact.items():
        est = estimates.get(key)
        if est is None:
            out.append(f"hll: no estimate for {key!r}")
        elif abs(est - true) > tol * true:
            out.append(f"hll: {key!r} estimate {est:.1f} vs exact {true} "
                       f"outside +-{tol:.4f}")
    return out


def cms_within_bound(estimates: dict, exact: dict, epsilon: float,
                     delta: float) -> list[str]:
    """Count-min: never under-counts; over-counts by at most epsilon*N.

    The epsilon*N bound holds per item with probability 1 - delta, so up to
    10*delta of the items may exceed it (the repo's kernel test uses the
    same allowance)."""
    n = sum(exact.values())
    out = []
    over_bound = 0
    for key, true in exact.items():
        est = estimates.get(key)
        if est is None:
            out.append(f"cms: no estimate for {key!r}")
        elif est < true:
            out.append(f"cms: {key!r} under-counted: {est} < {true}")
        elif est - true > epsilon * n:
            over_bound += 1
    if exact and over_bound > 10 * delta * len(exact):
        out.append(f"cms: {over_bound}/{len(exact)} items over-counted by "
                   f"more than epsilon*N = {epsilon * n:.1f}")
    return out


def rank_within(sorted_values: np.ndarray, quantiles: dict,
                bound, name: str) -> list[str]:
    """Every estimated q-quantile has true rank within ``bound(q)`` of q."""
    n = len(sorted_values)
    out = []
    for q, est in quantiles.items():
        rank = np.searchsorted(sorted_values, est, side="right") / n
        if abs(rank - q) > bound(q):
            out.append(f"{name}: q={q} estimate {est} has rank {rank:.4f}, "
                       f"allowed +-{bound(q):.4f}")
    return out


def kll_bound(rank_error: float):
    """KLL: 1.5x the published normalized rank error (as the repo's tests)."""
    return lambda q: 1.5 * rank_error


def tdigest_bound(delta: float):
    """t-digest: error scales with q(1-q)/delta (as the repo's tests)."""
    return lambda q: max(0.005, 8 * q * (1 - q) / delta)


def no_false_negatives(found: dict, expected: dict, what: str) -> list[str]:
    """Bloom matching: every exact match is found (false positives may only
    add to a count, never take from it)."""
    return [f"{what}: {k} found {found.get(k, 0)} < exact {v}"
            for k, v in expected.items() if found.get(k, 0) < v]


def texts_identical(extracted: dict, reference: dict) -> list[str]:
    """Extracted text is byte-identical to the generator's text per url."""
    out = []
    missing = reference.keys() - extracted.keys()
    extra = extracted.keys() - reference.keys()
    if missing:
        out.append(f"text: {len(missing)} urls not extracted")
    if extra:
        out.append(f"text: {len(extra)} unexpected urls")
    bad = [u for u in reference.keys() & extracted.keys()
           if extracted[u] != reference[u]]
    if bad:
        out.append(f"text: {len(bad)} urls differ, e.g. {sorted(bad)[0]}")
    return out


def curated_counts(manifest: dict, shards: dict, shard_rows: int,
                   curated_rows: int, exact_survivors: int) -> list[str]:
    """Exact dedup leaves exactly the reference's distinct texts, the
    manifest's count matches the curated rows on disk, and shard totals
    match the written rows."""
    out = []
    counts = manifest["counts"]
    if counts["after_exact_dedup"] != exact_survivors:
        out.append(f"curate: exact dedup left {counts['after_exact_dedup']} "
                   f"docs, reference {exact_survivors}")
    written = counts["written"]
    if written != curated_rows:
        out.append(f"curate: manifest says {written} docs written, "
                   f"{curated_rows} rows on disk")
    if shards["total_docs"] != written:
        out.append(f"shards: manifest total {shards['total_docs']} != "
                   f"curated {written}")
    per_shard = sum(s["docs"] for s in shards["shards"])
    if per_shard != shards["total_docs"]:
        out.append(f"shards: per-shard docs sum {per_shard} != total "
                   f"{shards['total_docs']}")
    if shard_rows != shards["total_docs"]:
        out.append(f"shards: {shard_rows} rows on disk != total "
                   f"{shards['total_docs']}")
    return out


def one_per_family(kept_urls: list, family: dict, n_families: int,
                   max_missed: int) -> list[str]:
    """Curate keeps one document per base page. Every family (a base page,
    its exact re-crawls and its near-dups) keeps at least one document, so
    no distinct page is lost; at most ``max_missed`` planted near-dups
    survive beside their base page, because MinHash estimates Jaccard
    similarity and may score a true near-dup under the threshold."""
    out = []
    unknown = [u for u in kept_urls if u not in family]
    if unknown:
        out.append(f"curate: {len(unknown)} kept urls not in the input, "
                   f"e.g. {sorted(unknown)[0]}")
    kept = Counter(family[u] for u in kept_urls if u in family)
    if len(kept) != n_families:
        out.append(f"curate: {n_families - len(kept)} of {n_families} "
                   f"distinct pages lost every copy")
    extra = sum(kept.values()) - len(kept)
    if extra > max_missed:
        out.append(f"curate: {extra} planted duplicates kept, at most "
                   f"{max_missed} allowed")
    return out


def all_events(summary: dict, expected: int) -> list[str]:
    """The daemon processed every input event."""
    if summary["events"] != expected:
        return [f"eve: processed {summary['events']} of {expected} events"]
    return []


def all_triggers(summary: dict) -> list[str]:
    """Progress was read for every micro-batch the daemon ran."""
    seen = sorted(t["batch"] for t in summary["triggers"])
    if seen != sorted(summary["batch_ids"]):
        return [f"eve: progress for batches {seen}, daemon ran "
                f"{sorted(summary['batch_ids'])}"]
    return []
