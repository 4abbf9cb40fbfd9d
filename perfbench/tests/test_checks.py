"""Each correctness check passes on a right output and fails on a tampered
one."""

import numpy as np

import checks


def test_hll_bound():
    exact = {"http": 1000, "dns": 50}
    assert checks.hll_within_bound({"http": 1010.0, "dns": 50.4}, exact,
                                   12) == []
    # p=12: tolerance 3 * 1.04 / 64 = 4.9%
    assert checks.hll_within_bound({"http": 1060.0, "dns": 50.0}, exact, 12)
    assert checks.hll_within_bound({"http": 1000.0}, exact, 12)


def test_cms_bound():
    exact = {f"h{i}": 100 + i for i in range(100)}
    right = {k: v + 3 for k, v in exact.items()}
    assert checks.cms_within_bound(right, exact, 1e-3, 1e-3) == []
    under = dict(right, h7=exact["h7"] - 1)
    assert checks.cms_within_bound(under, exact, 1e-3, 1e-3)
    # epsilon*N = 1e-3 * 14950 ~ 15; two items over it is above 10*delta*100
    over = dict(right, h1=exact["h1"] + 50, h2=exact["h2"] + 50)
    assert checks.cms_within_bound(over, exact, 1e-3, 1e-3)


def test_rank_bounds():
    values = np.sort(np.random.default_rng(0).lognormal(6, 1.2, 50_000))
    true = {q: float(np.quantile(values, q)) for q in (0.1, 0.5, 0.9)}
    kll = checks.kll_bound(0.0196)
    assert checks.rank_within(values, true, kll, "kll") == []
    shifted = {**true, 0.5: float(np.quantile(values, 0.6))}
    assert checks.rank_within(values, shifted, kll, "kll")
    td = checks.tdigest_bound(200.0)
    assert checks.rank_within(values, true, td, "tdigest") == []
    assert checks.rank_within(values, shifted, td, "tdigest")


def test_bloom_no_false_negatives():
    exact = {"http-host": 10, "dns-req": 4}
    assert checks.no_false_negatives({"http-host": 11, "dns-req": 4}, exact,
                                     "eve") == []
    assert checks.no_false_negatives({"http-host": 9, "dns-req": 4}, exact,
                                     "eve")
    assert checks.no_false_negatives({"http-host": 10}, exact, "eve")


def test_texts_identical():
    ref = {"u1": "a b c", "u2": "d e"}
    assert checks.texts_identical(dict(ref), ref) == []
    assert checks.texts_identical({"u1": "a b c", "u2": "d e "}, ref)
    assert checks.texts_identical({"u1": "a b c"}, ref)
    assert checks.texts_identical(dict(ref, u3="x"), ref)


def test_curated_counts():
    manifest = {"counts": {"after_exact_dedup": 33, "written": 30}}
    shards = {"total_docs": 30, "shards": [{"docs": 20}, {"docs": 10}]}
    assert checks.curated_counts(manifest, shards, 30, 30, 33) == []
    assert checks.curated_counts(manifest, shards, 30, 30, 32)
    assert checks.curated_counts(manifest, shards, 30, 31, 33)
    assert checks.curated_counts(manifest, dict(shards, total_docs=29), 30,
                                 30, 33)
    assert checks.curated_counts(
        manifest, dict(shards, shards=[{"docs": 20}, {"docs": 9}]), 30, 30,
        33)
    assert checks.curated_counts(manifest, shards, 29, 30, 33)


def test_one_per_family():
    family = {"a": 0, "a-recrawl": 0, "b": 1, "b-near": 1, "c": 2,
              "c-near": 2}
    assert checks.one_per_family(["a-recrawl", "b", "c-near"], family, 3,
                                 0) == []
    # a missed near-dup is allowed up to max_missed
    kept = ["a", "b", "b-near", "c"]
    assert checks.one_per_family(kept, family, 3, 1) == []
    assert checks.one_per_family(kept, family, 3, 0)
    # a distinct page lost, even when a missed near-dup keeps the count
    assert checks.one_per_family(["a", "b", "b-near"], family, 3, 1)
    assert checks.one_per_family(["a", "b", "c", "z"], family, 3, 1)


def test_eve_every_event_and_trigger():
    summary = {"events": 100, "batch_ids": [0, 1],
               "triggers": [{"batch": 1}, {"batch": 0}]}
    assert checks.all_events(summary, 100) == []
    assert checks.all_events(dict(summary, events=99), 100)
    assert checks.all_triggers(summary) == []
    assert checks.all_triggers(dict(summary, triggers=[{"batch": 0}]))
