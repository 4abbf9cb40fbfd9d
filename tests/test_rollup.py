"""Hypertable rollups (ops/rollup.py): state-identity for lattice
sketches, bound-respecting estimates for compaction sketches, single
raw-data scan."""

import pytest
from pyspark.sql import functions as F

from fever_spark.ops import SketchSpec, hll_estimate_col
from fever_spark.ops.rollup import WINDOW_COL, rollup_sketches
from fever_spark.sketch.base import sketch_from_bytes


@pytest.fixture(scope="module")
def events(spark):
    # 6 hours of events, 3 users per hour slot, distinct ids per row
    rows = []
    for h in range(6):
        for m in (0, 15, 40):
            for u in range(3):
                rows.append((f"u{u}", f"2026-03-01 {h:02d}:{m:02d}:00",
                             h * 100 + m + u))
    return spark.createDataFrame(rows, "lang string, s string, v long") \
        .select("lang", F.to_timestamp("s").alias("ts"),
                F.col("v").cast("double").alias("v"),
                F.concat(F.lit("id"), F.col("v").cast("string"))
                .alias("item"))


SPECS = [SketchSpec("u", "hll", "item", {"p": 12}),
         SketchSpec("f", "cms", "item", {"epsilon": 1e-3, "delta": 1e-2}),
         SketchSpec("q", "kll", "v", {"k": 128})]


class TestRollup:
    def test_lattice_states_identical_to_direct_build(self, spark, events):
        """hourly-from-hours ladder vs building DIRECTLY at the coarse
        resolution: HLL/CMS states must be byte-identical."""
        ladder = rollup_sketches(events, "ts", ["lang"], SPECS,
                                 ["1 hour", "3 hours"])
        direct = rollup_sketches(events, "ts", ["lang"], SPECS,
                                 ["3 hours"])["3 hours"]

        def states(df, kinds):
            return {(r["lang"], r[WINDOW_COL], r["sketch"]):
                    bytes(r["state"]) for r in df.collect()
                    if r["sketch"] in kinds}

        rolled = states(ladder["3 hours"], {"u", "f"})
        built = states(direct, {"u", "f"})
        # 6 hours / 3-hour windows = 2 windows x 3 langs x 2 sketches
        assert rolled == built and len(rolled) == 12

    def test_kll_estimates_within_bound(self, spark, events):
        ladder = rollup_sketches(events, "ts", ["lang"], SPECS,
                                 ["1 hour", "3 hours"])
        direct = rollup_sketches(events, "ts", ["lang"], SPECS,
                                 ["3 hours"])["3 hours"]

        def med(df):
            return {(r["lang"], r[WINDOW_COL]):
                    sketch_from_bytes(bytes(r["state"])).quantile(0.5)
                    for r in df.filter(F.col("sketch") == "q").collect()}

        a, b = med(ladder["3 hours"]), med(direct)
        assert a.keys() == b.keys()
        for k in a:  # k=128 rank error ~1.7%; values span ~±padding
            assert abs(a[k] - b[k]) <= 60, (k, a[k], b[k])

    def test_estimates_match_exact_counts(self, spark, events):
        ladder = rollup_sketches(events, "ts", ["lang"],
                                 [SPECS[0]], ["1 hour", "6 hours"])
        est = {(r["lang"], r[WINDOW_COL]): r["e"] for r in
               ladder["6 hours"]
               .withColumn("e", hll_estimate_col(F.col("state")))
               .collect()}
        exact = {(r["lang"], r["w"]): r["n"] for r in
                 events.groupBy("lang", F.window("ts", "6 hours")["start"]
                                .alias("w"))
                 .agg(F.countDistinct("item").alias("n")).collect()}
        assert est.keys() == exact.keys()
        for k, n in exact.items():
            assert abs(est[k] - n) / max(n, 1) < 0.05

    def test_misaligned_resolution_still_buckets(self, spark, events):
        # coarser MUST be a multiple of finest — aligned here; also check
        # the window column is a plain timestamp usable downstream
        ladder = rollup_sketches(events, "ts", [], [SPECS[0]],
                                 ["30 minutes", "1 hour"])
        kinds = ladder["1 hour"].select(WINDOW_COL).distinct().count()
        assert kinds == 6


class TestResolutionValidation:
    """Round-9: the aligned-buckets contract is now enforced, not just
    documented — unaligned rungs silently mis-bucketed before."""

    def test_unaligned_ladder_raises(self, spark, events):
        import pytest as _pt

        # not a multiple; equal rungs; each a multiple of the finest but
        # "3 hours" not a multiple of the rung below it
        for ladder in (["1 day", "36 hours"], ["1 day", "24 hours"],
                       ["1 hour", "2 hours", "3 hours"]):
            with _pt.raises(ValueError, match="integer multiple"):
                rollup_sketches(events, "ts", [], [SPECS[0]], ladder)

    def test_unparseable_resolution_raises(self, spark, events):
        import pytest as _pt

        with _pt.raises(ValueError, match="unparseable"):
            rollup_sketches(events, "ts", [], [SPECS[0]], ["1 fortnight"])
