"""Spark integration tests for the build → two-level-merge pipeline.

Key invariant (SURVEY.md §7.1.3): the merged result is identical regardless
of salt factor and input partitioning — merge associativity "in anger".
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fever_spark.ops import (
    SketchSpec, build_sketches, two_level_merge,
    hll_estimate_col, cms_estimate_col, quantile_col, bloom_contains_col,
)
from fever_spark.ops.build import sketches_to_dict
from fever_spark.ops.merge import merge_to_driver
from fever_spark.sketch import BloomFilter, HyperLogLog


@pytest.fixture(scope="module")
def docs(spark, sf_med):
    return spark.read.parquet(f"{sf_med}/documents.parquet").cache()


@pytest.fixture(scope="module")
def events(spark, sf_med):
    return spark.read.parquet(f"{sf_med}/events.parquet").cache()


def test_hll_per_lang_within_bound(spark, docs):
    specs = [SketchSpec("distinct_docs", "hll", "doc_id", {"p": 12})]
    merged = two_level_merge(build_sketches(docs, ["lang"], specs), ["lang"])
    est = merged.withColumn("est", hll_estimate_col(F.col("state"))) \
        .select("lang", "est").collect()
    exact = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n")).collect()}
    bound = 4 * HyperLogLog(p=12).relative_error
    assert len(est) == len(exact)
    for row in est:
        rel = abs(row["est"] - exact[row["lang"]]) / exact[row["lang"]]
        assert rel <= bound, (row["lang"], row["est"], exact[row["lang"]])


def test_merge_invariant_to_salt_and_partitioning(spark, events):
    specs = [
        SketchSpec("users", "hll", "user_id", {"p": 10}),
        SketchSpec("types", "cms", "event_type", {"epsilon": 1e-3, "delta": 1e-2}),
        SketchSpec("members", "bloom", "user_id", {"capacity": 20000, "fpp": 1e-4}),
    ]

    def run(df, salt):
        merged = two_level_merge(build_sketches(df, ["event_type"], specs),
                                 ["event_type"], salt=salt)
        return {(r["event_type"], r["sketch"]): bytes(r["state"])
                for r in merged.collect()}

    base = run(events.repartition(4), salt=4)
    assert run(events.repartition(13), salt=1) == base
    assert run(events.repartition(2), salt=16) == base


def test_cms_estimates_vs_exact(spark, events):
    specs = [SketchSpec("type_counts", "cms", "event_type",
                        {"epsilon": 1e-4, "delta": 1e-3})]
    merged = two_level_merge(build_sketches(events, [], specs), [])
    exact = events.groupBy("event_type").count()
    probed = exact.crossJoin(merged.select("state")) \
        .withColumn("est", cms_estimate_col(F.col("state"), F.col("event_type"))) \
        .select("event_type", "count", "est").collect()
    n_total = events.count()
    for r in probed:
        assert r["est"] >= r["count"]  # CMS never undercounts
        assert r["est"] - r["count"] <= 1e-4 * n_total * 3


def test_kll_and_tdigest_quantiles_vs_exact(spark, events):
    specs = [SketchSpec("kll_value", "kll", "value", {"k": 200}),
             SketchSpec("td_value", "tdigest", "value", {"delta": 200.0})]
    merged = two_level_merge(build_sketches(events, [], specs), [])
    qs = [0.1, 0.5, 0.9]
    rows = {r["sketch"]: r["q"] for r in
            merged.withColumn("q", quantile_col(F.col("state"), qs))
            .select("sketch", "q").collect()}
    vals = np.array([r["value"] for r in events.select("value").collect()])
    svals = np.sort(vals)
    n = len(svals)
    for name, eps in (("kll_value", 2 * 2.296 / 200 ** 0.9), ("td_value", 0.02)):
        for q, est in zip(qs, rows[name]):
            true_rank = np.searchsorted(svals, est, side="right") / n
            assert abs(true_rank - q) <= eps, (name, q, true_rank)


def test_bloom_broadcast_filter_semi_join_parity(spark, docs):
    # Build filter over the doc_ids of one source, probe all docs; with zero
    # FN, might_contain ∧ exact-membership == exact semi-join (fever's
    # broadcast-side membership test, processing/flow_extractor.go:93-97).
    ids = [r["doc_id"] for r in
           docs.filter(F.col("source") == "web").select("doc_id").collect()]
    bf = BloomFilter(capacity=max(len(ids), 1), fpp=1e-6)
    bf.update(np.array(ids, dtype=np.int64))
    bc = spark.sparkContext.broadcast(bf.to_bytes())
    got = docs.filter(bloom_contains_col(bc, F.col("doc_id"))) \
        .select("doc_id").collect()
    got_ids = {r["doc_id"] for r in got}
    assert set(ids) <= got_ids  # zero false negatives
    # FP rate on the complement stays under bound (plus slack)
    n_non = docs.count() - len(ids)
    fps = len(got_ids - set(ids))
    assert fps <= max(3, 3 * 1e-6 * n_non)


def test_global_sketch_no_keys(spark, events):
    specs = [SketchSpec("all_users", "hll", "user_id", {"p": 12})]
    merged = two_level_merge(build_sketches(events, [], specs), [])
    assert merged.count() == 1
    sk = merge_to_driver(merged)
    exact = events.select("user_id").distinct().count()
    assert abs(sk.estimate() - exact) / exact <= 4 * sk.relative_error


def test_sketches_to_dict(spark, events):
    specs = [SketchSpec("u", "hll", "user_id", {"p": 8})]
    merged = two_level_merge(build_sketches(events, ["event_type"], specs),
                             ["event_type"])
    d = sketches_to_dict(merged, ["event_type"])
    assert all(k[-1] == "u" for k in d)
    assert len(d) == events.select("event_type").distinct().count()


def test_build_prunes_columns(spark, sf_med):
    # The stage-1 plan must read only key+value columns (SURVEY.md §4
    # projection-pushdown row). Clear the cache first: a cached full-table
    # read of the same path would otherwise substitute its InMemoryRelation
    # (all columns) into this plan.
    spark.catalog.clearCache()
    fresh = spark.read.parquet(f"{sf_med}/documents.parquet")
    specs = [SketchSpec("d", "hll", "doc_id", {"p": 8})]
    built = build_sketches(fresh, ["lang"], specs)
    plan = built._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan  # widest column must not be scanned


class TestReviewRegressions2:
    """Round-2 package-wide review fixes."""

    def test_null_weight_rows_dropped(self, spark):
        from fever_spark.ops import (SketchSpec, build_sketches,
                                     cms_estimate_col, two_level_merge)

        df = spark.createDataFrame(
            [("a", 2), ("a", None), ("b", 5)],
            "host string, bytes long")
        merged = two_level_merge(build_sketches(
            df, [], [SketchSpec("f", "cms", "host",
                                {"epsilon": 1e-3, "delta": 1e-3},
                                weight_column="bytes")]), [])
        probes = spark.createDataFrame([("a",), ("b",)], "item string")
        got = {r["item"]: r["est"] for r in
               merged.crossJoin(probes)
               .select("item", cms_estimate_col(F.col("state"),
                                                F.col("item")).alias("est"))
               .collect()}
        # NaN weight would have driven cells to INT64_MIN; CMS never
        # undercounts, so estimates must be >= the true weights
        assert got["a"] >= 2 and got["b"] >= 5

    def test_nullable_integral_key_column(self, spark):
        from fever_spark.ops import (SketchSpec, build_sketches,
                                     hll_estimate_col, two_level_merge)

        rows = [(None if i % 5 == 0 else i % 3, i) for i in range(300)]
        df = spark.createDataFrame(rows, "grp long, v long").repartition(6)
        merged = two_level_merge(build_sketches(
            df, ["grp"], [SketchSpec("d", "hll", "v", {"p": 12})]),
            ["grp"])
        got = {r["grp"]: r["est"] for r in
               merged.select("grp", F.round(hll_estimate_col(F.col("state")))
                             .alias("est")).collect()}
        # keys survive as proper longs + one null group, not NaN garbage
        assert set(got) == {None, 0, 1, 2}
        assert abs(got[None] - 60) <= 3

    def test_sharded_probe_merges_multiple_states(self, spark):
        """Pre-merge (multi-state-per-shard) frames must not lose members."""
        from fever_spark.ops import SketchSpec, build_sketches
        from fever_spark.ops.bloom_shard import (bloom_semi_join_sharded,
                                                 shard_col)

        iocs = spark.createDataFrame([(f"bad{i}",) for i in range(40)],
                                     "ioc string").repartition(4)
        hashed = iocs.select(shard_col(F.col("ioc"), 2).alias("shard"),
                             F.xxhash64("ioc").alias("h"))
        # NO two_level_merge: several partial states per shard
        states = build_sketches(
            hashed, ["shard"],
            [SketchSpec("i", "bloom", "h", {"capacity": 64, "fpp": 1e-6})]) \
            .select("shard", "state")
        probes = spark.createDataFrame(
            [(f"bad{i}",) for i in range(40)] + [("clean",)], "probe string")
        kept = {r["probe"] for r in bloom_semi_join_sharded(
            probes, states, "probe", 2).collect()}
        assert {f"bad{i}" for i in range(40)} <= kept  # zero FN

    def test_prehashed_empty_string_never_matches(self, spark):
        from fever_spark.ops.bloom_match import (bloom_match_pages,
                                                 build_ioc_filter_prehashed)

        # feed with a stray empty line; page whose path probe is ''
        bf = build_ioc_filter_prehashed(spark, ["", "evil.example"])
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        pages = spark.createDataFrame(
            [("https://ok.example", "2024-01-01T00:00:00Z")],
            "url string, warc_ts string")
        alerts = bloom_match_pages(pages, bc, prehashed=True).collect()
        assert alerts == []  # '' must test False, exactly like the raw path

    def test_bloom_fill_ratio_partial_byte(self):
        import numpy as np
        from fever_spark.sketch import BloomFilter

        bf = BloomFilter(capacity=5, fpp=0.4)  # small m, not byte-aligned
        bf.update(np.array(["a", "b", "c"], dtype=object))
        bits_set = int(np.unpackbits(bf.bits, bitorder="little")[:bf.m].sum())
        assert bf.info()["fill_ratio"] == bits_set / bf.m

    def test_lsh_bands_clamped_to_signature(self, spark, sf_small):
        from fever_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(60)
        sigs = dedup.minhash_signatures(docs, num_hashes=16)
        # bands=64 > 16 hashes: must NOT degenerate into all-pairs
        cand = dedup.lsh_candidate_pairs(sigs, bands=64)
        n_docs = 60
        assert cand.count() < n_docs * (n_docs - 1) / 2


class TestBoundedBuildMemory:
    """build_sketches memory budget: overflowing the in-task group map must
    emit extra partials (bounding memory for high-cardinality keys at
    scale), and the post-merge result must be identical to the unbounded
    build — the flushed partials are just more states for the same keys."""

    def test_flush_preserves_merged_result(self, spark, events):
        # ~200 distinct keys per partition vs the 16-group floor the 1-byte
        # budget forces -> every task flushes ~12x on real testdata
        ev = events.withColumn("grp", F.pmod(F.col("user_id"), F.lit(200)))
        specs = [SketchSpec("u", "hll", "event_id", {"p": 12})]
        ref = {r["grp"]: r["est"] for r in two_level_merge(
            build_sketches(ev, ["grp"], specs), ["grp"])
            .withColumn("est", F.round(hll_estimate_col(F.col("state")), 4))
            .collect()}
        assert len(ref) > 16  # enough groups to overflow the floored cap

        bounded = build_sketches(ev, ["grp"], specs, memory_budget_bytes=1)
        got = {r["grp"]: r["est"] for r in two_level_merge(bounded, ["grp"])
               .withColumn("est", F.round(hll_estimate_col(F.col("state")), 4))
               .collect()}
        assert got == ref

    def test_flush_emits_extra_partials(self, spark):
        import pandas as pd

        # 64 distinct keys, ONE partition, small Arrow batches: the 1-byte
        # budget floors the cap at 16 groups, so every batch flushes the
        # map ~4x and each key re-enters on the next batch -> strictly more
        # partials than the unbounded one-per-key build
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        try:
            df = spark.createDataFrame(
                pd.DataFrame({"k": [f"k{i:02d}" for i in range(64)] * 10,
                              "v": list(range(640))})).repartition(1)
            specs = [SketchSpec("u", "hll", "v", {"p": 12})]
            partials = build_sketches(df, ["k"], specs, memory_budget_bytes=1)
            n_partials = partials.count()
            assert n_partials > 64, n_partials
            # unbounded build from one partition: one partial per key
            assert build_sketches(df, ["k"], specs).count() == 64
            merged = two_level_merge(partials, ["k"])
            est = merged.withColumn(
                "est", F.round(hll_estimate_col(F.col("state")))).collect()
            assert len(est) == 64
            assert all(abs(r["est"] - 10) <= 1 for r in est)
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


class TestKMVSetOpColumns:
    """Round-6: kmv_jaccard_col / kmv_intersection_col — KMV set-operation
    estimators as column ops over merged states, gated against exact
    overlap on planted saturated sets."""

    def test_planted_overlap_within_bound(self, spark):
        from fever_spark.ops import (kmv_intersection_col, kmv_jaccard_col)

        # two groups of 12k ids overlapping in [8000, 12000) -> J = 1/4
        df = spark.range(16_000).select(
            F.when(F.col("id") < 12_000, "a").otherwise(None).alias("ga"),
            F.when(F.col("id") >= 8_000, "b").otherwise(None).alias("gb"),
            F.col("id").cast("string").alias("v"))
        rows = df.select(F.explode(F.array_compact(
            F.array("ga", "gb"))).alias("g"), "v")
        merged = two_level_merge(
            build_sketches(rows.repartition(8), ["g"],
                           [SketchSpec("s", "kmv", "v", {"k": 512})]),
            ["g"])
        a = merged.filter(F.col("g") == "a").select(
            F.col("state").alias("sa"))
        b = merged.filter(F.col("g") == "b").select(
            F.col("state").alias("sb"))
        [r] = (a.crossJoin(b).select(
            kmv_jaccard_col(F.col("sa"), F.col("sb")).alias("j"),
            kmv_intersection_col(F.col("sa"), F.col("sb")).alias("i"))
            .collect())
        assert abs(r["j"] - 0.25) < 4 * (0.25 * 0.75 / 512) ** 0.5 + 0.02
        assert abs(r["i"] - 4_000) / 4_000 < 0.25

    def test_exact_below_k(self, spark):
        from fever_spark.ops import kmv_intersection_col, kmv_jaccard_col

        df = spark.createDataFrame(
            [("a", str(i)) for i in range(60)]
            + [("b", str(i)) for i in range(30, 90)], "g string, v string")
        merged = two_level_merge(
            build_sketches(df.repartition(5), ["g"],
                           [SketchSpec("s", "kmv", "v", {"k": 256})]),
            ["g"])
        a = merged.filter(F.col("g") == "a").select(F.col("state").alias("sa"))
        b = merged.filter(F.col("g") == "b").select(F.col("state").alias("sb"))
        [r] = (a.crossJoin(b).select(
            kmv_jaccard_col(F.col("sa"), F.col("sb")).alias("j"),
            kmv_intersection_col(F.col("sa"), F.col("sb")).alias("i"))
            .collect())
        # union (90) fits in k=256 -> both estimates are EXACT
        assert r["j"] == 30 / 90
        assert r["i"] == 30.0


class TestSaltedMergeSkewBalance:
    """Round-6: the MECHANISM gate for 'skew handled explicitly' — under a
    planted 90%-hot group key, the level-1 salt must fan the hot key's
    partials across min(salt, partitions) reducer groups with near-even
    bucket sizes, so no single reducer merges the whole hot key."""

    def test_hot_key_partials_fan_out(self, spark):
        df = spark.range(100_000).select(
            F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("g"),
            F.col("id").cast("string").alias("v")).repartition(16)
        built = build_sketches(df, ["g"],
                               [SketchSpec("s", "hll", "v", {"p": 12})])
        salt = 8
        buckets = (built.withColumn(
            "__salt", F.pmod(F.spark_partition_id(), F.lit(salt)))
            .filter(F.col("g") == "hot")
            .groupBy("__salt").agg(F.count(F.lit(1)).alias("n"))
            .collect())
        sizes = sorted(r["n"] for r in buckets)
        # 16 partitions x 1 hot partial each -> 8 buckets of exactly 2
        assert len(buckets) == salt
        assert sizes[-1] <= -(-16 // salt) + 1  # max bucket ~ partitions/salt
        # and the merged result over the skewed input is still correct
        from fever_spark.ops import hll_estimate_col
        merged = two_level_merge(built, ["g"], salt=salt)
        [hot] = (merged.filter(F.col("g") == "hot")
                 .select(hll_estimate_col(F.col("state")).alias("e"))
                 .collect())
        assert abs(hot["e"] - 90_000) / 90_000 < 3 * 1.04 / (2 ** 12) ** 0.5


class TestMergeShape:
    """two_level_merge has one path: the vectorized collect_list merge over
    a ``keys + [sketch, state]`` frame."""

    @pytest.fixture(scope="class")
    def built(self, spark):
        df = spark.range(2000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.col("id").cast("string").alias("v"))
        return build_sketches(df.repartition(4), ["g"],
                              [SketchSpec("s", "hll", "v", {"p": 12})])

    @pytest.mark.parametrize("salt", [1, 4])
    def test_extra_column_raises(self, built, salt):
        with pytest.raises(ValueError, match="tag"):
            two_level_merge(built.withColumn("tag", F.lit("chunk7")), ["g"],
                            salt=salt)

    @pytest.mark.parametrize("salt,exchanges", [(1, 1), (4, 2)])
    def test_plan_exchanges(self, built, salt, exchanges):
        plan = (two_level_merge(built, ["g"], salt=salt)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") == exchanges, plan
        assert "FlatMapGroupsInPandas" not in plan
