"""JVM-native sketch path (ops/jvm_sketch.py): parity with the Python
engine's semantics, accuracy bounds vs exact aggregates, cross-job union
algebra, and loud cross-format failures."""

import os

import pytest
import pyspark.sql.functions as F

from fever_spark.ops import (
    SketchSpec, build_sketches, jvm_cms_estimate, jvm_cms_merge,
    jvm_hll_estimate_col, jvm_hll_union, jvm_sketches, two_level_merge,
)

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def test_hll_bound_vs_exact(spark, events):
    specs = [SketchSpec("du", "hll", "user_id", {"p": 14})]
    est = (jvm_sketches(events, ["event_type"], specs)
           .withColumn("est", jvm_hll_estimate_col(F.col("state")))
           .select("event_type", "est"))
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"))
    rows = est.join(exact, "event_type").collect()
    assert rows
    # DataSketches HLL at lgK=14: rse ~= 1.04/sqrt(2^14); allow 4 sigma
    tol = 4 * 1.04 / (2 ** 14) ** 0.5
    for r in rows:
        assert abs(r["est"] - r["exact"]) <= max(tol * r["exact"], 2.0), r


def test_group_set_matches_python_engine(spark, events):
    specs = [SketchSpec("du", "hll", "user_id", {"p": 12})]
    jvm_groups = {tuple(r) for r in jvm_sketches(
        events, ["event_type"], specs).select("event_type").collect()}
    py_groups = {tuple(r) for r in two_level_merge(
        build_sketches(events, ["event_type"], specs), ["event_type"])
        .select("event_type").collect()}
    assert jvm_groups == py_groups and jvm_groups


def test_null_and_empty_semantics(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None), (None, "y")],
        "k string, v string")
    specs = [SketchSpec("du", "hll", "v", {"p": 10})]
    rows = {r["k"]: r for r in jvm_sketches(df, ["k"], specs)
            .withColumn("est", jvm_hll_estimate_col(F.col("state")))
            .collect()}
    # null key is a group (groupby dropna=False parity); all-null group
    # yields an EMPTY state estimating 0, not a null state
    assert set(rows) == {"a", "b", None}
    assert rows["b"]["state"] is not None and rows["b"]["est"] == 0
    assert rows["a"]["est"] == 1 and rows[None]["est"] == 1
    empty = spark.createDataFrame([], "k string, v string")
    assert jvm_sketches(empty, ["k"], specs).count() == 0


def test_cms_bound_vs_exact(spark, events):
    specs = [SketchSpec("f", "cms", "event_type",
                        {"epsilon": 1e-3, "delta": 1e-3})]
    state = bytes(jvm_sketches(events, [], specs).collect()[0]["state"])
    exact = dict(events.groupBy("event_type").count().collect())
    n = events.count()
    ests = jvm_cms_estimate(spark, state, list(exact))
    for (item, true_c), est in zip(exact.items(), ests):
        assert true_c <= est <= true_c + 1e-3 * n, (item, true_c, est)


def test_hll_union_equals_single_build(spark, events):
    specs = [SketchSpec("du", "hll", "user_id", {"p": 14})]
    whole = (jvm_sketches(events, [], specs)
             .withColumn("est", jvm_hll_estimate_col(F.col("state")))
             .collect()[0]["est"])
    parts = events.randomSplit([0.5, 0.5], seed=7)
    partials = jvm_sketches(parts[0], [], specs).unionAll(
        jvm_sketches(parts[1], [], specs))
    merged = (jvm_hll_union(partials, [])
              .withColumn("est", jvm_hll_estimate_col(F.col("state")))
              .collect())
    assert len(merged) == 1
    # union-of-splits estimates the same set; identical lgK → tight
    assert abs(merged[0]["est"] - whole) <= 0.02 * whole


def test_cms_merge_equals_single_build(spark):
    df = spark.range(0, 20_000).select(
        (F.col("id") % 97).cast("long").alias("v"))
    specs = [SketchSpec("f", "cms", "v", {"epsilon": 1e-3, "delta": 1e-3})]
    whole = bytes(jvm_sketches(df, [], specs).collect()[0]["state"])
    lo = bytes(jvm_sketches(df.filter("id < 10000"), [], specs)
               .collect()[0]["state"])
    hi = bytes(jvm_sketches(df.filter("id >= 10000"), [], specs)
               .collect()[0]["state"])
    merged = jvm_cms_merge(spark, [lo, hi])
    items = list(range(0, 97, 7))
    # cell-wise table addition with a shared seed: exact agreement
    assert jvm_cms_estimate(spark, merged, items) == \
        jvm_cms_estimate(spark, whole, items)


def test_eager_validation(spark, events):
    with pytest.raises(ValueError, match="no JVM aggregate"):
        jvm_sketches(events, [], [SketchSpec("q", "kll", "amount")])
    with pytest.raises(ValueError, match="weight_column"):
        jvm_sketches(events, [], [SketchSpec(
            "f", "cms", "event_type", weight_column="amount")])
    with pytest.raises(ValueError, match="lgConfigK"):
        jvm_sketches(events, [], [SketchSpec("d", "hll", "user_id",
                                             {"p": 25})])
    with pytest.raises(ValueError, match="at least one spec"):
        jvm_sketches(events, [], [])
    with pytest.raises(ValueError, match="duplicate"):
        jvm_sketches(events, [], [
            SketchSpec("d", "hll", "user_id"),
            SketchSpec("d", "cms", "event_type")])


def test_cross_format_states_fail_loudly(spark, events):
    from fever_spark.sketch.base import sketch_from_bytes

    specs = [SketchSpec("du", "hll", "user_id", {"p": 12})]
    jvm_state = bytes(jvm_sketches(events, [], specs).collect()[0]["state"])
    # fever envelope parser must refuse DataSketches bytes...
    with pytest.raises(ValueError):
        sketch_from_bytes(jvm_state)
    # ...and the JVM estimator must refuse fever-format bytes (surfaces
    # as a Spark execution error, not a silent wrong estimate)
    py_state = bytes(two_level_merge(
        build_sketches(events, [], specs), []).collect()[0]["state"])
    bad = spark.createDataFrame([(py_state,)], "state binary")
    with pytest.raises(Exception):
        bad.select(jvm_hll_estimate_col(F.col("state"))).collect()


def test_plan_shape_partial_agg_below_single_exchange(spark, events):
    """Optimizer-level scale gate (the round-7 partial_min pattern): the
    JVM engine's whole pitch is that Tungsten performs the two-level
    combine itself — partial sketch aggregation map-side, ONE groups-only
    shuffle, final merge above it. Pin that shape so a future refactor
    can't silently demote it to a row shuffle (which at 10^12 rows is the
    difference between shuffling O(groups x state) and O(rows))."""
    out = jvm_sketches(events, ["event_type"], [
        SketchSpec("u", "hll", "user_id", {"p": 12}),
        SketchSpec("c", "cms", "event_type")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_hll_sketch_agg" in plan
    assert "partial_count_min_sketch" in plan
    assert plan.count("Exchange") == 1
    # the partials sit BELOW the exchange: map-side combine, so the
    # shuffle carries one state per (task, group), never input rows
    assert plan.index("partial_hll_sketch_agg") > plan.index("Exchange")
    # and no Python boundary anywhere in the plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_jvm_quantiles_rank_bound(spark, events):
    """approx_percentile's GK guarantee: the returned element's true rank
    is within 1/accuracy of the target (plus 1/n discreteness slack)."""
    from fever_spark.ops.jvm_sketch import jvm_quantiles

    probs = [0.1, 0.5, 0.9]
    acc = 1000
    got = jvm_quantiles(events, ["event_type"], "value", probs, acc).collect()
    assert got
    sizes = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type").agg(F.count("*").alias("n"))
             .collect()}
    for r in got:
        # true rank of each estimate in ONE pass per group
        ranks = events.filter(F.col("event_type") == r["event_type"]).agg(
            *[F.avg((F.col("value") <= F.lit(float(v))).cast("double"))
              .alias(f"r{i}") for i, v in enumerate(r["q"])]).first()
        eps = 1.0 / acc + 1.0 / sizes[r["event_type"]]
        for i, p in enumerate(probs):
            assert abs(ranks[f"r{i}"] - p) <= eps, (r["event_type"], p)


def test_jvm_quantiles_null_and_validation(spark):
    from fever_spark.ops.jvm_sketch import jvm_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None)], "k string, v double")
    rows = {r["k"]: r["q"] for r in
            jvm_quantiles(df, ["k"], "v", [0.5]).collect()}
    assert rows["a"] == [1.0]      # nulls skipped
    assert rows["b"] is None       # all-null group -> null, not a crash
    # global (no keys) shape: one row, array of len(probs)
    g = jvm_quantiles(df, [], "v", [0.1, 0.9]).collect()
    assert len(g) == 1 and len(g[0]["q"]) == 2
    with pytest.raises(ValueError, match="at least one probability"):
        jvm_quantiles(df, [], "v", [])
    with pytest.raises(ValueError, match="outside"):
        jvm_quantiles(df, [], "v", [1.5])
    with pytest.raises(ValueError, match="accuracy"):
        jvm_quantiles(df, [], "v", [0.5], accuracy=0)


def test_jvm_quantiles_plan_shape(spark, events):
    from fever_spark.ops.jvm_sketch import jvm_quantiles

    plan = jvm_quantiles(events, ["event_type"], "value", [0.5]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "partial_percentile_approx" in plan
    assert plan.count("Exchange") == 1
    assert plan.index("partial_percentile_approx") > plan.index("Exchange")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


class TestJvmRollup:
    def test_estimates_equal_direct_coarse_build(self, spark, events):
        """The JVM ladder's lattice guarantee: rolled-up estimates EQUAL a
        direct coarse build's (same registers) even though the bytes
        differ (union output mode != from-raw build mode)."""
        from fever_spark.ops.jvm_sketch import jvm_rollup_sketches

        ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
        spec = [SketchSpec("u", "hll", "user_id", {"p": 14})]
        ladder = jvm_rollup_sketches(ev, "ts", ["event_type"], spec,
                                     ["1 day", "7 days"])
        direct = jvm_sketches(
            ev.withColumn("window_start",
                          F.window("ts", "7 days")["start"]),
            ["event_type", "window_start"], spec)

        def ests(df):
            return {(r["event_type"], r["window_start"]): r["e"]
                    for r in df.withColumn(
                        "e", jvm_hll_estimate_col(F.col("state"))).collect()}

        rolled, direct_e = ests(ladder["7 days"]), ests(direct)
        assert set(rolled) == set(direct_e) and len(rolled) > 0
        for k in rolled:
            assert rolled[k] == direct_e[k], k
        # and the bytes DO differ — if this ever flips to byte-identity,
        # strengthen the docstring and this test
        rb = {(r["event_type"], r["window_start"]): bytes(r["state"])
              for r in ladder["7 days"].collect()}
        db = {(r["event_type"], r["window_start"]): bytes(r["state"])
              for r in direct.collect()}
        assert any(rb[k] != db[k] for k in rb)

    def test_non_hll_rejected_and_no_python_in_plan(self, spark, events):
        from fever_spark.ops.jvm_sketch import jvm_rollup_sketches

        ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(ValueError, match="hll-only"):
            jvm_rollup_sketches(ev, "ts", [], [
                SketchSpec("c", "cms", "event_type")], ["1 day"])
        with pytest.raises(ValueError, match="at least one resolution"):
            jvm_rollup_sketches(ev, "ts", [], [
                SketchSpec("u", "hll", "user_id")], [])
        ladder = jvm_rollup_sketches(
            ev, "ts", [], [SketchSpec("u", "hll", "user_id", {"p": 12})],
            ["1 hour", "1 day", "7 days"])
        plan = ladder["7 days"]._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
        assert "hll_union_agg" in plan


class TestJvmMergeAlgebra:
    """north_rule: 'merge associativity/commutativity property tests' —
    the JVM engine's versions. HLL: estimates are order/shape-invariant
    (register max is associative+commutative). CMS: the merged STATE is
    byte-identical under reordering and re-association (counter sums)."""

    def _hll_parts(self, spark, events, n_parts):
        parts = events.withColumn(
            "part", F.pmod(F.xxhash64("event_id"), F.lit(n_parts)))
        return [bytes(jvm_sketches(
            parts.filter(F.col("part") == i), [],
            [SketchSpec("u", "hll", "user_id", {"p": 12})])
            .collect()[0]["state"]) for i in range(n_parts)]

    def test_hll_union_order_and_shape_invariant(self, spark, events):
        states = self._hll_parts(spark, events, 4)
        assert len(states) == 4

        def union_est(ordered):
            df = spark.createDataFrame([(bytearray(s),) for s in ordered],
                                       "state binary") \
                .withColumn("sketch", F.lit("u"))
            return jvm_hll_union(df, []).select(
                jvm_hll_estimate_col(F.col("state")).alias("e")
            ).collect()[0]["e"]

        base = union_est(states)
        assert union_est(states[::-1]) == base          # commutativity
        # associativity via re-association: union(union(a,b), union(c,d))
        left = jvm_hll_union(
            spark.createDataFrame([(bytearray(s),) for s in states[:2]],
                                  "state binary")
            .withColumn("sketch", F.lit("u")), []).collect()[0]["state"]
        right = jvm_hll_union(
            spark.createDataFrame([(bytearray(s),) for s in states[2:]],
                                  "state binary")
            .withColumn("sketch", F.lit("u")), []).collect()[0]["state"]
        assert union_est([bytes(left), bytes(right)]) == base
        # and the union equals a single build over everything
        single = jvm_sketches(events, [],
                              [SketchSpec("u", "hll", "user_id", {"p": 12})])
        single_e = single.select(
            jvm_hll_estimate_col(F.col("state")).alias("e")).collect()[0]["e"]
        assert base == single_e

    def test_cms_merge_order_invariant_bytes(self, spark, events):
        parts = events.withColumn(
            "part", F.pmod(F.xxhash64("event_id"), F.lit(3)))
        states = [bytes(jvm_sketches(
            parts.filter(F.col("part") == i), [],
            [SketchSpec("t", "cms", "event_type")])
            .collect()[0]["state"]) for i in range(3)]
        assert len(states) == 3
        a = jvm_cms_merge(spark, states)
        b = jvm_cms_merge(spark, states[::-1])
        c = jvm_cms_merge(spark, [jvm_cms_merge(spark, states[:2]), states[2]])
        assert a == b == c  # counter sums: byte-identical every way


class TestJvmRollupValidation:
    def test_unaligned_ladder_raises(self, spark, events):
        from fever_spark.ops.jvm_sketch import jvm_rollup_sketches

        ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(ValueError, match="integer multiple"):
            jvm_rollup_sketches(ev, "ts", [], [
                SketchSpec("u", "hll", "user_id")], ["1 day", "36 hours"])
        # equal rungs are not a ladder either
        with pytest.raises(ValueError, match="integer multiple"):
            jvm_rollup_sketches(ev, "ts", [], [
                SketchSpec("u", "hll", "user_id")], ["1 day", "24 hours"])
