"""Partitioned (sharded) Bloom filter: distributed build + the cogroup
semi-join probe.

Acceptance mirrors the reference's zero-false-negative invariant
(processing/bloom_handler_test.go:409-427) with sharding as the scale
addition: every true member MUST test positive, and a null or empty
indicator or probe never matches (the reference's skip-on-empty).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fever_spark.ops.bloom_shard import (
    bloom_semi_join_sharded, build_sharded_ioc_states, shard_col)

N_SHARDS = 8


@pytest.fixture(scope="module")
def ioc_strings():
    rng = np.random.default_rng(9)
    return [f"bad-host-{i}.example.org" for i in range(2000)]


@pytest.fixture(scope="module")
def shard_states(spark, ioc_strings):
    iocs = spark.createDataFrame([(s,) for s in ioc_strings], "ioc string")
    return build_sharded_ioc_states(iocs, n_shards=N_SHARDS, fpp=1e-6).cache()


class TestShardedBuild:
    def test_one_state_per_shard(self, shard_states):
        rows = shard_states.collect()
        assert len(rows) == N_SHARDS
        assert {r["shard"] for r in rows} == set(range(N_SHARDS))

    def test_shard_assignment_matches_jvm_pmod(self, spark, ioc_strings):
        df = spark.createDataFrame([(s,) for s in ioc_strings[:50]], "ioc string")
        got = df.select("ioc", shard_col(F.col("ioc"), N_SHARDS).alias("s"),
                        F.xxhash64("ioc").alias("h")).collect()
        for r in got:
            assert r["s"] == (r["h"] % N_SHARDS + N_SHARDS) % N_SHARDS


class TestCogroupPath:
    def test_semi_join_zero_fn(self, spark, ioc_strings, shard_states):
        probes = spark.createDataFrame(
            [(i, s) for i, s in enumerate(ioc_strings)]
            + [(10_000 + i, f"clean-host-{i}.example.net") for i in range(3000)],
            "pid long, probe string").repartition(8)
        kept = bloom_semi_join_sharded(probes, shard_states, "probe",
                                       N_SHARDS)
        got_ids = {r["pid"] for r in kept.collect()}
        member_ids = set(range(len(ioc_strings)))
        assert member_ids <= got_ids            # zero FN
        assert len(got_ids - member_ids) <= 5   # bounded FP
        # schema passthrough
        assert kept.columns == ["pid", "probe"]

    def test_empty_probe_side(self, spark, shard_states):
        probes = spark.createDataFrame([], "pid long, probe string")
        assert bloom_semi_join_sharded(probes, shard_states, "probe",
                                       N_SHARDS).count() == 0

    def test_null_and_empty_never_match(self, spark):
        # xxhash64(NULL) is the seed, so hashing a NULL ioc and a NULL
        # probe alike would make every NULL probe "match"
        iocs = spark.createDataFrame(
            [("evil.example",), ("",), (None,)], "ioc string")
        states = build_sharded_ioc_states(iocs, n_shards=4)
        probes = spark.createDataFrame(
            [(1, "evil.example"), (2, ""), (3, None), (4, "clean.example")],
            "pid long, probe string")
        kept = bloom_semi_join_sharded(probes, states, "probe", 4)
        assert sorted(r["pid"] for r in kept.collect()) == [1]
