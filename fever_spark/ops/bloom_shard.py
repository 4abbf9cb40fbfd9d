"""Partitioned (sharded) Bloom filters — the north_star's "partitioned Bloom
filters for fever-style indicator matching" for IOC sets too large to build
driver-side or broadcast as one blob.

Sharding key and membership share ONE hash: h = xxhash64(ioc) (JVM-side,
codegen), shard = pmod(h, n_shards), and the shard's filter is built over
the h values themselves — zero false negatives preserved because both sides
hash identical bytes. Null and empty iocs and probes are dropped first
(fever's skip-on-empty; xxhash64(NULL) is the seed and would "match").

Build is DISTRIBUTED: the ioc table flows through the ordinary
build_sketches → two_level_merge pipeline grouped by shard, so a 10^9-entry
indicator list builds with the same bounded-state plan as any other sketch
(the driver-side build_ioc_filter is for small lists only).

One probe path, bloom_semi_join_sharded: repartition probes BY SHARD and
cogroup with the shard-state table — no executor ever materializes more
than one shard state (the 100-TB path); shuffle volume is the probes
(ids + 8-byte hashes), states move once each.

Reference behavior: processing/bloom_handler.go:165-291 membership
semantics; sharding is our scale addition (the reference is single-node).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fever_spark.ops.build import SketchSpec, build_sketches
from fever_spark.ops.merge import two_level_merge
from fever_spark.sketch.base import merge_many


def shard_col(col, n_shards: int):
    """JVM-side shard id from the SAME xxhash64 used for membership."""
    return F.pmod(F.xxhash64(col), F.lit(n_shards)).cast("int")


def _nonempty(col: str) -> F.Column:
    return F.col(col).isNotNull() & (F.col(col) != "")


def build_sharded_ioc_states(iocs: DataFrame, ioc_col: str = "ioc",
                             n_shards: int = 16, fpp: float = 1e-7,
                             capacity_per_shard: int | None = None) -> DataFrame:
    """Distributed sharded build → DataFrame(shard int, state binary),
    one Bloom state per shard, built over xxhash64(ioc) values through the
    standard partial-build + two-level merge pipeline. Null and empty iocs
    are skipped."""
    iocs = iocs.filter(_nonempty(ioc_col))
    if capacity_per_shard is None:
        # one count() sizing pass; at scale pass the known cardinality in
        n = iocs.count()
        capacity_per_shard = max(16, int(n / n_shards * 1.5))
    hashed = iocs.select(
        shard_col(F.col(ioc_col), n_shards).alias("shard"),
        F.xxhash64(ioc_col).alias("h"))
    built = build_sketches(
        hashed, ["shard"],
        [SketchSpec("ioc", "bloom", "h",
                    {"capacity": capacity_per_shard, "fpp": fpp})])
    return two_level_merge(built, ["shard"]).select("shard", "state")


def bloom_semi_join_sharded(probes: DataFrame, states: DataFrame,
                            probe_col: str, n_shards: int) -> DataFrame:
    """Semi-join `probes` against a sharded filter WITHOUT broadcasting it:
    cogroup probes and states on shard; each task deserializes exactly one
    shard state and tests its probe group vectorized. Returns the probe rows
    whose probe_col is (probably) a member — zero false negatives, FPs at
    the configured fpp; a null or empty probe is never kept.

    Plan shape: one exchange of probes hashed by shard (ids + int64 hash),
    one exchange of the S states; output schema == input probes schema."""
    out_schema = probes.schema
    in_cols = [f.name for f in probes.schema.fields]
    keyed = probes.filter(_nonempty(probe_col)) \
        .withColumn("__h", F.xxhash64(probe_col)) \
        .withColumn("__shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
    skeyed = states.withColumnRenamed("shard", "__shard")

    def test_group(probe_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(probe_pdf) == 0 or len(state_pdf) == 0:
            return probe_pdf[in_cols].iloc[0:0]
        # a shard group may carry several partial states (caller passed a
        # pre-merge frame or a union) — probing only the first would drop
        # members of the others, a silent false negative
        bf = merge_many([bytes(b) for b in state_pdf["state"]])
        hv = probe_pdf["__h"].to_numpy()
        keep = bf.contains(hv)
        return probe_pdf.loc[keep, in_cols]

    return (keyed.groupBy("__shard")
            .cogroup(skeyed.groupBy("__shard"))
            .applyInPandas(test_group, schema=out_schema))
