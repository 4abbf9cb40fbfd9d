"""Two-level salted sketch merge: stage 2 of the combine.

The explicit "partition-local update, then skew-aware salted shuffle merge"
the north_rule demands. Fever's single-process analog is the associative
partial-count merge at processing/unicorn_aggregator.go:145-155; at cluster
scale a plain ``groupBy(keys)`` merge puts every partial state for a hot key
(Zipfian hosts) on ONE reducer. We shuffle twice instead:

  level 1: groupBy(keys, sketch, salt)  — salt = map-partition-id % S spreads
           a hot key's partials over S reducers; each merges ~P/S states.
  level 2: groupBy(keys, sketch)        — merges the S survivors per key.

S defaults to half the default parallelism, clamped to [2, 8]; ``salt=1``
is the single-shuffle form for input that is already per-key merged.

Each level is ``groupBy`` + ``collect_list(state)`` + ONE vectorized
pandas_udf that merges every group's state list in the same Arrow batch.
Input frames carry exactly ``keys + [sketch, state]``; any other column
must be passed as a key.

Shuffle volume at both levels is O(groups × S × state_size) — independent of
input row count. For the final single-sketch-per-spec case (keys == []), the
same tree applies with salt as the only level-1 key; ``global_state`` is
that case end to end (build, merge, collect the one state).

Because every sketch merge is associative (+ commutative for the lattice
sketches), the result is invariant to S and to input partitioning — tested
in tests/test_spark_ops.py against S ∈ {1, 4, 16}.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fever_spark.ops.build import SketchSpec, build_sketches
from fever_spark.sketch.base import merge_many

_SALT = "__fvs_salt"


@F.pandas_udf(T.BinaryType())
def _merge_lists(lists: pd.Series) -> pd.Series:
    return lists.map(
        lambda arr: merge_many([bytes(b) for b in arr]).to_bytes())


def _merge_level(df: DataFrame, group_cols: list[str],
                 keys: list[str]) -> DataFrame:
    """One merge level: one output row per ``group_cols`` group, carrying
    ``keys + [sketch, state]``. Per-group list memory is bounded: level-1
    lists hold ~partitions/salt states, level-2 at most ``salt``."""
    return (df.groupBy(*group_cols)
            .agg(F.collect_list("state").alias("__sts"))
            .select(*keys, "sketch", _merge_lists("__sts").alias("state")))


def two_level_merge(sketch_df: DataFrame, keys: list[str],
                    salt: int | None = None) -> DataFrame:
    """Merge per-partition sketch rows down to one row per (keys, sketch)."""
    keys = list(keys)
    extra = [c for c in sketch_df.columns
             if c not in {*keys, "sketch", "state"}]
    if extra:
        raise ValueError(
            f"two_level_merge got columns {extra} besides keys {keys}, "
            "'sketch' and 'state'; pass them as keys or drop them")
    if salt is None:
        # level-1 output volume is O(groups x salt x state_size): salt only
        # needs to spread the per-key partial count (≈ input partitions)
        # across reducers, so cap the default — at salt=16 a 1.5MB CMS state
        # costs 16x groups x 1.5MB of intermediate shuffle for no extra skew
        # protection over salt=8. Pass salt explicitly for pathological keys.
        salt = max(2, min(8, sketch_df.sparkSession.sparkContext.defaultParallelism // 2))
    if salt == 1:
        # one merge group per key — a single shuffle. The right call when
        # the input is ALREADY per-group-merged state (rollup ladders:
        # <= fine/coarse-ratio states per key, skew-free by construction)
        # where the salted level is pure overhead.
        return _merge_level(sketch_df, keys + ["sketch"], keys)
    # spark_partition_id is deterministic per map task and cheap; pmod keeps
    # the salt domain bounded regardless of partition count.
    salted = sketch_df.withColumn(_SALT, F.pmod(F.spark_partition_id(), F.lit(salt)))
    level1 = _merge_level(salted, keys + ["sketch", _SALT], keys)
    return _merge_level(level1, keys + ["sketch"], keys)


def global_state(df: DataFrame, spec: SketchSpec) -> bytes:
    """The one keyless state of ``spec`` over all of ``df``: built and merged
    distributed, and only the merged state reaches the driver. An empty
    input gives the empty state of ``spec.make()``."""
    row = two_level_merge(build_sketches(df, [], [spec]), []) \
        .select("state").first()
    return spec.make().to_bytes() if row is None else bytes(row["state"])
