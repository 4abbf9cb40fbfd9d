"""Partition-local sketch build: stage 1 of the two-level combine.

Spark analog of fever's Consume loop + periodic flush
(/root/reference/processing/flow_aggregator.go:111-170): each input
partition streams Arrow batches through ``mapInPandas``, updating one sketch
per (group key, spec) in a partition-local dict, and emits the serialized
states ONCE at end of partition. Like fever's copy-and-swap flush
(flow_aggregator.go:80-109), this is a partial-aggregate handoff — the
shuffle that follows (see merge.py) only moves O(groups × sketch_size)
bytes, never raw rows. That is what makes the plan survive a 100× scale-up:
map-side state is O(distinct keys per partition), shuffle volume is
independent of row count.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fever_spark.sketch.base import NAME_REGISTRY, merge_rows

SKETCH_SCHEMA_SUFFIX = [
    T.StructField("sketch", T.StringType(), False),
    T.StructField("state", T.BinaryType(), False),
]

# NULL marker inside JVM-prehashed columns (int64 min; collision chance with
# a real xxhash64 value is 2^-64 per row)
_PREHASH_NULL = -(2 ** 63)

# default in-task group-map budget of build_sketches (see its docstring)
MEM_BUDGET_BYTES = 1 << 30


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: ``name`` labels the output row, ``kind`` picks the
    kernel, ``column`` is the input column, ``params`` go to the constructor,
    ``weight_column`` (CMS only) adds counts per row."""

    name: str
    kind: str  # bloom | hll | cms | kll | tdigest
    column: str
    params: dict = field(default_factory=dict)
    weight_column: str | None = None
    # Replace a string input with JVM-side xxhash64 before the Python worker
    # (see build_sketches). Automatic for HLL; opt-in for CMS because its
    # point estimates must then probe with prehash_col(item) too.
    prehash: bool = False

    def make(self):
        try:
            cls = NAME_REGISTRY[self.kind]
        except KeyError:
            raise ValueError(f"unknown sketch kind {self.kind!r}") from None
        return cls(**self.params)


def prehash_col(col):
    """JVM-side probe hash matching a prehash=True build: probe CMS/Bloom
    states built from prehashed columns with ``prehash_col(item)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.xxhash64(c)).otherwise(F.lit(_PREHASH_NULL))


def _output_schema(df: DataFrame, keys: list[str]) -> T.StructType:
    key_fields = [df.schema[k] for k in keys]
    return T.StructType(key_fields + SKETCH_SCHEMA_SUFFIX)


def build_sketches(df: DataFrame, keys: list[str],
                   specs: list[SketchSpec],
                   memory_budget_bytes: int = MEM_BUDGET_BYTES) -> DataFrame:
    """→ DataFrame(keys..., sketch: string, state: binary), one row per
    (input partition, group key, spec) — MORE rows when the in-task group
    map overflows ``memory_budget_bytes`` (default 1 GiB): the accumulated
    partials are emitted and the map reset, bounding task memory at budget
    + one Arrow batch no matter how many distinct keys a partition holds
    (per-host keys over web pages can reach millions of groups × 16 KB-1.5
    MB dense state). The extra partials are indistinguishable from another
    partition's to ``two_level_merge``, which combines any number of
    partials per key — the same spill-to-downstream fallback Spark's own
    hash aggregate uses.
    Feed to ``two_level_merge``.

    Only the key columns + referenced value columns are selected, so Catalyst
    pushes column pruning into the scan (the Entry-projection analog of
    /root/reference/util/util.go:28-55).

    Partial-state volume is O(input partitions × groups × state_size), so
    when the input has many more partitions than cores we coalesce (no
    shuffle — adjacent files merge into one task) down to 2× parallelism:
    same scan parallelism, far fewer partials into the merge.
    """
    for s in specs:
        s.make()  # fail fast on unknown kind / bad params, not inside a task
    # file count as the partition proxy (df.rdd.getNumPartitions would
    # force a plan→RDD conversion per call); non-file inputs (inputFiles
    # empty) skip the coalesce and leave sizing to AQE
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files > 4 * par:
        df = df.coalesce(2 * par)

    # JVM-side pre-hash (hot-path optimization, measured ~10x at high
    # parallelism): hash-only sketches (HLL/CMS) never need the original
    # string — substitute codegen'd xxhash64(value) so Arrow ships 8-byte
    # ints instead of strings and the Python worker hashes ints (~500x
    # cheaper than SipHash over PyStr objects). NULLs stay NULL (Spark's
    # xxhash64 would hash them to the seed). Bloom keeps raw strings —
    # its membership probes must hash the same bytes as contains().
    from dataclasses import replace

    str_cols = {f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)}
    spec_list = []
    extra_exprs = []
    seen_ph = set()
    for s in specs:
        # HLL never probes by value → always safe to prehash. CMS/Bloom
        # answer point queries whose probes must hash the same bytes →
        # prehash only when the spec opts in (probe with prehash_col then).
        if s.column in str_cols and (s.kind == "hll" or s.prehash):
            ph = f"__ph_{s.column}"
            if ph not in seen_ph:
                seen_ph.add(ph)
                # NULL → int64-min sentinel (kept non-null so Arrow→pandas
                # stays int64; a nullable int64 would decay to float64 and
                # corrupt 64-bit hash values beyond 2^53). The worker skips
                # the sentinel, preserving null-skip semantics.
                extra_exprs.append(prehash_col(s.column).alias(ph))
            s = replace(s, column=ph)
        spec_list.append(s)

    needed = list(dict.fromkeys(
        keys + [s.column for s in spec_list if not s.column.startswith("__ph_")]
        + [s.weight_column for s in spec_list if s.weight_column]))
    # Arrow→pandas turns a nullable integral column into float64 ONLY for
    # batches that contain a null — so the same id would hash as int64 in
    # one batch and float64 (123 vs 123.0) in another, silently corrupting
    # every hash sketch. Remember which columns are integral and cast the
    # null-masked values back. (Exact for |v| < 2^53; beyond that the
    # float64 round-trip is lossy either way.)
    integral_cols = {f.name for f in df.schema.fields
                     if isinstance(f.dataType, (
                         T.ByteType, T.ShortType, T.IntegerType, T.LongType))}
    out_schema = _output_schema(df, keys)
    key_names = list(keys)
    # per-group in-memory footprint = each sketch's SATURATED state bound
    # (Sketch.max_state_bytes), not the fresh payload size: a freshly-made
    # KMV is ~16 bytes but holds k hashes + k value strings when full, so
    # fresh-size provisioning would let max_groups run ~4 orders of
    # magnitude high and blow the budget exactly in the millions-of-groups
    # case the flush exists for. The cap derives from the budget once, on
    # the driver (floor 16 so a tiny budget still amortizes per-batch costs
    # over a few groups).
    per_group = sum(s.make().max_state_bytes() for s in specs) or 1
    max_groups = max(16, memory_budget_bytes // per_group)

    def build_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, dict[str, object]] = {}

        def update_group(key_tuple: tuple, group: pd.DataFrame) -> None:
            sketches = acc.get(key_tuple)
            if sketches is None:
                sketches = acc[key_tuple] = {s.name: s.make() for s in spec_list}
            for spec in spec_list:
                vals = group[spec.column].to_numpy()
                if spec.column.startswith("__ph_"):
                    mask = vals != _PREHASH_NULL
                else:
                    mask = pd.notna(group[spec.column]).to_numpy()
                if spec.weight_column is not None:
                    # a null weight must drop the row too: NaN cast to int64
                    # is INT64_MIN and would drive CMS cells hugely negative
                    mask = mask & pd.notna(group[spec.weight_column]).to_numpy()
                if not mask.all():
                    vals = vals[mask]
                if len(vals) == 0:
                    continue
                if (spec.column in integral_cols
                        and vals.dtype == np.float64):
                    vals = vals.astype(np.int64)
                if spec.weight_column is not None:
                    w = group[spec.weight_column].to_numpy()[mask]
                    sketches[spec.name].update(vals, w)
                else:
                    sketches[spec.name].update(vals)

        def _fix_key(kt: tuple) -> tuple:
            # nullable integral KEY columns decay to float64 in Arrow
            # batches with nulls (same decay the value path guards above):
            # NaN must leave as None and 3.0 as 3, or the LongType output
            # schema gets garbage from the unsafe float->int cast
            out = []
            for name, v in zip(key_names, kt):
                if name in integral_cols and isinstance(v, float):
                    out.append(None if np.isnan(v) else int(v))
                else:
                    out.append(v)
            return tuple(out)

        def drain() -> pd.DataFrame | None:
            rows = []
            for key_tuple, sketches in acc.items():
                key_tuple = _fix_key(key_tuple)
                for name, sk in sketches.items():
                    rows.append(key_tuple + (name, sk.to_bytes()))
            acc.clear()
            if rows:
                return pd.DataFrame(rows, columns=key_names + ["sketch", "state"])
            return None

        for pdf in batches:
            if key_names:
                for key_tuple, group in pdf.groupby(key_names, dropna=False, sort=False):
                    if not isinstance(key_tuple, tuple):
                        key_tuple = (key_tuple,)
                    update_group(key_tuple, group)
                    # checked per GROUP, not per batch: one Arrow batch can
                    # introduce thousands of fresh groups, each allocating
                    # full dense state the moment it's first seen
                    if len(acc) >= max_groups:
                        out = drain()
                        if out is not None:
                            yield out
            else:
                update_group((), pdf)

        out = drain()
        if out is not None:
            yield out

    return df.select(*[F.col(c) for c in needed], *extra_exprs) \
        .mapInPandas(build_partition, schema=out_schema)


def sketches_to_dict(merged: DataFrame, keys: list[str]) -> dict:
    """Collect a (small) sketch DataFrame into {(key..., sketch_name):
    Sketch}. Driver-side convenience for probing; rows that share a key
    (``build_sketches`` partials not yet through ``two_level_merge``) are
    merged, not overwritten."""
    return merge_rows(merged.collect(), keys)
