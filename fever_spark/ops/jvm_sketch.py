"""JVM-native sketch path: Tungsten aggregates instead of Python kernels.

Why this exists — measured, not assumed (BENCH/BASELINE.md round 8): the
Python-format pipeline (``build_sketches`` → ``two_level_merge``) pays a
JVM→Python Arrow transfer tax of ~2.5s per 10M rows at local[8] — a no-op
``mapInPandas`` closure already costs 92% of the full three-sketch
pipeline's wall. The numpy update kernels themselves are FASTER than
Spark's per-row JVM aggregates (4.2M vs ~3.9M pages/s for the bundle),
so the only way past the ceiling is to never cross the boundary at all.
Catalyst has native mergeable aggregates for two of our kinds:

- ``hll`` → ``hll_sketch_agg`` (Apache DataSketches HLL, Spark ≥3.5) —
  measured on the same 10M-page input (bench.py ``engine_ab``, forced
  state materialization so Catalyst can't prune the aggregates):
  **25.7M pages/s at local[32] vs 3.6M** for the Python pipeline —
  **7.1×** when the workload is HLL-only, the most common production
  shape (distinct counting); 19.3M vs 3.6M (5.3×) at local[8].
- ``cms`` → ``count_min_sketch`` (spark.util.sketch.CountMinSketch).

Crossover, measured: HLL-only → always JVM. The HLL+CMS bundle ties at
local[8] (one boundary crossing amortizes across all Python sketches,
while JVM aggregates pay per-row per-aggregate) but the JVM engine wins
**3.2×** at local[32] — the Python path is pinned at the transfer
path's host ceiling (~3.6M pages/s at 8 and at 32 threads alike) while
Tungsten keeps scaling with cores. The Python path additionally yields
fever-format state: use it whenever you need the ops plane or kinds
this module has no JVM aggregate for (t-digest, KMV, Bloom-as-state,
CMSTopK; KLL too — Spark 4.1 ships ``kll_sketch_agg_*`` /
``kll_merge_agg_*`` / ``kll_sketch_get_quantile_*``, but their
DataSketches state is not the fever envelope and is not wired in here);
use this path for HLL/CMS-dominated batch reporting.

Tungsten runs the same two-level combine ``two_level_merge`` hand-builds
for Python states — partial aggregation map-side, merge after a
groups-only shuffle — so ``jvm_sketches`` returns FINAL states directly;
there is no separate merge step within a job. Cross-job unions: HLL via
``jvm_hll_union`` (``hll_union_agg``, again never leaving the JVM); CMS
via the driver-side ``jvm_cms_merge`` (O(states), py4j ``mergeInPlace``).

State formats are the JVM libraries' own (DataSketches HLL compact
bytes; ``CountMinSketch.writeTo`` v1) — NOT the fever versioned-LE
envelope. They do not feed ``two_level_merge``/``hll_estimate_col`` or
the sketchctl ops plane, and fever-format states do not feed the
functions here; both directions fail loudly (tested) rather than
mis-parse. Reference parity: same aggregation semantics as fever's
flow_aggregator consume/flush loop (processing/flow_aggregator.go:111-170)
with the engine, not handwritten Go, choosing the physical plan.

NULL semantics match ``build_sketches``: null values are skipped by the
aggregates (an all-null group yields an EMPTY sketch, estimate 0 — not a
null state), null group keys form their own group, empty input yields no
rows. CMS inputs are fed RAW (string/int accepted by the JVM aggregate;
point queries then probe with the raw item) — never pre-hashed with
``xxhash64``, which maps SQL NULL to the seed and would silently count
nulls.

Probed dead end, recorded so it isn't re-tried: Spark's
``bloom_filter_agg`` / ``might_contain`` expressions exist only for the
engine's internal runtime row-filters — neither is in the public function
registry (UNRESOLVED_ROUTINE on this build), and ``df.stat.bloomFilter``
builds JVM-side but offers no expressible per-row probe back in a plan.
So Bloom IOC matching stays on the python engine's single-ArrowEvalPython
matcher (ops/bloom_match.py), which is plan-gated to exactly one
boundary crossing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fever_spark.ops.build import SketchSpec

JVM_KINDS = ("hll", "cms")
_CMS_DEFAULT_SEED = 42


def _agg_for(spec: SketchSpec) -> Column:
    if spec.weight_column is not None:
        raise ValueError(
            f"spec {spec.name!r}: weight_column is not supported by the "
            "JVM engine (count_min_sketch has no weighted update) — use "
            "build_sketches for weighted CMS")
    if spec.kind == "hll":
        p = int(spec.params.get("p", 14))
        if not 4 <= p <= 21:
            raise ValueError(f"spec {spec.name!r}: hll p={p} outside "
                             "hll_sketch_agg's lgConfigK range [4, 21]")
        return F.hll_sketch_agg(spec.column, p).alias(spec.name)
    if spec.kind == "cms":
        eps = float(spec.params.get("epsilon", 1e-4))
        delta = float(spec.params.get("delta", 1e-3))
        seed = int(spec.params.get("seed", _CMS_DEFAULT_SEED))
        return F.count_min_sketch(
            spec.column, F.lit(eps), F.lit(1.0 - delta), F.lit(seed)
        ).alias(spec.name)
    raise ValueError(
        f"spec {spec.name!r}: kind {spec.kind!r} has no JVM aggregate "
        f"(supported: {', '.join(JVM_KINDS)}) — use build_sketches")


def _long_sketch_states(df: DataFrame, keys: list[str],
                        specs: list[SketchSpec], caller: str,
                        window: tuple[Column, str, str] | None = None
                        ) -> DataFrame:
    """Shared body of ``jvm_sketches`` and the streaming variants: check
    the specs, aggregate each with its Catalyst sketch aggregate per
    group, and unpivot to the long (keys..., sketch, state) shape.
    ``window`` = (aliased window struct, start name, end name): the
    groups lead with the window, whose start/end come out as the two
    named columns."""
    if not specs:
        raise ValueError(f"{caller} needs at least one spec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    aggs = [_agg_for(s) for s in specs]
    key_cols = [F.col(k) for k in keys]
    if window is None:
        wide = df.groupBy(*key_cols).agg(*aggs)
        flat_keys = list(keys)
    else:
        win, start, end = window
        wide = df.groupBy(win, *key_cols).agg(*aggs)
        w = F.col(wide.columns[0])
        wide = wide.select(w.start.alias(start), w.end.alias(end),
                           *key_cols, *names)
        flat_keys = [start, end, *keys]
    # all agg outputs are binary so unpivot is typed
    return wide.unpivot(flat_keys, names, "sketch", "state")


def jvm_sketches(df: DataFrame, keys: list[str],
                 specs: list[SketchSpec]) -> DataFrame:
    """→ DataFrame(keys..., sketch: string, state: binary) of FINAL
    per-(keys, spec) states via Catalyst's native sketch aggregates.
    One whole-stage-codegen pass; Tungsten performs the map-side partial
    aggregation and the groups-only shuffle internally, so the shuffle
    volume is O(groups × state_size) — identical scale shape to
    build_sketches + two_level_merge, without the Python boundary."""
    return _long_sketch_states(df, keys, specs, "jvm_sketches")


def jvm_hll_estimate_col(state: Column) -> Column:
    """Distinct-count estimate from a jvm_sketches hll state column."""
    return F.hll_sketch_estimate(state)


def jvm_hll_union(sketch_df: DataFrame, keys: list[str]) -> DataFrame:
    """Union jvm hll state rows down to one per (keys, sketch) — the
    cross-job merge (two checkpoints, two days' outputs). States must all
    be hll; feeding cms rows raises in the executor (DataSketches rejects
    the bytes). allowDifferentLgConfigK=True: unioning p=14 with p=12
    degrades to the smaller p, mirroring merge_many's parameter check
    being strict while DataSketches' union is permissive — callers who
    need strictness should keep p uniform per sketch name."""
    return (sketch_df.groupBy(*[F.col(k) for k in keys], "sketch")
            .agg(F.hll_union_agg("state", True).alias("state")))


def _jvm_cms(spark: SparkSession, state: bytes):
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(state))
    return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)


def jvm_cms_estimate(spark: SparkSession, state: bytes,
                     items: list) -> list[int]:
    """Point-frequency upper bounds from a jvm_sketches cms state —
    driver-side read-back through the same JVM class that built it
    (O(items) py4j calls; probing, not a per-row path). Probe with the
    RAW item values the build column held."""
    cms = _jvm_cms(spark, state)
    return [cms.estimateCount(i) for i in items]


def jvm_cms_merge(spark: SparkSession, states: list[bytes]) -> bytes:
    """Union cms states (same eps/confidence/seed) driver-side —
    O(states × table_size), no Spark job; the cross-job counterpart of
    jvm_hll_union. Raises IllegalArgumentException through py4j on
    parameter mismatch.

    Measured rate (round-9, this host): ~39 states/s for eps=1e-4
    states (1.6 MB tables) — fine for tens of states (a month of daily
    rollups), not for thousands. Past that, or for mixed-kind ladders,
    use the python engine's rollup (ops/rollup.rollup_sketches):
    fever-envelope CMS states union DISTRIBUTED through two_level_merge
    at O(groups x state) shuffle cost, no driver loop."""
    if not states:
        raise ValueError("jvm_cms_merge needs at least one state")
    acc = _jvm_cms(spark, states[0])
    for s in states[1:]:
        acc = acc.mergeInPlace(_jvm_cms(spark, s))
    jvm = spark.sparkContext._jvm
    bos = jvm.java.io.ByteArrayOutputStream()
    acc.writeTo(bos)
    return bytes(bos.toByteArray())


def jvm_quantiles(df: DataFrame, keys: list[str], column: str,
                  probabilities: list[float],
                  accuracy: int = 10000) -> DataFrame:
    """→ DataFrame(keys..., q: array<double>) of native JVM approximate
    quantiles via ``approx_percentile`` (Greenwald-Khanna): guaranteed
    rank error ≤ 1/accuracy, computed with the same
    partial-below-one-exchange shape as the sketch aggregates — no
    Python boundary, the quantile counterpart of ``jvm_sketches``.

    Engine trade vs the KLL/t-digest path (``build_sketches`` with kind
    'kll'/'tdigest'): approx_percentile exposes NO serializable state —
    Tungsten merges its summaries inside the job but you cannot persist
    or cross-job-union them. (Spark 4.1's native KLL,
    ``kll_sketch_agg_*`` + ``kll_merge_agg_*``, does expose a mergeable
    binary state; this module does not wrap it.) Use this for in-job
    quantile REPORTING (windowed rollups, dashboards) and the Python
    sketches whenever the state itself is the product (checkpointed
    daemon stats, sketchctl, month-over-month merges)."""
    if not probabilities:
        raise ValueError("jvm_quantiles needs at least one probability")
    if any(not 0.0 <= p <= 1.0 for p in probabilities):
        raise ValueError(f"probabilities outside [0, 1]: {probabilities}")
    if accuracy < 1:
        raise ValueError(f"accuracy must be >= 1, got {accuracy}")
    agg = F.percentile_approx(
        column, [float(p) for p in probabilities], accuracy).alias("q")
    if keys:
        return df.groupBy(*[F.col(k) for k in keys]).agg(agg)
    return df.agg(agg)


_INTERVAL_UNIT_SECONDS = {
    "week": 604800, "weeks": 604800,
    "day": 86400, "days": 86400,
    "hour": 3600, "hours": 3600,
    "minute": 60, "minutes": 60, "min": 60, "mins": 60,
    "second": 1, "seconds": 1, "sec": 1, "secs": 1,
}


def validate_resolution_ladder(resolutions: list[str]) -> None:
    """Fail loudly on a ladder whose coarser rungs are NOT integer
    multiples of the one below (e.g. ['1 day', '36 hours']): the
    window-of-windows truncation both ladders use assumes aligned
    buckets, and misuse silently yields wrong coarse buckets. Only
    fixed-width units are accepted — F.window rejects calendar units
    (months) anyway, so an unparseable resolution is itself an error."""
    import re

    def seconds(res: str) -> int:
        m = re.fullmatch(r"\s*(\d+)\s+([a-zA-Z]+)\s*", res)
        if not m or m.group(2).lower() not in _INTERVAL_UNIT_SECONDS:
            raise ValueError(
                f"unparseable rollup resolution {res!r}: expected "
                f"'<n> <unit>' with unit one of "
                f"{sorted(set(_INTERVAL_UNIT_SECONDS))}")
        return int(m.group(1)) * _INTERVAL_UNIT_SECONDS[m.group(2).lower()]

    secs = [seconds(r) for r in resolutions]
    for prev, cur, pr, cr in zip(secs, secs[1:], resolutions,
                                 resolutions[1:]):
        if cur % prev != 0 or cur <= prev:
            raise ValueError(
                f"rollup resolutions must be ordered finest -> coarsest "
                f"with each level an integer multiple of the previous: "
                f"{cr!r} ({cur}s) is not a strict multiple of {pr!r} "
                f"({prev}s) — the window-of-windows truncation would "
                "produce misaligned coarse buckets")


def jvm_rollup_sketches(df: DataFrame, ts_col: str, keys: list[str],
                        specs: list[SketchSpec],
                        resolutions: list[str]) -> dict[str, DataFrame]:
    """Hypertable rollup ladder on the JVM engine — HLL only.

    Same contract as ops/rollup.rollup_sketches (raw data scanned ONCE at
    the finest resolution, coarser levels are state-only merges keyed by
    (keys..., window_start, sketch), resolutions ordered finest→coarsest
    with aligned buckets), but every rung stays inside whole-stage
    codegen: the finest level is ``jvm_sketches``, each coarser level is
    ``hll_union_agg`` over re-windowed window_start — O(groups ×
    state_size) per level, no Python boundary anywhere in the ladder.

    HLL only because Catalyst has no CMS union aggregate; for few cms
    states merge driver-side with ``jvm_cms_merge``, or use the python
    ladder (fever-envelope states union for every kind).

    Lattice guarantee, deliberately weaker than the python ladder's and
    tested as such: rolled-up ESTIMATES equal the direct coarse build's
    exactly (same register content), but serialized bytes differ — a
    DataSketches union output is written in a different internal mode
    than a from-raw build, so byte-level comparisons across the two
    construction paths are meaningless for this engine."""
    if not resolutions:
        raise ValueError("need at least one resolution")
    validate_resolution_ladder(resolutions)
    bad = [s.name for s in specs if s.kind != "hll"]
    if bad:
        raise ValueError(
            f"jvm_rollup_sketches is hll-only (hll_union_agg is the only "
            f"JVM-side state union); non-hll specs: {bad} — use "
            "ops.rollup.rollup_sketches for mixed-kind ladders "
            "(distributed state unions for every kind; the JVM engine's "
            "only CMS union is the driver-side jvm_cms_merge at a "
            "measured ~39 eps=1e-4 states/s — viable for tens of "
            "states, not a ladder)")
    win = "window_start"
    fine = df.withColumn(win, F.window(F.col(ts_col), resolutions[0])["start"])
    ladder: dict[str, DataFrame] = {}
    prev = jvm_sketches(fine, keys + [win], specs)
    ladder[resolutions[0]] = prev
    for res in resolutions[1:]:
        prev = jvm_hll_union(
            prev.withColumn(win, F.window(F.col(win), res)["start"]),
            keys + [win])
        ladder[res] = prev
    return ladder
