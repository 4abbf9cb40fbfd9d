"""Hypertable-style multi-resolution rollups over sketch states.

The continuous-aggregate pattern (TimescaleDB hypertables, druid rollups):
keep time-bucketed aggregates at a fine resolution and serve coarser
resolutions by combining the fine buckets — never rescanning raw data.
With MERGEABLE sketch states this is exact by construction: an hourly
HLL is the register-wise merge of its minutes' HLLs, so the whole rollup
ladder (minute → hour → day) costs one raw-data scan at the finest level
plus state-only merges upward, each O(groups × state_size).

fever's analog is the timer-flushed aggregation maps
(processing/flow_aggregator.go:80-109) — one fixed resolution, partials
merged associatively on flush; this generalizes the same associativity
into a resolution ladder.

Merge-identity guarantee: for the lattice sketches (HLL max-registers,
CMS counter-sums, Bloom ORs, KMV bottom-k) the rolled-up state is
BYTE-IDENTICAL to building directly at the coarse resolution (tested);
for the compaction sketches (KLL, t-digest) merge order affects the
internal layout, so rollup equals direct build only within the published
error bound — which the estimate gates check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fever_spark.ops.build import SketchSpec, build_sketches
from fever_spark.ops.merge import two_level_merge

__all__ = ["rollup_sketches"]

WINDOW_COL = "window_start"

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
    window-of-windows truncation rollup_sketches uses assumes aligned
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


def rollup_sketches(df: DataFrame, ts_col: str, keys: list[str],
                    specs: list[SketchSpec],
                    resolutions: list[str]) -> dict[str, DataFrame]:
    """Build the rollup ladder: one sketch-state frame per resolution,
    keyed by (keys..., window_start, sketch).

    ``resolutions`` is ordered finest → coarsest (e.g. ``["1 hour",
    "1 day"]``); each rung MUST be a strict integer multiple of the rung
    below it (the window-of-windows truncation assumes aligned buckets —
    the hypertable contract), so ``["1 hour", "2 hours", "3 hours"]`` is
    rejected. Raw data is scanned exactly once, at the
    finest level; every other level is a state-only two_level_merge."""
    if not resolutions:
        raise ValueError("need at least one resolution")
    validate_resolution_ladder(resolutions)
    finest = resolutions[0]
    fine = (df.withColumn(WINDOW_COL,
                          F.window(F.col(ts_col), finest)["start"]))
    ladder: dict[str, DataFrame] = {}
    states = two_level_merge(
        build_sketches(fine, keys + [WINDOW_COL], specs),
        keys + [WINDOW_COL])
    ladder[finest] = states

    prev = states
    for res in resolutions[1:]:
        coarser = prev.withColumn(
            WINDOW_COL, F.window(F.col(WINDOW_COL), res)["start"])
        # upward merges see <= (coarse/fine ratio) already-merged states
        # per key — skew-free by construction, so salt=1 (a single
        # shuffle) replaces the two-level tree: measured 2.0s -> sub-second
        # on a 336-state day level
        prev = two_level_merge(coarser, keys + [WINDOW_COL], salt=1)
        ladder[res] = prev
    return ladder
