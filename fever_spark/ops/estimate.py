"""Estimator column functions over serialized sketch states.

Post-merge sketch frames are tiny (one row per group), but estimators are
still expressed as vectorized pandas UDFs so estimates compose into ordinary
DataFrame plans (joins against exact baselines, filters on bounds, etc.).
A per-executor LRU keyed by state bytes avoids re-deserializing the same
state across rows/batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fever_spark.sketch.base import sketch_from_bytes

_CACHE: dict[bytes, object] = {}
_CACHE_MAX = 64


def _sketch_of(b: bytes):
    sk = _CACHE.get(b)
    if sk is None:
        if len(_CACHE) >= _CACHE_MAX:
            _CACHE.clear()
        sk = _CACHE[b] = sketch_from_bytes(bytes(b))
    return sk


@F.pandas_udf(T.DoubleType())
def _hll_estimate(state: pd.Series) -> pd.Series:
    return state.map(lambda b: float(_sketch_of(bytes(b)).estimate()))


def hll_estimate_col(state: Column) -> Column:
    """Distinct-count estimate from an HLL state column."""
    return _hll_estimate(state)


@F.pandas_udf(T.LongType())
def _cms_estimate(state: pd.Series, item: pd.Series) -> pd.Series:
    out = np.zeros(len(state), dtype=np.int64)
    # group rows by identical state so each CMS probes its items in one
    # vectorized call
    pdf = pd.DataFrame({"state": state, "item": item})
    for b, grp in pdf.groupby("state", sort=False):
        cms = _sketch_of(bytes(b))
        out[grp.index] = cms.estimate(grp["item"].to_numpy())
    return pd.Series(out)


def cms_estimate_col(state: Column, item: Column) -> Column:
    """Point-frequency estimate of `item` from a CMS state column."""
    return _cms_estimate(state, item)


def kmv_estimate_col(state: Column) -> Column:
    """Distinct-count estimate from a KMV state column (the generic
    ``estimate()`` dispatch — exact below k, (k-1)/U(k) above)."""
    return _hll_estimate(state)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _kmv_sample(state: pd.Series) -> pd.Series:
    return state.map(lambda b: _sketch_of(bytes(b)).sample())


def kmv_sample_col(state: Column) -> Column:
    """Deterministic uniform sample (bottom-k by hash) of the distinct
    values from a KMV state column."""
    return _kmv_sample(state)


@F.pandas_udf(T.DoubleType())
def _kmv_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    from fever_spark.sketch.kmv import kmv_jaccard

    return pd.Series([
        kmv_jaccard(_sketch_of(bytes(x)), _sketch_of(bytes(y)))
        for x, y in zip(a, b)], dtype="float64")


def kmv_jaccard_col(state_a: Column, state_b: Column) -> Column:
    """Jaccard similarity estimate between two KMV state columns (same
    k/seed): among the union's bottom-k hashes, the fraction present in
    both sides (Beyer et al. 2007 §5) — exact when both sets fit in k."""
    return _kmv_jaccard(state_a, state_b)


@F.pandas_udf(T.DoubleType())
def _kmv_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    from fever_spark.sketch.kmv import kmv_intersection_estimate

    return pd.Series([
        kmv_intersection_estimate(_sketch_of(bytes(x)), _sketch_of(bytes(y)))
        for x, y in zip(a, b)], dtype="float64")


def kmv_intersection_col(state_a: Column, state_b: Column) -> Column:
    """|A ∩ B| estimate between two KMV state columns — Jaccard × union
    estimate, one merged sketch serving both terms."""
    return _kmv_intersection(state_a, state_b)


def quantile_col(state: Column, qs: list[float]) -> Column:
    """array<double> of quantile estimates from a KLL or t-digest state."""
    qarr = np.asarray(qs, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _quantiles(state: pd.Series) -> pd.Series:
        return state.map(
            lambda b: [float(x) for x in np.atleast_1d(_sketch_of(bytes(b)).quantile(qarr))])

    return _quantiles(state)


def heavy_hitters_col(state: Column, k: int) -> Column:
    """array<struct<item:string,est:long>> of the top-k heavy hitters from a
    CMSTopK state column. Items are rendered as strings (int-item sketches
    print the int64 prehash). Explode to get one row per hitter."""
    out_type = T.ArrayType(T.StructType([
        T.StructField("item", T.StringType()),
        T.StructField("est", T.LongType()),
    ]))

    @F.pandas_udf(out_type)
    def _topk(state: pd.Series) -> pd.Series:
        return state.map(lambda b: [
            {"item": str(item), "est": est}
            for item, est in _sketch_of(bytes(b)).heavy_hitters(k)])

    return _topk(state)


def bloom_contains_multi(bloom_bytes_bc, *cols: Column) -> Column:
    """Membership tests for N columns in ONE vectorized UDF call → a LONG
    bitmask (bit i set ⇔ probe column i matched). One Arrow round-trip, one
    primitive int64 column out — no per-row Python objects. Null/empty probe
    strings test False, matching the reference's skip-on-empty guards.
    Test bit i with ``(col >> i) & 1 == 1`` / ``bitwiseAND``."""

    @F.pandas_udf(T.LongType())
    def _contains_n(*series: pd.Series) -> pd.Series:
        bf = _sketch_of(bytes(bloom_bytes_bc.value))
        out = np.zeros(len(series[0]), dtype=np.int64)
        for i, s in enumerate(series):
            mask = (s.notna() & (s != "")).to_numpy()
            if mask.any():
                hits = np.zeros(len(s), dtype=bool)
                hits[mask] = bf.contains(s[mask].to_numpy())
                out |= hits.astype(np.int64) << i
        return pd.Series(out)

    # asNondeterministic: stop Catalyst pushing later filters through the
    # projection that defines this column — pushdown substitutes the alias
    # and re-evaluates the whole UDF a second time over every row (observed:
    # 2x ArrowEvalPython in the plan, ~2x wall time). The UDF IS pure; this
    # flag only disables the (harmful here) rewrite.
    return _contains_n.asNondeterministic()(*cols)


def bloom_contains_col(bloom_bytes_bc, col: Column) -> Column:
    """Membership test of one column against a BROADCAST Bloom filter
    (fever's broadcast-side membership semantics,
    processing/bloom_handler.go:165+): bit 0 of ``bloom_contains_multi``,
    so NULL and ``""`` probes never match.

    ``bloom_bytes_bc`` is a ``sc.broadcast(filter.to_bytes())`` handle so the
    state ships once per executor, not once per task closure.
    """
    return bloom_contains_multi(bloom_bytes_bc, col) != 0
