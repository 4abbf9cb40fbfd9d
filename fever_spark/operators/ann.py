"""Similarity search over embedding columns.

Baseline: exact cosine top-k — one vectorized matrix-vector product
per Arrow batch (the whole corpus is scanned, map-side only, then a global
top-k which Spark executes as per-partition TakeOrdered + driver merge: no
shuffle of the corpus).

Scale path: IVF — k-means-style coarse quantizer (trained on a sample,
broadcast), each vector assigned to its nearest centroid partition; queries
probe only the closest `n_probe` cells. Candidate set shrinks by
n_cells/n_probe while recall stays high for clustered data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _unit(v: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def exact_topk(df: DataFrame, query: np.ndarray, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: (id, cosine), descending."""
    q = _unit(np.asarray(query, dtype=np.float64))
    qb = df.sparkSession.sparkContext.broadcast(q)

    @F.pandas_udf(T.DoubleType())
    def cos(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series((M @ qb.value) / norms)

    return (df.select(F.col(id_col), F.round(cos(F.col(vec_col)), 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(k))


def train_ivf_centroids(df: DataFrame, n_cells: int = 16,
                        vec_col: str = "embedding", sample_rows: int = 10_000,
                        iters: int = 10, seed: int = 5) -> np.ndarray:
    """Driver-side mini k-means on a DETERMINISTIC UNIFORM sample — the
    coarse quantizer. The sample (≤ sample_rows) is the only data that
    leaves the executors.

    The sample is the bottom-`sample_rows` rows by xxhash64(vector) — the
    KMV/bottom-k discipline (operators/sampling.py): membership is a pure
    function of the row, so the SAME sample is drawn on any partition
    layout, any cluster, any run. A plain ``limit(sample_rows)`` is NOT
    that: Spark serves limit() from the first partition(s), so at scale the
    trainer would see one shard of the corpus (one day / one crawl segment)
    and the centroids would bias to it, silently degrading recall for
    everything else. When the corpus is much larger than the sample, a
    hash-threshold pre-filter (rate ≈ 4×sample/total) bounds the top-k
    merge so the driver never sees more than ~4×sample_rows candidates."""
    total = df.count()
    if total == 0:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    h = F.xxhash64(F.col(vec_col), F.lit(seed))
    pool = df.select(F.col(vec_col), h.alias("_h"))
    if total > 4 * sample_rows:
        # deterministic pre-filter: keeps ~4x the sample, so the TakeOrdered
        # below merges a bounded candidate set, not per-partition top-k of
        # the whole corpus
        _BUCKETS = 1 << 20
        pool = pool.filter(
            F.pmod(F.col("_h"), F.lit(_BUCKETS))
            < int(4 * sample_rows / total * _BUCKETS) + 1)
    sample = (pool.orderBy("_h").limit(min(sample_rows, total))
              .select(vec_col).toPandas()[vec_col])
    M = np.stack(sample.to_numpy()).astype(np.float64)
    M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = M[rng.choice(len(M), size=min(n_cells, len(M)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(M @ C.T, axis=1)
        for c in range(len(C)):
            members = M[assign == c]
            if len(members):
                C[c] = _unit(members.mean(axis=0))
    return C


def _nearest_cells(vecs: pd.Series, centroids: np.ndarray,
                   k: int) -> np.ndarray:
    """int32[n, k]: each vector's k nearest cells by cosine, nearest first
    (ties to the lower cell id). Vectors and centroids are unit-normalized
    with norms floored at 1e-12."""
    M = np.stack(vecs.to_numpy()).astype(np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    C = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    return np.argsort(-(M @ C.T), axis=1,
                      kind="stable")[:, :k].astype(np.int32)


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Add a `cell` column = nearest centroid id. At scale the table is
    written partitioned by cell so probes prune partitions."""
    cb = df.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf(T.IntegerType())
    def cell(vecs: pd.Series) -> pd.Series:
        return pd.Series(_nearest_cells(vecs, cb.value, 1)[:, 0])

    return df.withColumn("cell", cell(F.col(vec_col)))


def ivf_topk(df_with_cells: DataFrame, centroids: np.ndarray,
             query: np.ndarray, k: int = 10, n_probe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Probe the n_probe nearest cells only, then exact cosine top-k within
    the candidates. The cell filter is a pushed-down predicate."""
    q = _unit(np.asarray(query, dtype=np.float64))
    order = np.argsort(-(centroids @ q))[:n_probe]
    cells = [int(c) for c in order]
    candidates = df_with_cells.filter(F.col("cell").isin(cells))
    return exact_topk(candidates, q, k, vec_col, id_col)
