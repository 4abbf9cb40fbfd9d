"""Deduplication operators for web-scale training-data pipelines.

Five families, from exact to approximate:

- exact:            hash-groupBy on a normalized-content fingerprint
- MinHash + LSH:    shingle → minhash signature → banded bucket join
- SimHash:          token-hash bit votes → Hamming-banded candidate join
- n-gram Jaccard:   exact set overlap via an inverted shingle index
- embedding cosine: the exact all-pairs reference and the one numpy
                    cosine kernel; the scale path is the IVF-cell search
                    curation.semantic_dedup_pairs, which runs that kernel
                    per cell

Scale notes (the part that matters at 10^12 docs):
- Signatures are computed in ONE vectorized pandas UDF pass (Arrow batches,
  flat numpy shingle arrays — no per-row Python beyond tokenization).
- Text candidate generation is always an equi-join on a band/bucket key —
  a shuffle on a key whose fan-out we control (band count), never an
  O(n²) cross join. Buckets with a single member never produce candidates.
- Verification (exact Jaccard / Hamming) touches only candidate pairs.

The reference's only dedup is the collect-set maps of its DNS aggregator
(/root/reference/processing/dns_aggregator.go:148-167); these operators are
the capability extension the graft asks for (instructions §"training-data
pipeline").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fever_spark.functions.text import fingerprint
from fever_spark.hashing import _splitmix64_vec, hash64
from fever_spark.ops.build import SketchSpec
from fever_spark.ops.merge import global_state

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", validate: bool = False) -> DataFrame:
    """Keep the lowest-id row per normalized-content fingerprint.

    No window: a fingerprint-partitioned window cannot be skew-split
    (AQE splits joins, never window partitions) and would shuffle FULL
    rows on the content key — a megadup content (empty docs, parked
    pages) pins every copy on one task. Instead the survivor ids come
    from a min-per-fingerprint aggregation over an (fp, id) projection —
    partial aggregation collapses hot keys map-side — and the full rows
    semi-join on the UNIQUE id key, which cannot skew. CONTRACT: ids must
    be unique and non-null — duplicate ids would all survive the
    semi-join, and a content group whose ids are all NULL yields a NULL
    min that matches nothing (the group would vanish instead of keeping
    one row). ``validate=True`` enforces the contract with one cheap
    map-side-combinable aggregation over the id column (count vs
    countDistinct vs non-null count) and fails loud on violation —
    turn it on when the ids come from an arbitrary external corpus."""
    if validate:
        chk = df.agg(F.count(F.lit(1)).alias("rows"),
                     F.count(id_col).alias("non_null"),
                     F.countDistinct(id_col).alias("distinct")).first()
        if chk["non_null"] != chk["rows"] or chk["distinct"] != chk["rows"]:
            raise ValueError(
                f"exact_dedup id contract violated on '{id_col}': "
                f"{chk['rows']} rows, {chk['non_null']} non-null ids, "
                f"{chk['distinct']} distinct ids — ids must be unique and "
                "non-null or duplicate-id rows all survive and all-NULL-id "
                "content groups vanish. Assign unique ids (e.g. "
                "xxhash64(url)) before deduplicating.")
    keep = (df.select(fingerprint(F.col(text_col)).alias("_fp"),
                      F.col(id_col))
            .groupBy("_fp").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------- shingles


def _flat_tokens(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Lowercased whitespace tokens of a batch, flattened: (per-doc token
    counts int64[n_docs], flat token object array). The only Python loop is
    the per-doc split; everything downstream is numpy."""
    tok_lists = [(t or "").lower().split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    flat = np.empty(int(lens.sum()), dtype=object)
    pos = 0
    for toks in tok_lists:
        flat[pos:pos + len(toks)] = toks
        pos += len(toks)
    return lens, flat


# position-distinct odd multipliers for combining a window of token hashes
# into one shingle hash (xor of products keeps token ORDER significant);
# fixed constants so signatures are stable across runs and processes
_SHINGLE_MULT = (_splitmix64_vec(np.arange(64, dtype=np.uint64),
                                 seed=0x5113)
                 | np.uint64(1))

# Version of the shingle-hash kernel behind MinHash signatures. Family 1
# siphashed joined shingle STRINGS; family 2 (round-5) combines per-token
# hashes with the multipliers above. Signatures from different families
# never collide in LSH bands, so persisted signature indexes carry this
# in their state params and refuse to screen against a mismatched build
# instead of silently matching nothing.
SIGNATURE_HASH_FAMILY = 2


def _hashed_shingles(texts: pd.Series, n: int,
                     seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat (doc_index int64, shingle_hash uint64) for a batch: one hash
    per word n-gram — every window of n consecutive lowercased whitespace
    tokens of a doc.

    Tokenize once, hash TOKENS (hash64 factorizes, so each distinct token
    is siphashed once — Zipf reuse makes this ~25x cheaper than siphashing
    near-distinct shingle strings), then combine each window of n
    consecutive token hashes with position-distinct odd multipliers.
    Profiled 4x faster end-to-end than the string-join + siphash path on
    300-token docs. Docs shorter than n tokens fall back to one shingle
    over all their tokens; empty docs contribute nothing. Output is
    doc-contiguous (reduceat-ready).

    NOTE: this is a different hash family than the pre-round-5 string
    shingles — MinHash signatures are not comparable across the change
    (rebuild any persisted signature index)."""
    lens, flat = _flat_tokens(texts)
    n_docs = len(lens)
    if len(flat) == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64))
    th = hash64(flat, seed=seed)
    total = len(th)
    # shingle count per doc: full windows, or one catch-all for short docs
    counts = np.where(lens >= n, lens - n + 1,
                      (lens > 0).astype(np.int64))
    out_doc = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    out_hash = np.empty(int(counts.sum()), dtype=np.uint64)
    if total >= n:
        # windowed combine over the flat array via shifted views, then keep
        # only windows that do not straddle a doc boundary
        with np.errstate(over="ignore"):
            acc = th[:total - n + 1] * _SHINGLE_MULT[0]
            for d in range(1, n):
                acc = acc ^ (th[d:total - n + 1 + d] * _SHINGLE_MULT[d])
        win_doc = np.repeat(np.arange(n_docs, dtype=np.int64),
                            lens)[:total - n + 1]
        end_doc = np.repeat(np.arange(n_docs, dtype=np.int64), lens)[n - 1:]
        full_rows = np.repeat(lens >= n, counts)
        out_hash[full_rows] = acc[win_doc == end_doc]
    short = np.nonzero((lens > 0) & (lens < n))[0]
    if len(short):
        starts = np.cumsum(lens) - lens
        short_rows = np.repeat((lens > 0) & (lens < n), counts)
        vals = np.empty(len(short), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for k, i in enumerate(short):
                s = int(starts[i])
                v = th[s] * _SHINGLE_MULT[0]
                for d in range(1, int(lens[i])):
                    v = v ^ (th[s + d] * _SHINGLE_MULT[d])
                vals[k] = v
        out_hash[short_rows] = vals
    return out_doc, out_hash


# ---------------------------------------------------------------- MinHash


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 128,
                       shingle_size: int = 3, seed: int = 0) -> DataFrame:
    """→ (id_col, minhash: array<bigint>). K-M double hashing gives the
    num_hashes permutations as h1 + k*h2 from two seeded splitmix64
    hashes of each uint64 shingle hash (``double_hash64``)."""
    if not 1 <= int(shingle_size) <= len(_SHINGLE_MULT):
        # the vectorized shingle kernel combines a window of token hashes
        # with one fixed multiplier per position — fail loudly here rather
        # than as an IndexError inside the executor-side UDF
        raise ValueError(
            f"shingle_size must be in [1, {len(_SHINGLE_MULT)}], "
            f"got {shingle_size}")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        from fever_spark.hashing import double_hash64

        n_docs = len(texts)
        out = np.full((n_docs, num_hashes), np.iinfo(np.int64).max,
                      dtype=np.int64)
        # one pass over the whole batch: cache-sized chunks measured
        # slower on real partitions; see BENCH/MEASUREMENTS.md
        doc_idx, shingles = _hashed_shingles(texts, shingle_size, seed)
        if len(shingles):
            h1, h2 = double_hash64(shingles, seed=seed)
            # shingles are emitted doc-contiguously → per-doc minima come
            # from ONE contiguous reduceat pass per permutation (~10x
            # faster than scattered minimum.at). The permutation values
            # h1 + k*h2 accumulate IN PLACE (one add per k instead of
            # mul+add+astype: identical mod-2^64 values, and .view(int64)
            # reinterprets the buffer without the copy astype paid) —
            # 2 memory passes per permutation instead of 4, measured
            # 2.3x on the kernel.
            present = np.unique(doc_idx)
            starts = np.searchsorted(doc_idx, present, side="left")
            with np.errstate(over="ignore"):
                acc = h1.copy()
                for k in range(num_hashes):
                    if k:
                        acc += h2
                    out[present, k] = np.minimum.reduceat(
                        acc.view(np.int64), starts)
        return pd.Series(list(out))

    return _text_input(df, text_col, id_col).select(
        id_col, sig(F.col(text_col)).alias("minhash"))


def _few_input_partitions(df: DataFrame, threshold: int = 4) -> bool:
    """File-count proxy for "this scan won't parallelize" — avoids the
    plan→RDD conversion of df.rdd.getNumPartitions()."""
    try:
        files = df.inputFiles()
    except Exception:
        return False
    return 0 < len(files) < threshold


def _text_input(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id_col, text_col) for a signing UDF (MinHash, SimHash); small
    parquet inputs arrive as 1 partition, so spread them over the cores."""
    target = df.select(id_col, F.col(text_col))
    if _few_input_partitions(df):
        target = target.repartition(
            df.sparkSession.sparkContext.defaultParallelism)
    return target


def minhash_jaccard(sig_a, sig_b) -> F.Column:
    """Estimated Jaccard = fraction of agreeing signature positions
    (pure zip_with/aggregate expressions, JVM-side)."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return agree / F.size(sig_a)


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 32, *, num_hashes: int) -> DataFrame:
    """Banded LSH: split each signature into `bands` row-chunks; docs sharing
    any band hash become a candidate pair. Returns (id_a, id_b, est_jaccard).

    Shuffle shape: explode → num_docs × bands rows, equi-join on
    (band, band_hash). AQE's skew-join split handles degenerate buckets
    (e.g. all-empty docs sharing the sentinel signature).

    ``num_hashes`` is the signature length the signatures were built
    with (minhash_near_duplicates threads its own parameter through)."""
    return _lsh_pairs(signatures, None, id_col, bands, num_hashes)


def _bucket_pairs(a: DataFrame, b: DataFrame | None,
                  keys: list[str]) -> DataFrame:
    """The one distinct-pairs bucket join behind MinHash-LSH (within and
    across corpora) and SimHash. ``a`` and ``b`` carry ``id``, the bucket
    ``keys`` and any payload columns; every non-key column ``c`` comes out
    as ``c_a`` / ``c_b``. ``b=None`` joins ``a`` with itself and keeps
    ``id_a < id_b``. Returns one row per distinct (id_a, id_b), keys
    dropped: pairs sharing several buckets collapse to one."""
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(*keys, *[F.col(c).alias(f"{c}_{tag}")
                                  for c in df.columns if c not in keys])

    self_join = b is None
    pairs = side(a, "a").join(side(a if self_join else b, "b"), keys)
    if self_join:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return (pairs.select(*[c for c in pairs.columns if c not in keys])
            .dropDuplicates(["id_a", "id_b"]))


def _lsh_pairs(sigs_a: DataFrame, sigs_b: DataFrame | None, id_col: str,
               bands: int, num_hashes: int) -> DataFrame:
    """(id_a, id_b, est_jaccard) for every pair sharing a band hash:
    within ``sigs_a`` (``sigs_b=None``, id_a < id_b) or from ``sigs_a``
    to ``sigs_b``. Both are (id_col, minhash) signature frames."""
    # never more bands than signature rows: bands beyond the signature
    # would slice empty arrays → one constant hash shared by EVERY doc →
    # the equi-join degenerates into an all-pairs cross join
    bands = min(bands, num_hashes)
    rows = max(1, num_hashes // bands)

    def banded(sigs: DataFrame) -> DataFrame:
        # (id, band, band_hash), IDS ONLY: the 128-long signature arrays
        # (~1 KB/doc) stay out of the bands×docs explode and the join
        # shuffle (~50x fewer candidate-shuffle bytes). The persisted
        # index stores SIGNATURES, so both sides recompute band hashes
        # here and the formula can evolve without versioning state. The
        # band hash chains xxhash64(acc, element) over the slice; every
        # other formula, a groupBy+collect_list rewrite and a bucket-count
        # prefilter measured slower (see BENCH/MEASUREMENTS.md)
        return sigs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.aggregate(
                    F.slice("minhash", b * rows + 1, rows),
                    F.lit(-1205034819632174695),  # xxhash64 chain seed
                    lambda acc, x: F.xxhash64(acc, x)))).alias(
                        "band", "band_hash"))

    cand = _bucket_pairs(banded(sigs_a),
                         None if sigs_b is None else banded(sigs_b),
                         ["band", "band_hash"])
    # signatures re-attach once per SURVIVING pair. No signature
    # semi-filter: AQE broadcasts the pair side, so it measured net
    # slower; bring it back only gated on a pair frame too big to
    # broadcast; see BENCH/MEASUREMENTS.md
    sigs_b = sigs_a if sigs_b is None else sigs_b
    sig_a = sigs_a.select(F.col(id_col).alias("id_a"),
                          F.col("minhash").alias("sig_a"))
    sig_b = sigs_b.select(F.col(id_col).alias("id_b"),
                          F.col("minhash").alias("sig_b"))
    return (cand.join(sig_a, "id_a").join(sig_b, "id_b")
            .select("id_a", "id_b",
                    minhash_jaccard(F.col("sig_a"), F.col("sig_b"))
                    .alias("est_jaccard")))


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", threshold: float = 0.7,
                            num_hashes: int = 128, bands: int = 32,
                            shingle_size: int = 3) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs at est_jaccard >= threshold.

    Signatures are materialized once (lazy localCheckpoint, memory-and-
    disk) because the candidate stage references them three times (banding
    + both re-attach joins); at 100-TB scale this is the signature
    checkpoint you'd write to parquet. localCheckpoint rather than persist
    so the cached table is ContextCleaner-managed — long-lived sessions
    calling this repeatedly (curate, ingest batches) must not accumulate
    CacheManager entries that nothing ever unpersists."""
    sigs = (minhash_signatures(df, text_col, id_col, num_hashes, shingle_size)
            .localCheckpoint(eager=False))
    pairs = lsh_candidate_pairs(sigs, id_col, bands, num_hashes=num_hashes)
    return pairs.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------- SimHash


def simhash_column(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """→ (id_col, simhash: long). 64-bit SimHash: each token votes its hash
    bits weighted by term frequency; sign of the vote sum sets each bit.
    Vectorized: flat token hash array → per-doc bincount votes."""

    @F.pandas_udf(T.LongType())
    def sim(texts: pd.Series) -> pd.Series:
        n_docs = len(texts)
        lens, toks = _flat_tokens(texts)
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        votes = np.zeros((n_docs, 64), dtype=np.int64)
        if len(toks):
            h = hash64(toks, seed=seed)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)) \
                .astype(np.int8)
            bits = bits * 2 - 1
            # doc-contiguous tokens → one reduceat pass over the vote matrix
            present = np.unique(doc_idx)
            starts = np.searchsorted(doc_idx, present, side="left")
            votes[present] = np.add.reduceat(bits.astype(np.int32), starts, axis=0)
        out = (votes > 0).astype(np.uint64)
        packed = np.zeros(n_docs, dtype=np.uint64)
        for b in range(64):
            packed |= out[:, b] << np.uint64(b)
        return pd.Series(packed.astype(np.int64))

    return _text_input(df, text_col, id_col).select(
        id_col, sim(F.col(text_col)).alias("simhash"))


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", max_hamming: int = 3,
                            seed: int = 0) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Candidate generation by the pigeonhole principle: split 64 bits into
    (max_hamming + 1) bands — any pair within the Hamming budget must agree
    exactly on at least one band. Equi-join per band, then exact popcount
    verification with the built-in bit_count (JVM)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    sh = simhash_column(df, text_col, id_col, seed)
    mask = (1 << width) - 1
    band_exprs = [F.shiftrightunsigned(F.col("simhash"), b * width)
                  .bitwiseAND(F.lit(mask)) for b in range(n_bands)]
    banded = sh.select(
        F.col(id_col).alias("id"), "simhash",
        F.posexplode(F.array(*band_exprs)).alias("band", "band_key"))
    # the 8-byte simhash rides inside the join: no re-attach join
    pairs = _bucket_pairs(banded, None, ["band", "band_key"])
    return (pairs.withColumn("hamming", F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle index —
    fully SQL-expressible (this is the dedup operator with a DuckDB oracle).

    explode distinct shingles → self-join on shingle → |A∩B| per pair →
    |A∪B| = |A|+|B|−|A∩B|. The shingle join key bounds the shuffle; a
    hot shingle is the skew case AQE splits."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    shingled = (df.select(F.col(id_col).alias("id"), grams.alias("grams"))
                .filter(F.size("grams") > 0)
                .withColumn("n_grams", F.size("grams")))
    inv = shingled.select("id", "n_grams", F.explode("grams").alias("gram"))
    a = inv.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"), "gram")
    b = inv.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"), "gram")
    inter = (a.join(b, "gram").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b", "na", "nb")
             .agg(F.count(F.lit(1)).alias("shared")))
    return (inter.withColumn(
        "jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


# ---------------------------------------------------------------- embeddings


_PAIRS_SCHEMA = "id_a long, id_b long, cosine double"


def _cosine_pairs(pdf: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Exact all-pairs cosine over one group of (id, v) rows — the one
    numpy kernel behind both embedding near-dup paths (the all-pairs
    reference below and curation.semantic_dedup_pairs' IVF cells).

    One matmul over unit vectors; a pair that involves a zero vector
    has cosine -1.0, as DuckDB's ``list_cosine_similarity`` gives it. The
    UNROUNDED cosine is compared to ``threshold`` (DuckDB's
    ``list_cosine_similarity >= t`` rule), and each kept pair is emitted
    once as (lo id, hi id, cosine rounded to 6 places). Memory is
    O(group²): the group size is the caller's knob."""
    ids = pdf["id"].to_numpy()
    M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(M, axis=1)
    zero = norms == 0
    M /= np.where(zero, 1.0, norms)[:, None]
    ia, ib = np.triu_indices(len(M), k=1)
    cos = (M @ M.T)[ia, ib]
    cos[zero[ia] | zero[ib]] = -1.0
    keep = cos >= threshold
    a, b = ids[ia[keep]], ids[ib[keep]]
    return pd.DataFrame({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b),
                         "cosine": np.round(cos[keep], 6)})


def embedding_near_duplicates(df: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.95) -> DataFrame:
    """EXACT near-dup pairs (id_a, id_b, cosine) with cosine >= threshold,
    id_a < id_b: the whole frame is ONE group through ``_cosine_pairs``.

    O(n²) time and memory on a single task — the reference for small
    inputs and oracles, not a scale path. At corpus scale use
    curation.semantic_dedup_pairs, which runs the same kernel per k-means
    cell."""
    return (df.select(F.lit(0).alias("_g"), F.col(id_col).alias("id"),
                      F.col(vec_col).alias("v"))
            .groupBy("_g")
            .applyInPandas(lambda pdf: _cosine_pairs(pdf, threshold),
                           _PAIRS_SCHEMA))


# ---------------------------------------------------------------- clusters


def _components_roots(a: np.ndarray,
                      b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized connected components over edge arrays: hook-and-jump
    (hook the larger root under the smaller, then pointer-jump until
    compressed) — O(E) numpy work per outer round, O(log n) rounds.
    Returns (ids, min_reachable_id) ARRAYS for every id in the edges;
    id order (numeric or lexicographic) matches F.min exactly, so the
    output is byte-identical to the distributed label-propagation path."""
    ids = np.unique(np.concatenate([a, b]))  # sorted: index order = id order
    ia, ib = np.searchsorted(ids, a), np.searchsorted(ids, b)
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        pa, pb = parent[ia], parent[ib]
        lo, hi = np.minimum(pa, pb), np.maximum(pa, pb)
        moved = parent[hi] > lo
        if moved.any():
            np.minimum.at(parent, hi[moved], lo[moved])
        jumped = False
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent, jumped = nxt, True
        if not moved.any() and not jumped:
            break
    return ids, ids[parent]


# pair count at or under which near_dup_clusters labels components on the
# driver (see there)
DRIVER_PAIRS_THRESHOLD = 1_000_000


def near_dup_clusters(pairs: DataFrame,
                      max_iterations: int = 20) -> DataFrame:
    """Candidate pairs → connected components: (id, cluster_id) for every id
    in `pairs`, cluster_id = the MINIMUM id reachable through any chain of
    pairs (transitive closure — a-b plus b-c places a, b, c together even
    when a-c was never emitted as a pair).

    Hierarchical by SIZE, like the quality-classifier trainer's driver
    path: verified near-dup pairs are tiny relative to the corpus (the
    expensive part was finding them), and each distributed propagation
    round costs ~3 Spark jobs of fixed overhead — so when the pair count
    is at or under ``DRIVER_PAIRS_THRESHOLD`` the components are computed
    on the DRIVER with vectorized numpy pointer-jumping (O(E · log D)
    array ops, <1s at the 1M bound, ~16 MB of longs) and returned
    as a small createDataFrame. The threshold check costs one count over
    the already-materialized pair checkpoint that both paths need.

    Above the bound: distributed min-label propagation — each round every
    node takes the min of its own label and its neighbors' labels;
    converges in O(component diameter) rounds. Near-dup components are
    overwhelmingly tiny (dup clusters, not social graphs), so a handful
    of rounds suffices; lineage is cut with localCheckpoint each round so
    the plan stays flat, and convergence is detected by counting changed
    labels (an aggregate, not a collect of labels). At extreme diameters
    swap in star-contraction (Kiveris et al., "Connected Components in
    MapReduce"), which this label-frame shape supports directly.

    Both paths produce IDENTICAL output: cluster_id = min reachable id
    (min = numeric or lexicographic per the id type, same as F.min).
    """
    spark = pairs.sparkSession
    # materialize the pairs ONCE (every consumer needs them; the LSH
    # pipeline upstream must not run twice), then route by size
    pairs_ck = (pairs.select("id_a", "id_b")
                .localCheckpoint(eager=True))
    if pairs_ck.count() <= DRIVER_PAIRS_THRESHOLD:
        near_dup_clusters.last_rounds = 0  # driver path: no Spark rounds
        id_type = pairs_ck.schema["id_a"].dataType
        schema = T.StructType([T.StructField("id", id_type),
                               T.StructField("cluster_id", id_type)])
        pdf = pairs_ck.toPandas()
        if not len(pdf):
            return spark.createDataFrame([], schema)
        ids, roots = _components_roots(pdf["id_a"].to_numpy(),
                                       pdf["id_b"].to_numpy())
        # ship the label table back through Arrow (one columnar batch)
        # rather than a list of Python tuples: createDataFrame over rows
        # pickles per element — measured as most of the driver-side
        # clustering wall at 130k pairs
        return spark.createDataFrame(
            pd.DataFrame({"id": ids, "cluster_id": roots}), schema)
    edges = (pairs_ck.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst"))
             .union(pairs_ck.select(F.col("id_b").alias("src"),
                                    F.col("id_a").alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    # Convergence is CHECKED only every `check_every` rounds: the check is a
    # join+count job, and dup components are shallow (most corpora converge
    # in <=3 rounds), so checking every round nearly doubles the job count.
    # Propagation is idempotent at the fixpoint, so a state that converged
    # on an unchecked round still reads changed == 0 at the next check; the
    # cost is at most check_every-1 extra (cheap, no-op) propagation rounds.
    check_every = 2
    changed = None
    rounds = 0
    for i in range(max_iterations):
        neighbor = (edges.join(labels, edges.src == labels.id)
                    .select(F.col("dst").alias("id"), "label"))
        new_labels = (labels.select("id", "label").union(neighbor)
                      .groupBy("id").agg(F.min("label").alias("label"))
                      .localCheckpoint(eager=True))
        rounds = i + 1
        do_check = (i % check_every == check_every - 1
                    or i == max_iterations - 1)
        if do_check:
            changed = (new_labels
                       .join(labels.withColumnRenamed("label", "old"), "id")
                       .filter(F.col("label") != F.col("old")).count())
        labels = new_labels
        if do_check and changed == 0:
            break
    else:
        # a silently-split cluster keeps duplicate "canonicals" — fail loud
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} "
            f"rounds ({changed} labels still moving): a dup-chain diameter "
            "exceeds max_iterations — raise it, or switch to "
            "star-contraction for adversarial chain shapes")
    # round-count telemetry (read by tests / perf triage)
    near_dup_clusters.last_rounds = rounds
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         rank_col: str | None = None) -> DataFrame:
    """End-to-end near-dup dedup: keep ONE canonical doc per connected
    component of `pairs`, plus every doc that paired with nothing. This
    is the "pairs → survivors" step a training-data pipeline runs after
    any candidate generator (LSH/SimHash/Jaccard/embedding).

    Default canonical = min id (deterministic, no extra data needed).
    ``rank_col`` names a numeric column of ``df`` (e.g. a quality score)
    to keep the HIGHEST-ranked member instead — near-dup clusters often
    mix a clean page with boilerplate-laden copies, and min-id throws
    away quality information the pipeline already computed. Ties (and
    null ranks, which sort below every real rank) break to min id, so
    the choice is deterministic. Cost: one extra hash join of the
    cluster frame (paired docs only — tiny next to the corpus) against
    an (id, rank) projection; per-cluster argmax is a map-side-combined
    min_by, no window."""
    clusters = near_dup_clusters(pairs)
    if rank_col is not None:
        ranked = clusters.join(
            df.select(F.col(id_col).alias("id"),
                      F.coalesce(F.col(rank_col).cast("double"),
                                 F.lit(float("-inf"))).alias("_rank")),
            "id", "left")
        winners = (ranked.groupBy("cluster_id")
                   .agg(F.min_by(
                       F.col("id"),
                       F.struct((-F.coalesce(F.col("_rank"),
                                             F.lit(float("-inf"))))
                                .alias("neg_rank"),
                                F.col("id").alias("id"))).alias("keep_id")))
        losers = (clusters.join(winners, "cluster_id")
                  .filter(F.col("id") != F.col("keep_id"))
                  .select(F.col("id").alias(id_col)))
    else:
        losers = clusters.filter(F.col("id") != F.col("cluster_id")) \
            .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------ incremental (cross-corpus)


def corpus_fingerprint_bloom(df: DataFrame, text_col: str = "text",
                             capacity: int | None = None,
                             fpp: float = 1e-6) -> bytes:
    """Serialize a Bloom filter over a corpus's normalized-content
    fingerprints — the compact "what have we already ingested" state for
    incremental dedup. Built DISTRIBUTED through the standard sketch
    pipeline (partition-local states → two-level salted merge), so the
    reference corpus is scanned once per pass and only O(bloom_bytes)
    ever reaches the driver. Fingerprints are hashed JVM-side (prehash
    discipline: int64 crosses Arrow, never text).

    PASS ``capacity`` at scale: omitting it sizes the filter with a
    ``count()`` — a second full scan of the corpus before the build. At
    ingestion time the row count is already in the pipeline manifest."""
    if capacity is None:
        capacity = max(df.count(), 100)
    return global_state(
        df.select(fingerprint(F.col(text_col)).alias("_fp")),
        SketchSpec("seen", "bloom", "_fp",
                   {"capacity": int(capacity), "fpp": fpp}))


def incremental_exact_dedup(new_df: DataFrame, seen_bloom_bc,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            exact_check: DataFrame | None = None) -> DataFrame:
    """Incremental-ingestion dedup: keep only rows of ``new_df`` whose
    content was NOT in the already-ingested corpus, using fever's
    screen-then-verify discipline (bloom_handler.go semantics applied to
    ingestion instead of IOC matching):

    1. Bloom screen against the broadcast ``corpus_fingerprint_bloom``
       state — zero false negatives, so a fingerprint the filter rejects
       is GUARANTEED unseen: those rows pass with no join at all. At
       corpus scale this is the whole win: the new batch never shuffles
       against the 10^12-row history, it probes ~bytes of broadcast state.
    2. Bloom false positives (rate ``fpp``) would wrongly drop new
       documents; pass ``exact_check`` = a (fingerprint) frame of the true
       corpus fingerprints (column `_fp`) to resolve ONLY the flagged
       rows with an exact anti-join — the flagged subset is
       new_batch x fpp + true_dups, tiny by construction.

    Also dedups WITHIN the new batch (first occurrence by id), so output
    is ingestion-safe: appending it to the corpus keeps the corpus exact-
    duplicate-free. Same id contract as exact_dedup: unique, non-null."""
    from fever_spark.ops.estimate import bloom_contains_col

    # within-batch first occurrence WITHOUT a window (same skew argument
    # as exact_dedup: min-agg is map-side combinable, the semi-join key
    # is the unique id)
    with_fp = new_df.withColumn("_fp", fingerprint(F.col(text_col)))
    first_ids = (with_fp.select("_fp", id_col)
                 .groupBy("_fp").agg(F.min(id_col).alias(id_col))
                 .select(id_col))
    batch_first = with_fp.join(first_ids, id_col, "left_semi")
    flagged = bloom_contains_col(seen_bloom_bc, F.col("_fp"))
    if exact_check is None:
        # screen-only: FP-rate over-drop accepted (documented)
        return batch_first.filter(~flagged).drop("_fp")
    clean = batch_first.filter(~flagged)
    suspect = (batch_first.filter(flagged)
               .join(exact_check.select(F.col("_fp")).distinct(),
                     "_fp", "left_anti"))
    return clean.unionByName(suspect).drop("_fp")


def incremental_near_duplicates(new_signatures: DataFrame,
                                old_signatures: DataFrame,
                                id_col: str = "doc_id",
                                threshold: float = 0.7,
                                num_hashes: int = 128,
                                bands: int = 32) -> DataFrame:
    """Near-dup pairs BETWEEN a new batch and the already-ingested corpus:
    (new_id, old_id, est_jaccard >= threshold). Both sides are
    (id_col, minhash) signature frames; the corpus side is its persisted
    signature table (``minhash_signatures(old)`` written to parquet at
    ingestion time — the reusable index), so incremental near-dup never
    re-reads or re-signs the history. The new side's signatures MUST come
    from the same (num_hashes, shingle_size, seed) as the index — band
    hashes are only comparable when the underlying permutations are.

    Same join as lsh_candidate_pairs (``_lsh_pairs``): the band join
    ships (id, band, hash8) rows; full signatures re-attach only to
    surviving candidates. The corpus banding is recomputed from the
    signature table (cheap codegen over arrays), never from text."""
    return (_lsh_pairs(new_signatures, old_signatures, id_col, bands,
                       num_hashes)
            .filter(F.col("est_jaccard") >= threshold)
            .select(F.col("id_a").alias("new_id"),
                    F.col("id_b").alias("old_id"), "est_jaccard"))
