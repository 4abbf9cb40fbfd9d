"""N-gram language-model perplexity scoring — the CCNet quality signal.

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks crawled documents by the perplexity
of a language model trained on a trusted corpus: low perplexity ≈
well-formed prose, high ≈ gibberish/boilerplate/wrong language. The
original uses a KenLM 5-gram model; this is the same signal from a
Jelinek–Mercer-interpolated word n-gram model small enough to broadcast —
trained distributed, scored in one Arrow pass.

Scale shape mirrors functions/bpe.py: TRAINING is ONE raw-text scan
(all 1..order grams explode in a single map-side-combined groupBy) and
ONE driver collect (two-level per-order rank — see train_ngram_lm); the
model is the top-``max_ngrams`` counts per order (truncation loud in
stats — the tail carries negligible probability mass), broadcast once.
SCORING is a pandas iterator over docs: per-token log-prob from the
highest matching order, backing off with fixed interpolation weights;
zero shuffle, zero join.
"""

from __future__ import annotations

import math
from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fever_spark.hashing import _splitmix64_vec

__all__ = ["train_ngram_lm", "perplexity", "NgramLM"]

# ------------------------------------------------------ vectorized scoring
#
# Scoring must run over every surviving page of a 100-TB crawl, so the
# per-token work has to live in numpy, not a Python dict loop. The model
# becomes, per order, a SORTED uint64 array of hashed n-gram keys plus an
# aligned count array (same again for contexts); a document batch becomes
# one flat padded token-id array, its n-gram hashes are rolled with
# vectorized uint64 polynomial mixing, and every probe is one
# np.searchsorted. Arithmetic mirrors NgramLM.logprob operation-for-
# operation so the vectorized scores match the pure-Python reference to
# float64 rounding (tested at rel=1e-9).

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _poly_hash(id_mat: "np.ndarray", tok_hash: "np.ndarray") -> "np.ndarray":
    """Hash each row of an (m, n) token-id matrix: polynomial combine of
    the per-token splitmix hashes, uint64 wraparound. n=1 rows hash to the
    bare token hash, so unigram keys and context keys stay consistent."""
    h = tok_hash[id_mat[:, 0]].copy()
    for j in range(1, id_mat.shape[1]):
        h = h * _MIX + tok_hash[id_mat[:, j]]
    return h


class _HashTable:
    """Sorted-key lookup accelerated by a top-bits bucket index: the keys
    are uniform hashes, so bucketing on their top ceil(log2(m)) bits puts
    ~1 key per bucket and a probe is ONE direct index + a short linear
    scan (expected <2 touches) instead of an 18-level binary search —
    measured ~6x faster than np.searchsorted at 300k keys and O(1) at any
    model size. Memory: one extra int64 per bucket (≈ one per key)."""

    __slots__ = ("keys", "vals", "bstart", "shift")

    def __init__(self, keys: "np.ndarray", vals: "np.ndarray"):
        self.keys = keys                       # sorted uint64
        self.vals = vals
        m = len(keys)
        bits = max(1, int(m - 1).bit_length()) if m else 1
        self.shift = np.uint64(64 - bits)
        counts = np.bincount((keys >> self.shift).astype(np.int64),
                             minlength=1 << bits)
        self.bstart = np.concatenate(
            ([0], np.cumsum(counts))).astype(np.int64)

    def probe(self, h: "np.ndarray") -> "np.ndarray":
        """vals where key == h else 0.0, vectorized."""
        if len(self.keys) == 0:
            return np.zeros(len(h))
        b = (h >> self.shift).astype(np.int64)
        lo = self.bstart[b].copy()
        hi = self.bstart[b + 1]
        res = np.zeros(len(h))
        act = np.flatnonzero(lo < hi)
        while act.size:
            hit = self.keys[lo[act]] == h[act]
            if hit.any():
                found = act[hit]
                res[found] = self.vals[lo[found]]
            lo[act] += 1
            act = act[~hit & (lo[act] < hi[act])]
        return res


class _VectorLM:
    """Broadcast-side probe tables: token index + per-order sorted hashed
    key/count arrays. ~16 bytes per kept n-gram per order plus the token
    strings — far smaller than the training dicts it replaces."""

    def __init__(self, lm: "NgramLM"):
        self.order = lm.order
        self.k = float(lm.k)
        self.vocab_size = lm.vocab_size
        self.wts = lm.weights()
        vocab_tokens = [g[0] for g in lm.counts[0]]
        tokset = set(vocab_tokens)
        tokens = vocab_tokens + [t for t in (BOS, EOS, UNK)
                                 if t not in tokset]
        # document tokens UNK-map against the KEPT unigram vocab only —
        # the padding ids appended above are reserved for synthetic BOS/
        # EOS positions. If BOS/EOS were truncated out of the kept table,
        # a literal '<s>' document token must become UNK here exactly as
        # NgramLM.doc_logprob maps it (vocab positions are a prefix of
        # ``tokens``, so indexer hits are already the right ids).
        self.index = pd.Index(np.asarray(vocab_tokens, dtype=object))
        ids = {t: i for i, t in enumerate(tokens)}
        self.bos, self.eos, self.unk = ids[BOS], ids[EOS], ids[UNK]
        self.tok_hash = _splitmix64_vec(
            np.arange(len(tokens), dtype=np.uint64), 0)
        self.tot1 = float(lm.context_totals[0].get((), 0))
        self.tables = [self._build(lm.counts[n - 1], ids)
                       for n in range(1, self.order + 1)]
        self.ctx_tables = [None] + [self._build(lm.context_totals[n - 1],
                                                ids)
                                    for n in range(2, self.order + 1)]

    def _build(self, table: dict, ids: dict) -> _HashTable:
        grams, counts = [], []
        for g, c in table.items():
            # a gram containing a non-vocab token is unreachable: scoring
            # UNK-maps every out-of-vocab document token first
            row = [ids.get(t, -1) for t in g]
            if -1 not in row:
                grams.append(row)
                counts.append(c)
        if not grams:
            return _HashTable(np.empty(0, dtype=np.uint64),
                              np.empty(0, dtype=np.float64))
        h = _poly_hash(np.asarray(grams, dtype=np.int64), self.tok_hash)
        if np.unique(h).size != h.size:     # pragma: no cover — ~2^-64
            raise RuntimeError("hash collision in vectorized LM tables")
        order_ = np.argsort(h)
        return _HashTable(h[order_],
                          np.asarray(counts, dtype=np.float64)[order_])

    def score_tokens(self, token_lists: list) -> "np.ndarray":
        """Perplexity per document for a batch of NON-EMPTY token lists."""
        order = self.order
        L = np.asarray([len(t) for t in token_lists], dtype=np.int64)
        flat = np.asarray(list(chain.from_iterable(token_lists)),
                          dtype=object)
        ids_flat = self.index.get_indexer(flat)
        ids_flat[ids_flat < 0] = self.unk
        # one padded id array: BOS*(order-1) + doc + EOS, docs back-to-back
        P = L + order
        pstart = np.concatenate(([0], np.cumsum(P)[:-1]))
        padded = np.full(int(P.sum()), self.bos, dtype=np.int64)
        lstart = np.concatenate(([0], np.cumsum(L)[:-1]))
        tok_pos = (np.repeat(pstart + order - 1, L)
                   + np.arange(int(L.sum())) - np.repeat(lstart, L))
        padded[tok_pos] = ids_flat
        padded[pstart + P - 1] = self.eos
        # scoring positions: every non-BOS-pad slot; windows ending there
        # stay inside their own doc, so one flat array needs no boundaries
        S = L + 1
        sstart = np.concatenate(([0], np.cumsum(S)[:-1]))
        pos = (np.repeat(pstart + order - 1, S)
               + np.arange(int(S.sum())) - np.repeat(sstart, S))
        th = self.tok_hash[padded]
        num = np.zeros(len(pos))
        den = np.zeros(len(pos))
        for i, w in enumerate(self.wts):      # i=0 → highest order
            n = order - i
            h = th[pos - n + 1].copy()
            for j in range(1, n):
                h = h * _MIX + th[pos - n + 1 + j]
            if n > 1:
                c = th[pos - n + 1].copy()
                for j in range(1, n - 1):
                    c = c * _MIX + th[pos - n + 1 + j]
                ctot = self.ctx_tables[n - 1].probe(c)
                cnt = self.tables[n - 1].probe(h)
                seen = ctot > 0
                num += w * np.where(seen, cnt / np.where(seen, ctot, 1.0),
                                    0.0)
                den += w * seen
            else:
                cnt = self.tables[0].probe(h)
                num += w * ((cnt + self.k)
                            / (self.tot1 + self.k * self.vocab_size))
                den += w
        lp = np.log2(num / den)
        return 2.0 ** (-(np.add.reduceat(lp, sstart) / S))

BOS = "<s>"
EOS = "</s>"
UNK = "<unk>"


def _tokens_col(text_col: str, lowercase: bool):
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    return F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != "")


class NgramLM:
    """Broadcastable model state: per-order count dicts + vocab size.
    Probability of token w given context c: Jelinek–Mercer interpolation
    of maximum-likelihood estimates at orders n..2 with an add-k unigram
    floor, weights renormalized over the orders whose CONTEXT was seen.
    Add-k at the higher orders would floor every unseen n-gram at ~1/V
    regardless of word identity — gibberish and prose would score alike
    (measured); ML-with-backoff sends unseen-word mass down to the
    unigram, which punishes OOV properly, and the per-context weight
    renormalization keeps Σ_w p(w|c) = 1 exactly (tested)."""

    def __init__(self, order: int, counts: list[dict], context_totals:
                 list[dict], vocab_size: int, k: float = 0.1,
                 stats: dict | None = None):
        self.order = order
        self.counts = counts                  # counts[i]: (i+1)-gram -> n
        self.context_totals = context_totals  # totals[i]: i-gram ctx -> n
        self.vocab_size = max(vocab_size, 1)
        self.k = k
        self.stats = stats or {}
        self._vm: _VectorLM | None = None

    def vectorized(self) -> "_VectorLM":
        """Numpy probe tables for distributed scoring (built once,
        cached; this is what perplexity() broadcasts)."""
        if self._vm is None:
            self._vm = _VectorLM(self)
        return self._vm

    def weights(self) -> list:
        """Interpolation weights, highest order first. The published
        5-entry ladder for order <= 5; beyond that each extra order
        extends the geometric tail (half the previous weight) so the
        unigram floor is NEVER dropped — with a truncated list an
        unseen-context doc at order>5 would hit log2(0)."""
        w = [0.7, 0.2, 0.1, 0.05, 0.025]
        while len(w) < self.order:
            w.append(w[-1] / 2)
        return w[:self.order]

    def logprob(self, context: tuple, word: str) -> float:
        """log2 p(word | context) under the interpolation above."""
        weights = self.weights()
        num = 0.0
        den = 0.0
        for i, w in enumerate(weights):      # i=0 → highest order
            n = self.order - i
            if n > 1:
                ctx = context[len(context) - (n - 1):]
                tot = self.context_totals[n - 1].get(ctx, 0)
                if tot == 0:
                    continue  # unseen context: order drops out entirely
                p_n = self.counts[n - 1].get(ctx + (word,), 0) / tot
            else:
                tot = self.context_totals[0].get((), 0)
                p_n = ((self.counts[0].get((word,), 0) + self.k)
                       / (tot + self.k * self.vocab_size))
            num += w * p_n
            den += w
        return math.log2(num / den)

    def doc_logprob(self, tokens: list[str]) -> tuple[float, int]:
        vocab = self.counts[0]
        toks = [t if (t,) in vocab else UNK for t in tokens] + [EOS]
        context = tuple([BOS] * (self.order - 1))
        total = 0.0
        for t in toks:
            total += self.logprob(context, t)
            context = (context + (t,))[1:] if self.order > 1 else ()
        return total, len(toks)


def train_ngram_lm(df: DataFrame, order: int = 3, text_col: str = "text",
                   lowercase: bool = True, max_ngrams: int = 2_000_000,
                   min_count: int = 1, k: float = 0.1) -> NgramLM:
    """Train over a (trusted) corpus: one distributed count per order,
    BOS/EOS padded, top-``max_ngrams`` per order kept. Everything after
    the groupBys is dict-building on the driver — the model must
    broadcast, so its size is the cap, and the cap is reported."""
    toks = df.select(_tokens_col(text_col, lowercase).alias("t")) \
        .filter(F.size("t") > 0)
    padded = toks.select(
        F.concat(F.array(*[F.lit(BOS)] * (order - 1)), F.col("t"),
                 F.array(F.lit(EOS))).alias("t"))
    # ONE scan + ONE map-side-combined shuffle for EVERY order: each
    # document explodes all its 1..order-grams in a single pass (a gram's
    # length IS its order, so no extra shuffle key). (BOS padding keeps
    # size(t) - n >= 0 for every n <= order, so no descending-sequence
    # trap.)
    grams = padded.select(F.explode(F.flatten(F.transform(
        F.sequence(F.lit(1), F.lit(int(order))),
        lambda n: F.transform(
            F.sequence(F.lit(0), F.size("t") - n),
            lambda i: F.slice("t", i + 1, n))))).alias("g")) \
        .groupBy("g").agg(F.count(F.lit(1)).alias("c")) \
        .filter(F.col("c") >= min_count)
    # per-order top-K in ONE collect job (was: persist + 3 filtered
    # TakeOrdered jobs + 3 driver merge-sorts of numPartitions*K rows).
    # Two-level rank keeps the scale shape: a LOCAL row_number within
    # (order, post-agg partition) prunes each shuffle partition to its
    # own top-K first — parallel across order*P window groups — so the
    # GLOBAL per-order rank (the unavoidable `order`-way partitioned
    # sort) only ever sees <= P*K*order pre-ranked rows, not the full
    # Zipf-tail gram table. Any partition assignment works (a local
    # top-K is always a superset of its share of the global top-K), so
    # task retries with different partition ids stay correct. The driver
    # receives exactly the kept grams (<= order*K rows — which must fit:
    # the model broadcasts). Ordering (c desc, g asc) is total per order
    # (g is the groupBy key), so the kept set is byte-identical to the
    # old per-order orderBy().limit() — tested against the pure-python
    # reference counts. No persist needed: one job, no re-scan, and no
    # grouping-key filter for Catalyst to push below the aggregate (the
    # round-4 trap — the rank filters are on computed columns).
    from pyspark.sql import Window

    w_loc = Window.partitionBy("n", "p").orderBy(F.col("c").desc(),
                                                 F.col("g"))
    w_glob = Window.partitionBy("n").orderBy(F.col("c").desc(),
                                             F.col("g"))
    rows = (grams
            .withColumn("n", F.size("g"))
            .withColumn("p", F.spark_partition_id())
            .withColumn("r", F.row_number().over(w_loc))
            .filter(F.col("r") <= int(max_ngrams))
            .withColumn("r", F.row_number().over(w_glob))
            .filter(F.col("r") <= int(max_ngrams))
            .select("g", "c").collect())
    counts = [dict() for _ in range(order)]
    for r in rows:
        counts[len(r["g"]) - 1][tuple(r["g"])] = int(r["c"])
    truncated = [len(c) == int(max_ngrams) for c in counts]
    totals: list[dict] = []
    # context totals from the counts themselves (consistent when
    # truncated: a context's total covers exactly the grams we kept)
    for n in range(1, order + 1):
        t: dict = {}
        for gram, c in counts[n - 1].items():
            t[gram[:-1]] = t.get(gram[:-1], 0) + c
        totals.append({(): sum(counts[0].values())} if n == 1 else t)
    vocab_size = len(counts[0]) + 1  # + UNK
    return NgramLM(order, counts, totals, vocab_size, k=k, stats={
        "order": order, "vocab_size": vocab_size,
        "ngrams_kept": [len(c) for c in counts],
        "truncated": truncated})


def perplexity(df: DataFrame, lm: NgramLM, text_col: str = "text",
               out_col: str = "perplexity",
               lowercase: bool = True) -> DataFrame:
    """Per-document perplexity under ``lm`` as a new double column —
    broadcast model, one Arrow pass, no shuffle. Empty docs score null.
    Filter with e.g. ``df.filter(F.col('perplexity') <= head_threshold)``
    (CCNet buckets head/middle/tail by per-language thresholds).

    The scorer is fully vectorized (see _VectorLM): tokenization is a
    pandas str op, token→id is one C hash-table probe per token, every
    n-gram/context lookup is a searchsorted into the broadcast model's
    sorted uint64 hash arrays — no per-token Python anywhere. Scores
    match NgramLM.doc_logprob to float64 rounding (tested)."""
    bc = df.sparkSession.sparkContext.broadcast(lm.vectorized())

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vm = bc.value
        for pdf in batches:
            texts = pdf[text_col].fillna("")
            if lowercase:
                texts = texts.str.lower()
            toks = texts.str.split()
            lens = toks.str.len().to_numpy()
            out = np.full(len(pdf), np.nan)
            nonempty = lens > 0
            if nonempty.any():
                out[nonempty] = vm.score_tokens(list(toks[nonempty]))
            pdf = pdf.copy()
            # object column so empty docs arrive as real nulls (a float64
            # NaN would survive Arrow as NaN); O(docs), not O(tokens)
            pdf[out_col] = [float(v) if ne else None
                            for v, ne in zip(out, nonempty)]
            yield pdf

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out_col} double"])
    return df.mapInPandas(score, schema=schema)
