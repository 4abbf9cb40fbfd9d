"""Distributed BPE tokenizer training + corpus encoding.

Byte-pair encoding per Sennrich, Haddow & Birch 2016 ("Neural Machine
Translation of Rare Words with Subword Units"): start from characters
(plus an end-of-word marker), repeatedly merge the most frequent adjacent
symbol pair.

Scale shape — the part that touches 100 TB is WORD COUNTING: one
explode + map-side-combined groupBy over the corpus, after which the
distinct-word frequency table IS the compressed corpus (training never
reads raw text again — the same design as the reference tokenizer
trainers, which collect word counts and train in memory). Training runs
the greedy merge loop over that table on the driver, capped at the top
``max_words`` most frequent words — the rare tail contributes vanishing
pair counts and cannot change merge order until far beyond practical
vocab sizes; the cap is loud in the returned stats. Encoding is
distributed again: merge ranks broadcast once, applied per word inside an
Arrow-batched pandas iterator with a per-worker cache (word frequency is
Zipfian — the cache hit rate is the point).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["word_counts", "train_bpe", "bpe_encode", "END_OF_WORD"]

END_OF_WORD = "</w>"


def word_counts(df: DataFrame, text_col: str = "text",
                lowercase: bool = True) -> DataFrame:
    """(word, count) over the corpus — one explode + groupBy with partial
    aggregation; the only stage that scans the raw text."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != "")
    return (df.select(F.explode(words).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("count")))


def _symbols(word: str) -> list[str]:
    return list(word) + [END_OF_WORD]


def _merge_symbols(syms: list[str], pair: tuple[str, str]) -> list[str]:
    out = []
    i = 0
    joined = pair[0] + pair[1]
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(joined)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(counts: DataFrame, num_merges: int, min_freq: int = 2,
              max_words: int = 1_000_000) -> dict:
    """Greedy BPE merges from a word-count frame (the word_counts output).

    Deterministic tie-break: highest pair count, then lexicographically
    largest pair — so training is independent of partitioning and dict
    order. Incremental pair-count maintenance (only words containing the
    merged pair are re-segmented per step), the standard trainer shape.

    Returns {"merges": [(a, b), ...], "vocab": [token, ...],
    "stats": {...}} — stats records the word-table cap so a truncated
    tail is never silent."""
    top = (counts.orderBy(F.col("count").desc(), F.col("word"))
           .limit(int(max_words)).collect())
    total_words = counts.count()
    words: list[tuple[list[str], int]] = [
        (_symbols(r["word"]), int(r["count"])) for r in top]

    pair_counts: Counter = Counter()
    pair_to_wids: dict = defaultdict(set)
    for wid, (syms, freq) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += freq
            pair_to_wids[p].add(wid)

    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        if not pair_counts:
            break
        best, best_n = max(pair_counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best_n < min_freq:
            break
        merges.append(best)
        for wid in list(pair_to_wids.pop(best, ())):
            syms, freq = words[wid]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= freq
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pair_to_wids[p].discard(wid)
            syms = _merge_symbols(syms, best)
            words[wid] = (syms, freq)
            for p in zip(syms, syms[1:]):
                pair_counts[p] += freq
                pair_to_wids[p].add(wid)

    vocab = sorted({s for syms, _ in words for s in syms}
                   | {a + b for a, b in merges})
    return {"merges": merges, "vocab": vocab,
            "stats": {"distinct_words": int(total_words),
                      "trained_on_words": len(words),
                      "word_table_truncated": total_words > len(words),
                      "n_merges": len(merges)}}


def _encode_word(word: str, ranks: dict) -> list[str]:
    """Scalar reference encoder: repeatedly merge the lowest-rank pair
    present. The path for words over _VEC_MAX_WORD_LEN chars and for
    merge lists that are not training-consistent, and the parity oracle
    for the vectorized batch path below."""
    syms = _symbols(word)
    while len(syms) > 1:
        best = None
        best_rank = None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = p, r
        if best is None:
            break
        syms = _merge_symbols(syms, best)
    return syms


# Symbol-id space for the vectorized encoder: single chars map to their
# codepoint, END_OF_WORD to _EOW_ID, each distinct merge-output string to
# _EOW_ID + 1 + k. Ids stay < 2^32 so a pair packs into one uint64 key.
_EOW_ID = 0x110000
# words longer than this skip the dense codepoint matrix (whose memory is
# n_words x max_len x 4 bytes — one megabyte-long token would blow it up)
# and take the scalar path; natural-language words never get close
_VEC_MAX_WORD_LEN = 256


def _build_pair_table(merges: list) -> tuple:
    """Driver-side precompute: (sorted packed pair keys, rank per key,
    merged-string list, per-rank (a, b, new) id arrays, consistency
    flag). Later duplicates of a pair overwrite earlier ones, matching
    ``{pair: i for i, p in enumerate(merges)}`` dict semantics in the
    scalar encoder.

    ``consistent`` is True when every multi-char merge component was
    created by an EARLIER merge — always the case for train_bpe output.
    It licenses the rank-order sweep in _encode_distinct (a merge can
    then only ever create higher-rank pairs, so one ascending pass over
    ranks equals lowest-rank-first); _encode_words sends every word of
    an inconsistent list to the scalar _encode_word."""
    tok_id: dict[str, int] = {}
    merged_strs: list[str] = []
    for a, b in merges:
        s = a + b
        if s not in tok_id:
            tok_id[s] = _EOW_ID + 1 + len(merged_strs)
            merged_strs.append(s)

    def sid(s: str) -> int | None:
        if len(s) == 1:
            return ord(s)
        if s == END_OF_WORD:
            return _EOW_ID
        return tok_id.get(s)  # None: symbol unreachable, pair can't occur

    n_r = len(merges)
    rank_a = np.full(n_r, -1, dtype=np.int64)
    rank_b = np.full(n_r, -1, dtype=np.int64)
    rank_new = np.full(n_r, -1, dtype=np.int64)
    consistent = True
    created_at: dict[str, int] = {}
    entries: dict[int, int] = {}
    for rank, (a, b) in enumerate(merges):
        for comp in (a, b):
            if len(comp) > 1 and comp != END_OF_WORD:
                c = created_at.get(comp)
                if c is None or c >= rank:
                    consistent = False
        created_at.setdefault(a + b, rank)
        ia, ib = sid(a), sid(b)
        if ia is None or ib is None:
            continue
        entries[(ia << 32) | ib] = rank
        rank_a[rank], rank_b[rank] = ia, ib
        rank_new[rank] = tok_id[a + b]
    keys = np.array(sorted(entries), dtype=np.uint64)
    ranks = np.array([entries[int(k)] for k in keys], dtype=np.int64)
    return keys, ranks, merged_strs, rank_a, rank_b, rank_new, consistent


def _encode_words(words: list, table: tuple, ranks: dict) -> list:
    """The encoder dispatch of bpe_encode: the vectorized sweep
    (_encode_distinct) for words up to _VEC_MAX_WORD_LEN chars under a
    training-consistent merge list, the scalar _encode_word for longer
    words and for every word of an inconsistent list."""
    *tbl, consistent = table
    if not consistent:
        return [_encode_word(w, ranks) for w in words]
    vec = [w for w in words if len(w) <= _VEC_MAX_WORD_LEN]
    done = dict(zip(vec, _encode_distinct(vec, *tbl)))
    return [done[w] if w in done else _encode_word(w, ranks)
            for w in words]


def _encode_distinct(words, keys, ranks, merged_strs,
                     rank_a, rank_b, rank_new) -> list:
    """Vectorized BPE segmentation of a batch of DISTINCT words under a
    training-consistent merge list: all words live in one flat symbol-id
    array, and the rank-order sweep makes one linked-list pass over ranks
    ascending — total work O(symbols log symbols + merges applied),
    independent of how many rounds any word needs. Zero per-word Python;
    parity-tested against _encode_word."""
    n = len(words)
    if n == 0:
        return []
    u = np.array(words, dtype=str)
    width = u.dtype.itemsize // 4
    mat = u.view(np.uint32).reshape(n, width)
    lens = pd.Series(words).str.len().to_numpy(np.int64)

    out_len = lens + 1  # + END_OF_WORD
    offs = np.concatenate([[0], np.cumsum(out_len)])
    sym = np.empty(offs[-1], dtype=np.uint64)
    colmask = np.arange(width)[None, :] < lens[:, None]
    charpos = (offs[:-1, None] + np.arange(width)[None, :])[colmask]
    sym[charpos] = mat[colmask]
    sym[offs[1:] - 1] = _EOW_ID  # the one pad slot per word
    wid = np.repeat(np.arange(n, dtype=np.int64), out_len)

    if len(keys) and len(sym) > 1:
        sym, wid = _merge_sweep(sym, wid, offs, keys, ranks,
                                rank_a, rank_b, rank_new)

    uq, inv = np.unique(sym, return_inverse=True)
    uq_strs = np.array(
        [END_OF_WORD if i == _EOW_ID
         else merged_strs[i - _EOW_ID - 1] if i > _EOW_ID
         else chr(i) for i in uq.tolist()], dtype=object)
    strs = uq_strs[inv].tolist()
    woffs = np.concatenate([[0], np.cumsum(np.bincount(wid, minlength=n))])
    return [strs[a:b] for a, b in zip(woffs[:-1].tolist(), woffs[1:].tolist())]


def _merge_sweep(sym, wid, offs, keys, ranks, rank_a, rank_b, rank_new):
    """Rank-order sweep over a tombstone linked list. Consistency means a
    merge can only create pairs of HIGHER rank, so processing ranks
    ascending — merging every live occurrence of each rank's pair at
    once, queueing the (few) newly-formed neighbor pairs into their
    rank's bucket — is exactly lowest-rank-first per word. Per-rank work
    is proportional to that rank's occurrence count; nothing ever
    rescans the corpus."""
    import heapq

    u32 = np.uint64(32)
    L = len(sym)
    nxt = np.arange(1, L + 1, dtype=np.int64)
    nxt[offs[1:] - 1] = -1  # word ends
    prv = np.arange(-1, L - 1, dtype=np.int64)
    prv[offs[:-1]] = -1  # word starts
    alive = np.ones(L, dtype=bool)

    i0 = np.flatnonzero(nxt >= 0)
    k0 = (sym[i0] << u32) | sym[i0 + 1]
    pc = np.minimum(np.searchsorted(keys, k0), len(keys) - 1)
    okm = keys[pc] == k0
    pos_s = i0[okm]
    r_s = ranks[pc[okm]]
    order = np.argsort(r_s, kind="stable")
    pos_s, r_s = pos_s[order], r_s[order]
    uniq_r, starts_u = np.unique(r_s, return_index=True)
    bounds = np.append(starts_u, len(r_s))
    pending: dict[int, list] = {
        int(r): [pos_s[bounds[t]:bounds[t + 1]]]
        for t, r in enumerate(uniq_r.tolist())}
    heap = sorted(pending)
    inheap = set(heap)

    while heap:
        r = heapq.heappop(heap)
        inheap.discard(r)
        P = np.concatenate(pending.pop(r))
        if len(P) > 1:
            P = np.unique(P)  # a pair can be queued twice (left+right)
        a_id, b_id = np.uint64(rank_a[r]), np.uint64(rank_b[r])
        j = nxt[P]
        ok = alive[P] & (j >= 0)
        jj = np.where(ok, j, 0)
        ok &= (sym[P] == a_id) & (sym[jj] == b_id)
        P, j = P[ok], j[ok]
        if not len(P):
            continue
        if rank_a[r] == rank_b[r] and len(P) > 1:
            # (x,x) chains like "xxxx": keep the 0th, 2nd, ... occurrence
            # of each chain — _merge_symbols' left-to-right greedy
            m = len(P)
            newrun = np.concatenate([[True], P[1:] != j[:-1]])
            rstart = np.maximum.accumulate(
                np.where(newrun, np.arange(m), -1))
            keep = ((np.arange(m) - rstart) & 1) == 0
            P, j = P[keep], j[keep]
        sym[P] = np.uint64(rank_new[r])
        alive[j] = False
        nj = nxt[j]
        nxt[P] = nj
        has_n = nj >= 0
        prv[nj[has_n]] = P[has_n]
        # the merge can form at most two new pairs per site: (left, new)
        # and (new, right); look them up (small arrays) and queue them
        lft = prv[P]
        has_l = lft >= 0
        cand_i = np.concatenate([lft[has_l], P[has_n]])
        cand_j = np.concatenate([P[has_l], nj[has_n]])
        if not len(cand_i):
            continue
        kk = (sym[cand_i] << u32) | sym[cand_j]
        pc2 = np.minimum(np.searchsorted(keys, kk), len(keys) - 1)
        ok2 = keys[pc2] == kk
        if not ok2.any():
            continue
        ci = cand_i[ok2]
        rr = ranks[pc2[ok2]]
        o2 = np.argsort(rr, kind="stable")
        ci, rr = ci[o2], rr[o2]
        ur, si = np.unique(rr, return_index=True)
        bb = np.append(si, len(rr))
        for t, r2 in enumerate(ur.tolist()):
            r2 = int(r2)
            pending.setdefault(r2, []).append(ci[bb[t]:bb[t + 1]])
            if r2 not in inheap:
                heapq.heappush(heap, r2)
                inheap.add(r2)

    return sym[alive], wid[alive]


def _cache_touch_and_evict(cache: dict, used, cache_size: int) -> None:
    """Batch-granularity LRU maintenance for the per-worker encode cache.

    Touch: re-insert this batch's words at the dict's end so the
    insertion-ordered eviction removes least-recently-USED words, not
    least-recently-INSERTED — a hot word from the first batch survives
    as long as batches keep using it (the round-7 FIFO-half evicted it
    regardless of reuse). Touch cost is O(distinct words) dict ops, paid
    only once the cache reaches half pressure. Evict: drop the stalest
    half when over cache_size — a working set slightly above cache_size
    keeps its hot tail instead of re-encoding every distinct word from
    scratch each batch (a full clear() thrashed exactly at
    cache_size + 1)."""
    if len(cache) > cache_size // 2:
        for w in used:
            t = cache.pop(w, None)
            if t is not None:
                cache[w] = t
    if len(cache) > cache_size:
        from itertools import islice

        for w in list(islice(cache, len(cache) // 2)):
            del cache[w]


def bpe_encode(df: DataFrame, merges: list, text_col: str = "text",
               out_col: str = "bpe_tokens", lowercase: bool = True,
               cache_size: int = 200_000) -> DataFrame:
    """Corpus encoding with a trained merge list: broadcast the packed
    pair-rank table, factorize each Arrow batch's words and segment the
    DISTINCT ones in one vectorized numpy scan (_encode_distinct); a
    bounded per-worker dict carries results across batches (Zipfian
    reuse). Per-word Python survives only in the final per-row token
    concatenation, for words > 256 chars, and for merge lists that are
    not training-consistent (_encode_words routes those to the scalar
    _encode_word). Adds ``out_col`` array<string>."""
    table = _build_pair_table(merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast((table, ranks))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tbl, scalar_ranks = bc.value
        cache: dict[str, list] = {}

        for pdf in batches:
            texts = pdf[text_col].fillna("")
            if lowercase:
                texts = texts.str.lower()
            word_lists = texts.str.split()
            row_len = word_lists.str.len().to_numpy(np.int64)
            exploded = word_lists.explode()
            flat = exploded[exploded.notna()].to_numpy(object)
            codes, uniq = pd.factorize(flat)
            todo = [w for w in uniq if w not in cache]
            cache.update(zip(todo, _encode_words(todo, tbl, scalar_ranks)))
            word_tokens = [cache[w] for w in uniq]
            # ragged gather instead of a per-word extend loop: flatten the
            # DISTINCT words' tokens once, then index every occurrence's
            # token span and slice per row — per-row work is one list
            # slice, not O(words) Python calls
            tok_counts = np.fromiter((len(t) for t in word_tokens),
                                     np.int64, len(word_tokens))
            flat_toks = np.array(
                [t for lst in word_tokens for t in lst], dtype=object)
            tok_offs = np.concatenate([[0], np.cumsum(tok_counts)])
            occ_counts = tok_counts[codes] if len(codes) else tok_counts[:0]
            cum_occ = np.concatenate([[0], np.cumsum(occ_counts)])
            total = int(cum_occ[-1])
            idx = (np.repeat(tok_offs[:-1][codes] - cum_occ[:-1], occ_counts)
                   + np.arange(total))
            all_toks = flat_toks[idx].tolist()
            row_offs = cum_occ[
                np.concatenate([[0], np.cumsum(row_len)])].tolist()
            toks = [all_toks[a:b]
                    for a, b in zip(row_offs[:-1], row_offs[1:])]
            _cache_touch_and_evict(cache, uniq, cache_size)
            pdf = pdf.copy()
            pdf[out_col] = toks
            yield pdf

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out_col} array<string>"])
    return df.mapInPandas(encode, schema=schema)
