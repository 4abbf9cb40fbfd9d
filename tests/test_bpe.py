"""BPE tokenizer training + encoding (functions/bpe.py): merge order vs a
naive recompute-everything reference, encode/train consistency, roundtrip,
partitioning invariance."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from fever_spark.functions.bpe import (END_OF_WORD, bpe_encode, train_bpe,
                                       word_counts, _symbols)


def naive_bpe(word_freqs: dict, num_merges: int, min_freq: int = 2):
    """Reference trainer: recompute ALL pair counts each step (the paper's
    pseudocode), same tie-break — pins the incremental trainer."""
    words = {w: (_symbols(w), f) for w, f in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for syms, f in words.values():
            for p in zip(syms, syms[1:]):
                pc[p] += f
        if not pc:
            break
        best, n = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        if n < min_freq:
            break
        merges.append(best)
        joined = best[0] + best[1]
        for w, (syms, f) in words.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, f)
    return merges


CORPUS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "low lower lowest",
    "new newer newest news",
    "the newest cat is the lowest cat",
] * 3


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                 "doc_id long, text string")


class TestTrain:
    def test_word_counts_exact(self, spark, docs):
        got = {r["word"]: r["count"] for r in word_counts(docs).collect()}
        expect = Counter(w for t in CORPUS for w in t.lower().split())
        assert got == dict(expect)

    def test_merges_match_naive_reference(self, spark, docs):
        wc = {r["word"]: r["count"] for r in word_counts(docs).collect()}
        expect = naive_bpe(wc, num_merges=25)
        got = train_bpe(word_counts(docs), num_merges=25)
        assert got["merges"] == expect
        assert got["stats"]["n_merges"] == len(expect)
        assert got["stats"]["word_table_truncated"] is False

    def test_truncation_is_loud(self, spark, docs):
        got = train_bpe(word_counts(docs), num_merges=5, max_words=3)
        assert got["stats"]["trained_on_words"] == 3
        assert got["stats"]["word_table_truncated"] is True

    def test_partitioning_invariance(self, spark, docs):
        a = train_bpe(word_counts(docs.repartition(1)), num_merges=15)
        b = train_bpe(word_counts(docs.repartition(7)), num_merges=15)
        assert a["merges"] == b["merges"] and a["vocab"] == b["vocab"]


class TestEncode:
    def test_roundtrip_reconstructs_text(self, spark, docs):
        model = train_bpe(word_counts(docs), num_merges=30)
        enc = bpe_encode(docs, model["merges"])
        for r in enc.collect():
            joined = "".join(r["bpe_tokens"]).replace(END_OF_WORD, " ")
            assert joined.strip() == r["text"].lower()

    def test_tiny_cache_forces_eviction_same_output(self, spark, docs):
        # cache_size far below the distinct-word count exercises the
        # evict-oldest-half path (round-7 ADVICE: no full clear()) on
        # every batch; output must be identical to the uncached result
        model = train_bpe(word_counts(docs), num_merges=30)
        ref = {r["doc_id"]: r["bpe_tokens"] for r in
               bpe_encode(docs, model["merges"]).collect()}
        got = {r["doc_id"]: r["bpe_tokens"] for r in
               bpe_encode(docs.repartition(1), model["merges"],
                          cache_size=3).collect()}
        assert got == ref

    def test_cache_lru_keeps_hot_word_across_batches(self):
        # round-8: eviction is least-recently-USED, not least-recently-
        # INSERTED — a word every batch touches survives indefinitely
        # even though it was inserted first
        from fever_spark.functions.bpe import _cache_touch_and_evict

        cache = {"hot": ["h"]}
        for batch in range(20):
            for j in range(6):  # 6 fresh cold words per batch
                cache[f"cold_{batch}_{j}"] = ["c"]
            _cache_touch_and_evict(cache, ["hot"] +
                                   [f"cold_{batch}_{j}" for j in range(6)],
                                   cache_size=10)
            assert "hot" in cache  # FIFO-half would have evicted it
            assert len(cache) <= 10
        # cold words from old batches are gone
        assert not any(k.startswith("cold_0_") for k in cache)

    def test_cache_touch_skipped_below_half_pressure(self):
        # the touch pass is pure overhead while the cache is small — it
        # must not run (observable: insertion order unchanged)
        from fever_spark.functions.bpe import _cache_touch_and_evict

        cache = {"a": 1, "b": 2, "c": 3}
        _cache_touch_and_evict(cache, ["a"], cache_size=100)
        assert list(cache) == ["a", "b", "c"]  # no reorder below pressure

    def test_frequent_words_become_single_tokens(self, spark, docs):
        model = train_bpe(word_counts(docs), num_merges=40, min_freq=2)
        enc = bpe_encode(docs, model["merges"]).collect()
        # 'the' appears 21 times — must be fully merged
        for r in enc:
            toks = r["bpe_tokens"]
            if "the" in r["text"].split():
                assert "the" + END_OF_WORD in toks
            # no empty tokens ever
            assert all(t for t in toks)

    def test_zero_merges_is_character_segmentation(self, spark, docs):
        [r] = bpe_encode(docs.limit(1), []).collect()
        words = r["text"].lower().split()
        expect = [s for w in words for s in _symbols(w)]
        assert r["bpe_tokens"] == expect

    def test_encode_matches_training_segmentation(self, spark, docs):
        """Greedy rank-lowest-first encoding must reproduce the trainer's
        final segmentation for every trained word."""
        wc = {r["word"]: r["count"] for r in word_counts(docs).collect()}
        model = train_bpe(word_counts(docs), num_merges=20)
        # recompute trainer-side segmentation with the naive reference
        words = {w: _symbols(w) for w in wc}
        for a, b in model["merges"]:
            for w, syms in words.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                words[w] = out
        one_word = spark.createDataFrame([(w,) for w in wc], "text string")
        got = {r["text"]: list(r["bpe_tokens"]) for r in
               bpe_encode(one_word, model["merges"]).collect()}
        assert got == words


class TestVectorizedKernel:
    """The numpy batch encoder (_encode_distinct: the rank-order sweep)
    against the scalar oracle _encode_word, over adversarial word shapes
    the corpus tests don't reach, and the dispatch (_encode_words) that
    keeps merge lists the sweep cannot serve away from it."""

    def _table_and_ranks(self, word_freqs, num_merges):
        from fever_spark.functions.bpe import _build_pair_table

        merges = naive_bpe(word_freqs, num_merges)
        return merges, _build_pair_table(merges), \
            {tuple(p): i for i, p in enumerate(merges)}

    def test_sweep_parity_adversarial(self):
        import random
        import string

        from fever_spark.functions.bpe import (_build_pair_table,
                                               _encode_distinct,
                                               _encode_word)

        random.seed(13)
        freqs = Counter()
        for _ in range(3000):
            freqs["".join(random.choices("abxyz", k=random.randint(1, 9)))] += 1
        freqs.update({"aaaa": 50, "xxxx": 50, "the": 90})
        merges, table, ranks = self._table_and_ranks(freqs, 80)
        assert table[-1] is True  # trainer output is consistent
        words = (list(freqs) + ["a" * k for k in range(1, 30)]
                 + ["ü" * 6, "日本語", "", "q"]
                 + ["".join(random.choices(string.printable.strip(), k=k))
                    for k in range(1, 40)])
        words = [w for w in words if w]
        got = _encode_distinct(words, *table[:-1])
        assert got == [_encode_word(w, ranks) for w in words]

    def test_inconsistent_merge_list_detected_and_correct(self,
                                                          monkeypatch):
        from fever_spark.functions import bpe
        from fever_spark.functions.bpe import (_build_pair_table,
                                               _encode_word, _encode_words)

        bad = [("ab", "c"), ("a", "b")]  # component created LATER
        table = _build_pair_table(bad)
        assert table[-1] is False

        def no_sweep(*_a):
            raise AssertionError("inconsistent list reached the sweep")

        monkeypatch.setattr(bpe, "_encode_distinct", no_sweep)
        ranks = {tuple(p): i for i, p in enumerate(bad)}
        words = ["abc", "ab", "cab", "abcabc", "aabbc"]
        assert _encode_words(words, table, ranks) == \
            [_encode_word(w, ranks) for w in words]


class TestKernelHypothesis:
    """Fuzz the batch encoder dispatch (_encode_words, what bpe_encode
    runs) against the scalar oracle with ARBITRARY merge lists —
    duplicates, unreachable components, inconsistent order (component
    created later), unicode — exercising table build, the consistency
    check, the rank-order sweep, and the routing of inconsistent lists
    to the scalar encoder."""

    def test_arbitrary_merges_and_words_match_scalar(self):
        from hypothesis import given, settings, strategies as st

        from fever_spark.functions.bpe import (_build_pair_table,
                                               _encode_word, _encode_words)

        sym = st.one_of(
            st.sampled_from(["a", "b", "c", "ab", "bc", "abc", "ü", "</w>",
                             "b</w>", "c</w>"]),
            st.text(alphabet="abcü", min_size=1, max_size=3))
        merges_strategy = st.lists(st.tuples(sym, sym), max_size=25)
        words_strategy = st.lists(
            st.text(alphabet="abcü ", min_size=1, max_size=12),
            min_size=1, max_size=30)

        @settings(max_examples=120, deadline=None)
        @given(merges_strategy, words_strategy)
        def check(merges, raw_words):
            words = [w for w in (w.strip() for w in raw_words) if w]
            if not words:
                return
            table = _build_pair_table(merges)
            ranks = {tuple(p): i for i, p in enumerate(merges)}
            got = _encode_words(words, table, ranks)
            want = [_encode_word(w, ranks) for w in words]
            assert got == want, (merges, words)

        check()


def test_long_word_scalar_fallback(spark):
    """Words beyond _VEC_MAX_WORD_LEN bypass the dense codepoint matrix
    and take the scalar path — output identical to the oracle either way."""
    from fever_spark.functions.bpe import (_VEC_MAX_WORD_LEN, _encode_word,
                                           bpe_encode, train_bpe,
                                           word_counts)

    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    model = train_bpe(word_counts(docs), num_merges=30)
    long_word = "the" * (_VEC_MAX_WORD_LEN // 3 + 10)  # > the cutoff
    mixed = spark.createDataFrame(
        [(f"{long_word} the cat",)], "text string")
    [row] = bpe_encode(mixed, model["merges"]).collect()
    ranks = {tuple(p): i for i, p in enumerate(model["merges"])}
    expect = [t for w in (long_word, "the", "cat")
              for t in _encode_word(w, ranks)]
    assert list(row["bpe_tokens"]) == expect
