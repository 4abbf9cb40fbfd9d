"""Corpus-curation job: planted junk / dups / near-dups flow through
annotate -> filter -> exact dedup -> near-dup dedup -> sample -> write."""

import json

import pytest
from pyspark.sql import functions as F

from fever_spark.jobs.curate import curate


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    import numpy as np

    rng = np.random.default_rng(3)
    vocab = [f"word{k}" for k in range(400)]
    rows = []
    # 40 good docs with genuinely distinct content (random token draws —
    # pairwise shingle overlap is ~zero)
    for i in range(40):
        toks = rng.choice(vocab, size=25, replace=False)
        rows.append((i, "the " + " ".join(toks) + " end", "en", "web"))
    # exact dups of doc 0 (case/whitespace variants)
    rows.append((100, rows[0][1].upper(), "en", "web"))
    rows.append((101, "  " + rows[0][1] + "  ", "en", "web"))
    # near-dup of doc 1: swap a single interior token
    doc1_toks = rows[1][1].split()
    doc1_toks[10] = "swapped"
    rows.append((102, " ".join(doc1_toks), "en", "web"))
    # junk: too short / symbol soup
    rows.append((200, "x", "en", "web"))
    rows.append((201, "!!! ??? *** $$$ %%% ^^^ &&& ((( )))", "en", "web"))
    d = str(tmp_path_factory.mktemp("corpus") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                "source string").write.parquet(d)
    return d


def test_curate_end_to_end(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "curated")
    man = curate(spark, corpus_dir, out, min_quality=0.5, min_tokens=5,
                 near_dup_threshold=0.6)
    c = man["counts"]
    assert c["input"] == 45
    assert c["after_quality_filter"] == 43          # junk 200/201 dropped
    assert c["after_exact_dedup"] == 41             # 100/101 collapse into 0
    assert c["after_near_dup"] == 40                # 102 collapses into 1
    assert c["written"] == 40
    kept = {r["doc_id"] for r in spark.read.parquet(out)
            .select("doc_id").collect()}
    assert {0, 1} <= kept and not {100, 101, 102, 200, 201} & kept
    # manifest written next to the data
    disk = json.load(open(f"{out}/_curation_manifest.json"))
    assert disk["counts"] == c
    # annotation columns survive to the output
    cols = set(spark.read.parquet(out).columns)
    assert {"quality", "n_tokens"} <= cols


def test_curate_uri_output(spark, corpus_dir, tmp_path):
    """A file:// output (Spark takes URIs) gets its manifest next to the
    data, like a bare path."""
    out = tmp_path / "curated_uri"
    man = curate(spark, corpus_dir, "file://" + str(out), min_quality=0.5,
                 min_tokens=5, near_dup_threshold=0.6)
    assert man["counts"]["written"] == 40
    assert ((out / "_curation_manifest.json").read_text()
            == json.dumps(man, indent=1))


def test_curate_lang_filter_and_sample(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "curated2")
    man = curate(spark, corpus_dir, out, min_quality=0.0, min_tokens=1,
                 langs=["de"], sample_rate=0.5)
    assert man["counts"]["after_quality_filter"] == 0  # corpus is en-only
    assert man["counts"]["written"] == 0


def test_curate_full_stack_options(spark, corpus_dir, tmp_path):
    """PII redaction + paragraph dedup + repetition gate + contamination
    screen, all in one run."""
    # benchmark corpus = doc 5's exact text → doc 5 must be screened out
    docs = spark.read.parquet(corpus_dir)
    bench_dir = str(tmp_path / "bench")
    docs.filter(F.col("doc_id") == 5).write.parquet(bench_dir)

    out = str(tmp_path / "curated3")
    man = curate(spark, corpus_dir, out, min_quality=0.5, min_tokens=5,
                 near_dup_threshold=0.6, redact_pii=True,
                 paragraph_dedup=True, max_dup_word_frac=0.9,
                 benchmark_path=bench_dir, contamination_ngram=8)
    c = man["counts"]
    assert c["after_contamination_screen"] == c["after_near_dup"] - 1
    kept = {r["doc_id"] for r in spark.read.parquet(out)
            .select("doc_id").collect()}
    assert 5 not in kept and 0 in kept
    assert man["params"]["redact_pii"] is True


def test_curate_repetition_gate_drops_degenerate(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "spam " * 60, "en"),
         (2, "the quick brown fox jumps over the lazy dog near a river "
             "bank while birds sing", "en")],
        "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "curated4")
    man = curate(spark, src, out, min_quality=0.0, min_tokens=1,
                 max_dup_word_frac=0.5)
    kept = {r["doc_id"] for r in spark.read.parquet(out)
            .select("doc_id").collect()}
    assert kept == {2}
    assert man["counts"]["after_quality_filter"] == 1


def test_contamination_fp_does_not_overdrop(spark, tmp_path):
    """Round-3 ADVICE fix: flagged docs go through the EXACT verify pass,
    so a Bloom false positive cannot drop a clean document. Forced with a
    degenerate filter (capacity 1, high fpp → FP-rich) over a corpus that
    shares NO 8-gram with the benchmark: every flag is a FP, and the
    verify must keep every doc."""
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = [f"tok{k}" for k in range(300)]
    rows = [(i, " ".join(rng.choice(vocab, size=20, replace=False)),
             "en", "web") for i in range(30)]
    corpus = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                "source string").write.parquet(corpus)
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(999, " ".join(f"bench{k}" for k in range(40)), "en", "web")],
        "doc_id long, text string, lang string, source string") \
        .write.parquet(bench_dir)

    from unittest import mock
    from fever_spark.sketch.bloom import BloomFilter
    from fever_spark.operators import curation

    real_build = curation.build_benchmark_bloom

    def fp_rich_bloom(benchmark, text_col="text", n=8, fpp=1e-6,
                      capacity=None):
        # undersized filter: same build path, but saturated → many FPs
        return real_build(benchmark, text_col, n=n, fpp=0.5, capacity=1)

    with mock.patch.object(curation, "build_benchmark_bloom",
                           side_effect=fp_rich_bloom):
        man = curate(spark, corpus, str(tmp_path / "out"),
                     min_quality=0.0, min_tokens=1,
                     benchmark_path=bench_dir, contamination_ngram=8)
    c = man["counts"]
    assert c["contamination_flagged"] > 0      # the FPs really happened
    assert c["after_contamination_screen"] == c["after_near_dup"]  # none dropped


def test_curate_substring_dedup_stage(spark, tmp_path):
    """ExactSubstr stage: shared >=k-token boilerplate is cut everywhere
    but its first occurrence; a doc that IS only boilerplate drops out."""
    boiler = ("this site uses cookies accept our terms and privacy "
              "policy before you continue reading")  # 14 tokens
    rows = [(i, " ".join(f"doc{i}tok{j}" for j in range(20))
             + " " + boiler, "en") for i in range(6)]
    rows.append((50, boiler, "en"))     # pure boilerplate doc
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(src)

    out = str(tmp_path / "out")
    man = curate(spark, src, out, min_quality=0.0, min_tokens=1,
                 substring_dedup_k=8)
    c = man["counts"]
    assert c["after_exact_dedup"] == 7
    assert c["after_substring_dedup"] == 6          # pure-boiler doc gone
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(out).collect()}
    assert 50 not in texts
    carriers = [i for i, t in texts.items() if boiler in t]
    assert len(carriers) == 1                        # first occurrence only
    assert man["params"]["substring_dedup_k"] == 8


class TestCurateResume:
    """Stage-level resume: with a workdir, completed stages are loaded on
    re-run instead of recomputed; param changes invalidate them."""

    def _corpus(self, spark, tmp_path):
        rows = [(i, " ".join(f"c{i}w{j}" for j in range(20)), "en")
                for i in range(30)]
        rows.append((100, rows[0][1], "en"))     # exact dup
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, "doc_id long, text string, lang string") \
            .write.parquet(src)
        return src

    def test_second_run_resumes_all_stages(self, spark, tmp_path):
        src = self._corpus(spark, tmp_path)
        wd = str(tmp_path / "wd")
        kw = dict(min_quality=0.0, min_tokens=1, workdir=wd)
        m1 = curate(spark, src, str(tmp_path / "o1"), **kw)
        assert m1["resumed_stages"] == []
        m2 = curate(spark, src, str(tmp_path / "o2"), **kw)
        assert m2["resumed_stages"] == ["quality_filter", "exact_dedup",
                                        "near_dup"]
        assert m2["counts"] == m1["counts"]
        # resumed output identical
        a = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "o1")).collect()}
        b = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "o2")).collect()}
        assert a == b

    def test_param_change_invalidates(self, spark, tmp_path):
        src = self._corpus(spark, tmp_path)
        wd = str(tmp_path / "wd2")
        curate(spark, src, str(tmp_path / "o1"), min_quality=0.0,
               min_tokens=1, workdir=wd)
        m2 = curate(spark, src, str(tmp_path / "o2"), min_quality=0.0,
                    min_tokens=2, workdir=wd)   # different pipeline params
        assert m2["resumed_stages"] == []

    def test_sample_rate_change_still_resumes(self, spark, tmp_path):
        """sample_rate shapes only the final non-checkpointed stage —
        re-sampling an already-curated corpus reuses every stage."""
        src = self._corpus(spark, tmp_path)
        wd = str(tmp_path / "wd3")
        m1 = curate(spark, src, str(tmp_path / "o1"), min_quality=0.0,
                    min_tokens=1, workdir=wd, sample_rate=1.0)
        m2 = curate(spark, src, str(tmp_path / "o2"), min_quality=0.0,
                    min_tokens=1, workdir=wd, sample_rate=0.5)
        assert len(m2["resumed_stages"]) == 3
        assert m2["counts"]["written"] < m1["counts"]["written"]

    def test_partial_workdir_resumes_prefix_only(self, spark, tmp_path):
        """Crash simulation: only stage 1's marker exists -> stage 1 loads,
        later stages recompute."""
        import shutil
        src = self._corpus(spark, tmp_path)
        wd = str(tmp_path / "wd4")
        kw = dict(min_quality=0.0, min_tokens=1, workdir=wd)
        curate(spark, src, str(tmp_path / "o1"), **kw)
        shutil.rmtree(f"{wd}/03_exact_dedup")
        shutil.rmtree(f"{wd}/05_near_dup")
        m = curate(spark, src, str(tmp_path / "o2"), **kw)
        assert m["resumed_stages"] == ["quality_filter"]
        assert m["counts"]["written"] == 30


def test_curate_normalize_unifies_encoding_variants(spark, tmp_path):
    """NFC normalization before fingerprinting: the same text in composed
    and decomposed unicode must exact-dedup to one doc."""
    composed = "café culture " + " ".join(f"w{j}" for j in range(10))
    decomposed = "café culture " + " ".join(f"w{j}" for j in range(10))
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, composed), (2, decomposed)],
                          "doc_id long, text string").write.parquet(src)
    man_raw = curate(spark, src, str(tmp_path / "raw"), min_quality=0.0,
                     min_tokens=1)
    man_norm = curate(spark, src, str(tmp_path / "norm"), min_quality=0.0,
                      min_tokens=1, normalize=True)
    assert man_raw["counts"]["after_exact_dedup"] == 2
    assert man_norm["counts"]["after_exact_dedup"] == 1


def test_curate_c4_and_gopher_rules(spark, tmp_path):
    """C4 line cleanup runs before annotation (cookie lines cut, token
    counts describe kept text); C4/Gopher doc predicates drop code and
    degenerate docs."""
    good_lines = [
        f"Sentence number {i} carries plenty of proper words along." for i
        in range(12)]
    chrome = "We use cookies to improve your experience."
    rows = [
        (1, "\n".join(good_lines[:6] + [chrome] + good_lines[6:])),
        (2, "def f() { return 1; } " + " ".join(
            f"w{i} filler." for i in range(60))),          # C4: brace
        (3, " ".join(str(i) for i in range(120)) + "."),    # Gopher: numeric
        (4, "\n".join(                                      # clean keeper
            f"Different article line {i} about entirely other topics here."
            for i in range(12))),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)
    out = str(tmp_path / "out")
    man = curate(spark, src, out, min_quality=0.0, min_tokens=10,
                 c4_rules=True, gopher_rules=True)
    kept = spark.read.parquet(out)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert ids == {1, 4}
    # the cookie line was cut by the LINE pass before anything counted it
    [t1] = [r["text"] for r in kept.collect() if r["doc_id"] == 1]
    assert chrome not in t1
    from fever_spark.functions.text import whitespace_token_count
    stale = kept.filter(F.col("n_tokens")
                        != whitespace_token_count(F.col("text"))).count()
    assert stale == 0
    assert man["params"]["c4_rules"] is True


def test_curate_perplexity_band(spark, tmp_path):
    """A CCNet-style LM trained on fluent text drops the gibberish doc
    when max_perplexity is set; the perplexity column is always annotated
    when a model is passed."""
    from fever_spark.functions.ngram_lm import train_ngram_lm

    fluent = ["the quick brown fox jumps over the lazy dog again today",
              "the lazy dog sleeps while the quick fox runs away fast"]
    train = spark.createDataFrame([(t,) for t in fluent * 10],
                                  "text string")
    lm = train_ngram_lm(train, order=3)

    rows = [(1, fluent[0] + " and keeps running through the field"),
            (2, "zq wvx plk rrq mmz ttk bbv nnj qqs dfg hjk lzx")]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    man = curate(spark, src, out, min_quality=0.0, min_tokens=3,
                 perplexity_lm=lm, max_perplexity=1000.0)
    kept = spark.read.parquet(out)
    assert {r["doc_id"] for r in kept.collect()} == {1}
    assert "perplexity" in kept.columns
    assert man["params"]["max_perplexity"] == 1000.0


def test_curate_quality_classifier_gate(spark, tmp_path):
    from fever_spark.functions.quality_clf import train_quality_classifier

    prose = ("The committee published its careful findings after a long "
             "review of the evidence and written submissions it received.")
    junk = "$$$ 111 !!! buy buy buy ### 999 ||| @@@ win win win 222 $$$"
    trusted = spark.createDataFrame([(prose,)] * 20, "text string")
    crawl = spark.createDataFrame([(junk,)] * 20, "text string")
    model = train_quality_classifier(trusted, crawl)

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, prose + " It later added two further volumes of analysis."),
         (2, junk + " extra 333 $$$")],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    man = curate(spark, src, out, min_quality=0.0, min_tokens=3,
                 quality_model=model)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
    assert man["params"]["quality_classifier"] is True


def test_curate_blocked_domains_survive_normalize(spark, tmp_path):
    """Regression: with BOTH blocked_domains and normalize set, the
    normalize stage must build on the domain-filtered frame — a blocked
    page must never reach the curated output (the normalize branch once
    rebuilt from the raw docs frame, silently dropping the URL filter)."""
    body = " ".join(f"word{j} token" for j in range(12))
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, body + " one", "https://spam.example/a"),
         (2, body + " two", "https://deep.sub.spam.example/b"),
         (3, body + " three", "https://fine.example.org/c")],
        "doc_id long, text string, url string").write.parquet(src)
    out = str(tmp_path / "out")
    man = curate(spark, src, out, min_quality=0.0, min_tokens=1,
                 blocked_domains=["spam.example"], normalize=True)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {3}
    assert man["counts"]["after_quality_filter"] == 1


def test_curate_keep_best_quality_canonical(spark, tmp_path):
    # near-dup pair where the HIGHER id is the cleaner page: a prose doc
    # (id 5) and the same prose drowned in link-spam chrome (id 1). With
    # keep_best_quality the survivor is the higher-quality id 5; the
    # default min-id path keeps id 1.
    prose = ("The committee reviewed the evidence carefully and published "
             "a detailed and thoughtful report about the findings. " * 6)
    spammy = prose + " click | here | now | " * 15 + "$$$ !!! ### @@@ %%%"
    rows = [(1, spammy, "en"), (5, prose, "en"),
            (9, "An unrelated page about rivers and the slow evening "
                "light that settles over the water in autumn. " * 5, "en")]
    src = str(tmp_path / "bq_src")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(src)

    man = curate(spark, src, str(tmp_path / "bq_out"), min_quality=0.1,
                 min_tokens=3, near_dup_threshold=0.5,
                 keep_best_quality=True)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "bq_out"))
            .select("doc_id").collect()}
    assert man["counts"]["after_near_dup"] == 2
    assert kept == {5, 9}

    man2 = curate(spark, src, str(tmp_path / "bq_out2"), min_quality=0.1,
                  min_tokens=3, near_dup_threshold=0.5)
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "bq_out2"))
             .select("doc_id").collect()}
    assert kept2 == {1, 9}
