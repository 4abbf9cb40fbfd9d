"""Curation operators: repetition stats, PII redaction, benchmark
contamination (Bloom screen + exact verify), semantic dedup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fever_spark.operators import curation as CUR


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/documents.parquet")


class TestRepetition:
    def test_duplicate_fractions_known_values(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a"),          # 5 words, 2 distinct → 0.6 dup
             (2, "x\ny\nx\nz"),          # 4 lines, 3 distinct → 0.25 dup
             (3, "all distinct words"),
             (4, "")],
            "doc_id long, text string")
        rows = {r["doc_id"]: r for r in df.select(
            "doc_id",
            CUR.duplicate_word_fraction(F.col("text")).alias("dwf"),
            CUR.duplicate_line_fraction(F.col("text")).alias("dlf"),
        ).collect()}
        assert rows[1]["dwf"] == 0.6
        assert rows[2]["dlf"] == 0.25
        assert rows[3]["dwf"] == 0.0
        assert rows[4]["dwf"] == 0.0  # empty text → no repetition, no NaN

    def test_top_word_fraction(self, spark):
        df = spark.createDataFrame([(1, "spam spam spam eggs")],
                                   "doc_id long, text string")
        [row] = CUR.top_word_fraction(df).collect()
        assert row["top_word_frac"] == 0.75

    def test_repetition_filter_drops_degenerate(self, spark):
        df = spark.createDataFrame(
            [(1, "w " * 500), (2, "a perfectly normal varied sentence")],
            "doc_id long, text string")
        kept = [r["doc_id"]
                for r in CUR.repetition_filter(df).select("doc_id").collect()]
        assert kept == [2]


class TestPII:
    def test_redact_and_count(self, spark):
        df = spark.createDataFrame(
            [("write to jane.doe+x@sub.example.org from 192.168.001.5, "
              "acct 12345678901 ok",)], "text string")
        [row] = df.select(CUR.redact_pii(F.col("text")).alias("r"),
                          *CUR.pii_counts(F.col("text"))).collect()
        assert "<EMAIL>" in row["r"] and "<IP>" in row["r"] and "<ID>" in row["r"]
        assert "example.org" not in row["r"]
        assert (row["n_email"], row["n_ipv4"], row["n_id_number"]) == (1, 1, 1)

    def test_no_double_count_across_classes(self, spark):
        # the digits inside an email / IP must not count again as id_number
        df = spark.createDataFrame([("a123456789@x.io and 10.1.2.3",)],
                                   "text string")
        [row] = df.select(*CUR.pii_counts(F.col("text"))).collect()
        assert row["n_id_number"] == 0

    def test_clean_text_untouched(self, spark):
        df = spark.createDataFrame([("no personal data here at all",)],
                                   "text string")
        [row] = df.select(CUR.redact_pii(F.col("text")).alias("r")).collect()
        assert row["r"] == "no personal data here at all"


class TestContamination:
    def test_short_doc_ngram_guard(self, spark):
        # sequence(1, 0) would DESCEND — docs shorter than n must yield []
        df = spark.createDataFrame([(1, "only two"), (2, None),
                                    (3, " ".join(f"w{i}" for i in range(9)))],
                                   "doc_id long, text string")
        rows = {r["doc_id"]: r["ng"] for r in df.select(
            "doc_id", F.size(CUR.word_ngrams(F.col("text"), 8)).alias("ng")
        ).collect()}
        assert rows[1] == 0 and rows[3] == 2
        assert rows[2] <= 0  # null text → null/empty, never a bogus gram

    def test_screen_zero_false_negatives(self, spark, docs):
        bench = docs.filter(F.col("doc_id") % 11 == 0)
        bf = CUR.build_benchmark_bloom(bench, n=8, fpp=1e-4)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        screen = {r["doc_id"]: r["hit_ngrams"]
                  for r in CUR.contamination_screen(docs, bc, n=8).collect()}
        exact = {r["doc_id"]: r["contaminated_ngrams"]
                 for r in CUR.contamination_exact(docs, bench, n=8).collect()}
        assert exact, "fixture must actually contaminate"
        for doc_id, true_hits in exact.items():
            # Bloom may overcount (FP) but can NEVER undercount (FN)
            assert screen[doc_id] >= true_hits

    def test_screen_counts_bounded_by_total(self, spark, docs):
        bench = docs.limit(3)
        bf = CUR.build_benchmark_bloom(bench, n=8)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        bad = CUR.contamination_screen(docs, bc, n=8) \
            .filter(F.col("hit_ngrams") > F.col("total_ngrams")).count()
        assert bad == 0

    def test_benchmark_doc_is_fully_contaminated(self, spark, docs):
        bench = docs.filter(F.col("doc_id") == 0)
        n_grams = docs.filter(F.col("doc_id") == 0).select(
            F.size(CUR.word_ngrams(F.col("text"), 8)).alias("n")
        ).first()["n"]
        exact = {r["doc_id"]: r["contaminated_ngrams"]
                 for r in CUR.contamination_exact(docs, bench, n=8).collect()}
        assert exact[0] == n_grams


class TestParagraphDedup:
    def test_boilerplate_survives_only_first_occurrence(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha\nSUBSCRIBE NOW\nbeta"),
             (2, "gamma\nSUBSCRIBE NOW"),
             (3, "SUBSCRIBE NOW\ndelta")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["text"]
               for r in CUR.paragraph_dedup(df).collect()}
        assert out[1] == "alpha\nSUBSCRIBE NOW\nbeta"
        assert out[2] == "gamma"
        assert out[3] == "delta"

    def test_order_preserved_and_row_preserving(self, spark):
        df = spark.createDataFrame(
            [(1, "x\ny\nz"), (2, "z\ny\nx"), (3, "y")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["text"]
               for r in CUR.paragraph_dedup(df).collect()}
        assert out[1] == "x\ny\nz"
        assert out[2] == ""   # every paragraph claimed by doc 1 — row kept
        assert out[3] == ""
        assert len(out) == 3

    def test_within_doc_duplicates_collapse_too(self, spark):
        # the SAME paragraph twice in one doc: first position wins
        df = spark.createDataFrame([(1, "a\nb\na")],
                                   "doc_id long, text string")
        [r] = CUR.paragraph_dedup(df).collect()
        assert r["text"] == "a\nb"

    def test_other_columns_pass_through(self, spark):
        df = spark.createDataFrame([(1, "en", "p\nq"), (2, "de", "q\nr")],
                                   "doc_id long, lang string, text string")
        out = CUR.paragraph_dedup(df)
        assert set(out.columns) == {"doc_id", "lang", "text"}
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[2]["lang"] == "de" and rows[2]["text"] == "r"


class TestParagraphDedupInvariants:
    def _random_corpus(self, spark, seed, n_docs=30, n_distinct_paras=12):
        import numpy as np

        rng = np.random.default_rng(seed)
        paras = [f"paragraph {chr(97 + i)} body" for i in range(n_distinct_paras)]
        rows = [(i, "\n".join(rng.choice(paras,
                                         size=rng.integers(1, 6)).tolist()))
                for i in range(n_docs)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("seed", [1, 7, 42])
    def test_multiset_invariants(self, spark, seed):
        """After dedup: (a) every distinct input paragraph survives exactly
        once corpus-wide; (b) no paragraph appears twice; (c) row count
        preserved."""
        df = self._random_corpus(spark, seed)
        out = CUR.paragraph_dedup(df)
        assert out.count() == df.count()
        surviving = (out.filter(F.col("text") != "")
                     .select(F.explode(F.split("text", "\n")).alias("p")))
        counts = {r["p"]: r["n"] for r in
                  surviving.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        original = {r["p"] for r in
                    df.select(F.explode(F.split("text", "\n")).alias("p"))
                    .distinct().collect()}
        assert set(counts) == original
        assert all(n == 1 for n in counts.values())

    def test_idempotent(self, spark):
        df = self._random_corpus(spark, 3)
        once = CUR.paragraph_dedup(df)
        twice = CUR.paragraph_dedup(once)
        a = {(r["doc_id"], r["text"]) for r in once.collect()}
        b = {(r["doc_id"], r["text"]) for r in twice.collect()}
        assert a == b


class TestPlanShapes:
    """Lock in the physical-plan properties PLANS.md claims."""

    def test_contamination_screen_one_udf_no_shuffle(self, spark, docs):
        bf = CUR.build_benchmark_bloom(docs.limit(3), n=8)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        plan = CUR.contamination_screen(docs, bc, n=8) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1
        assert "Exchange" not in plan

    def test_repetition_and_redaction_udf_free(self, spark, docs):
        plan = docs.select(
            CUR.duplicate_word_fraction(F.col("text")),
            CUR.duplicate_line_fraction(F.col("text")),
            CUR.redact_pii(F.col("text")),
        )._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan  # neither Arrow nor Batch

    def test_semantic_dedup_no_cartesian(self, spark, sf_med):
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet") \
            .withColumn("embedding", F.col("embedding").cast("array<double>"))
        plan = CUR.semantic_dedup_pairs(emb, threshold=0.9, n_cells=4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestDedupSkew:
    """Round-7: the real-web hot key — ONE boilerplate paragraph (cookie
    banner) in 90% of documents. Both dedup paths handle it without a
    fingerprint-partitioned window (windows cannot be skew-split): the
    hot fingerprint collapses MAP-SIDE in a partial min-aggregation, so
    no reducer ever receives more hot-key rows than there are map tasks.
    These tests plant the skew, pin the output, and pin the plan shape
    that makes the bound hold (partial_min before the exchange)."""

    def _skewed(self, spark, n_docs=400):
        rows = []
        for i in range(n_docs):
            body = f"unique para {i}\nsecond unique {i}"
            if i % 10 != 0:  # 90% of docs carry the banner
                body = "WE USE COOKIES ACCEPT ALL\n" + body
            rows.append((i, body))
        return spark.createDataFrame(rows, "doc_id long, text string") \
            .repartition(8)

    def test_planted_hot_paragraph_output(self, spark):
        df = self._skewed(spark)
        out = {r["doc_id"]: r["text"]
               for r in CUR.paragraph_dedup(df).collect()}
        assert len(out) == 400
        carriers = [i for i in range(400) if i % 10 != 0]
        first = min(carriers)  # min (doc_id, pos) wins
        assert out[first].startswith("WE USE COOKIES")
        assert all(not out[i].startswith("WE USE COOKIES")
                   for i in carriers if i != first)
        # every doc keeps its own unique paragraphs
        assert all(f"unique para {i}" in out[i] for i in range(400))

    def test_paragraph_firsts_is_partial_aggregated(self, spark):
        # the skew bound: the firsts aggregation must show a PARTIAL min
        # below its exchange — the hot fingerprint then leaves each map
        # task as ONE row, so the reducer sees <= n_map_tasks rows for it
        df = self._skewed(spark)
        plan = CUR.paragraph_dedup(df) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "partial_min" in plan
        # and no window anywhere in the operator
        assert "Window" not in plan

    def test_substring_hot_block_output_and_plan(self, spark):
        # the same shape for exact-substring dedup: a 25-token block in
        # 90% of docs must survive exactly once, via the same
        # partial-aggregated firsts (never a window)
        block = " ".join(f"tok{j}" for j in range(25))
        rows = []
        for i in range(100):
            body = f"own{i} text{i} " + " ".join(
                f"w{i}_{j}" for j in range(30))
            if i % 10 != 0:
                body = block + " " + body
            rows.append((i, body))
        df = spark.createDataFrame(rows, "doc_id long, text string") \
            .repartition(8)
        out_df = CUR.substring_dedup(df, k=20)
        # the firsts aggregation sits behind the removals localCheckpoint
        # and is invisible in this plan string — its partial_min shape is
        # pinned by test_paragraph_firsts_is_partial_aggregated (same
        # min-agg construction); here pin the no-window property of the
        # visible reassembly and the planted-skew OUTPUT
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        out = {r["doc_id"]: r for r in out_df.collect()}
        carriers = [i for i in range(100) if i % 10 != 0]
        keepers = [i for i in carriers if out[i]["text"].startswith("tok0 ")]
        assert keepers == [min(carriers)]
        assert all(out[i]["removed_tokens"] > 0
                   for i in carriers if i != min(carriers))
        assert all(f"own{i}" in out[i]["text"] for i in range(100))


class TestCanonicalUrl:
    CASES = {
        "HTTPS://Site.Example:443/P/?utm_source=f&x=1#t":
            "https://site.example/P?x=1",
        "http://site.example:80/P?x=1": "http://site.example/P?x=1",
        "https://a.example/": "https://a.example",
        "https://a.example": "https://a.example",
        "https://c.example/x/y/?ref=abc": "https://c.example/x/y",
        "http://h.example/q?gclid=z&keep=2&UTM_Term=q":
            "http://h.example/q?keep=2",
        # non-default port and non-tracking params survive
        "https://h.example:8443/a?b=1&c=2": "https://h.example:8443/a?b=1&c=2",
    }

    def test_contract(self, spark):
        from fever_spark.functions.urls import canonical_url

        df = spark.createDataFrame([(k,) for k in self.CASES], "url string")
        got = {r["url"]: r["c"] for r in df.select(
            "url", canonical_url(F.col("url")).alias("c")).collect()}
        for raw, want in self.CASES.items():
            assert got[raw] == want, raw

    def test_dedup_groups(self, spark):
        from fever_spark.functions.urls import url_dedup_groups

        df = spark.createDataFrame(
            [(1, "HTTPS://A.example/x/?utm_source=z"),
             (2, "https://a.example/x"),
             (3, "https://b.example/y")],
            "doc_id long, url string")
        groups = {r["canonical_url"]: (r["n_dups"], r["keep_id"])
                  for r in url_dedup_groups(df).collect()}
        assert groups["https://a.example/x"] == (2, 1)
        assert groups["https://b.example/y"] == (1, 3)


class TestSemanticDedup:
    def _with_planted(self, spark, sf_med):
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet") \
            .withColumn("embedding", F.col("embedding").cast("array<double>"))
        planted = emb.filter(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
            "label")
        return emb.unionByName(planted), planted.count()

    def test_planted_pairs_all_found(self, spark, sf_med):
        corpus, n_planted = self._with_planted(spark, sf_med)
        pairs = CUR.semantic_dedup_pairs(corpus, threshold=0.99).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        expected = {(v, v + 10_000) for v in range(0, 500, 25)}
        assert expected <= found
        for r in pairs:
            assert r["cosine"] >= 0.99

    def test_keep_drops_exactly_the_copies(self, spark, sf_med):
        from fever_spark.operators.dedup import dedup_keep_canonical

        corpus, n_planted = self._with_planted(spark, sf_med)
        kept = dedup_keep_canonical(
            corpus, CUR.semantic_dedup_pairs(corpus, threshold=0.99),
            "vec_id")
        # canonical = lowest id → the planted high-id copies are the losers
        assert kept.count() == corpus.count() - n_planted
        assert kept.filter(F.col("vec_id") >= 10_000).count() == 0

    def test_no_pairs_in_orthogonal_corpus(self, spark, sf_med):
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet") \
            .withColumn("embedding", F.col("embedding").cast("array<double>"))
        assert CUR.semantic_dedup_pairs(emb, threshold=0.95).count() == 0


class TestReviewRegressions:
    """Regression gates for the round-2 code-review findings."""

    def test_paragraph_dedup_null_metadata_row_preserving(self, spark):
        # NULL in a metadata column must not duplicate the doc (the lost-row
        # anti-join keys on the id column only)
        df = spark.createDataFrame(
            [(1, None, "x\ny"), (2, "en", "y\nz"), (3, None, "y")],
            "doc_id long, lang string, text string")
        out = CUR.paragraph_dedup(df)
        assert out.count() == 3
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["text"] == "x\ny" and rows[1]["lang"] is None
        assert rows[3]["text"] == ""  # lost all paragraphs, still one row

    def test_build_sketches_nullable_integral_column_stable_hash(self, spark):
        """A nullable int64 column arrives float64 in null-carrying Arrow
        batches; the build layer must cast back so the same id hashes
        identically everywhere (HLL exactness + KMV sample shape)."""
        from fever_spark.ops import (SketchSpec, build_sketches,
                                     kmv_sample_col, two_level_merge,
                                     kmv_estimate_col)

        rows = [(int(i), int(i % 50) if i % 7 else None) for i in range(400)]
        df = spark.createDataFrame(rows, "rid long, user_id long") \
            .repartition(8)  # several batches, some with nulls
        merged = two_level_merge(build_sketches(
            df, [], [SketchSpec("u", "kmv", "user_id", {"k": 256})]), [])
        row = merged.select(kmv_estimate_col(F.col("state")).alias("est"),
                            kmv_sample_col(F.col("state")).alias("s")).first()
        assert row["est"] == 50.0  # exact below k — no double-hashed ids
        assert all("." not in v for v in row["s"])  # '123', never '123.0'

    def test_sketch_job_refuses_spec_mismatch_resume(self, spark, tmp_path):
        import pytest as _pytest

        from fever_spark.jobs.sketch_job import SketchJob
        from fever_spark.ops import SketchSpec

        src = str(tmp_path / "src")
        spark.range(100).selectExpr("id", "CAST(id % 5 AS STRING) AS g") \
            .coalesce(1).write.parquet(src)
        ckpt = str(tmp_path / "ckpt")
        spec_v1 = [SketchSpec("d", "hll", "id", {"p": 10})]
        SketchJob(src, ckpt, keys=["g"], specs=spec_v1,
                  job_id="j").run(spark)
        spec_v2 = spec_v1 + [SketchSpec("s", "kmv", "id", {"k": 32})]
        with _pytest.raises(ValueError, match="different specs"):
            SketchJob(src, ckpt, keys=["g"], specs=spec_v2,
                      job_id="j").run(spark, resume=True)
        # resume=False rebuilds cleanly with the new specs
        out = SketchJob(src, ckpt, keys=["g"], specs=spec_v2,
                        job_id="j").run(spark, resume=False)
        assert out.filter(F.col("sketch") == "s").count() == 5


class TestPackDocuments:
    def test_known_small_case(self, spark):
        from fever_spark.operators.curation import pack_documents

        # tokens: 3, 4, 5, 2 — prefix starts 0,3,7,12 → bins 0,0,0,1 @10
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "d e f g"), (3, "h i j k l"), (4, "m n")],
            "doc_id long, text string")
        out = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
               for r in pack_documents(df, budget=10).collect()}
        assert out == {1: (3, 0), 2: (4, 0), 3: (5, 0), 4: (2, 1)}

    def test_matches_single_window_reference(self, spark, sf_small):
        """Bucketed two-pass prefix sum == the naive single-task window."""
        from pyspark.sql import Window
        from fever_spark.operators.curation import pack_documents

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        got = {r["doc_id"]: r["bin_id"]
               for r in pack_documents(docs, budget=300,
                                       n_buckets=7).collect()}
        n = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        ref = {r["doc_id"]: r["b"] for r in
               docs.select("doc_id", n.alias("n"))
               .select("doc_id",
                       F.floor((F.sum("n").over(w) - F.col("n")) / 300)
                       .alias("b")).collect()}
        assert got == ref

    def test_oversized_doc_gets_own_bins(self, spark):
        from fever_spark.operators.curation import pack_documents

        df = spark.createDataFrame(
            [(1, " ".join(["w"] * 25)), (2, "a b")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["bin_id"]
               for r in pack_documents(df, budget=10).collect()}
        assert out[1] == 0      # starts at offset 0
        assert out[2] == 2      # starts at offset 25 → bin 2


class TestParagraphDedupBlankExemption:
    """Round-3 ADVICE fix: blank paragraphs (consecutive separators) are
    document structure — exempt from dedup, preserved everywhere."""

    def test_blank_lines_survive_in_every_doc(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha\n\nbeta"), (2, "gamma\n\ndelta")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["text"]
               for r in CUR.paragraph_dedup(df).collect()}
        assert out[1] == "alpha\n\nbeta"
        assert out[2] == "gamma\n\ndelta"   # blank NOT claimed by doc 1

    def test_whitespace_only_paragraphs_exempt_too(self, spark):
        df = spark.createDataFrame(
            [(1, "a\n  \nb"), (2, "c\n  \nd")], "doc_id long, text string")
        out = {r["doc_id"]: r["text"]
               for r in CUR.paragraph_dedup(df).collect()}
        assert out[1] == "a\n  \nb"
        assert out[2] == "c\n  \nd"

    def test_content_dedup_still_applies_around_blanks(self, spark):
        df = spark.createDataFrame(
            [(1, "promo\n\nx"), (2, "promo\n\ny")], "doc_id long, text string")
        out = {r["doc_id"]: r["text"]
               for r in CUR.paragraph_dedup(df).collect()}
        assert out[1] == "promo\n\nx"
        assert out[2] == "\ny"   # 'promo' deduped, the break kept


class TestPackDocumentsBoundaries:
    """Round-3: boundaries come from a bottom-k xxhash64 sample of the
    ids — bin assignment is invariant to boundary placement (exact
    per-bucket offsets + exact in-bucket prefix sums reproduce the exact
    global prefix sum)."""

    def test_invariant_across_n_buckets(self, spark, sf_small):
        from fever_spark.operators.curation import pack_documents

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        a = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
             for r in pack_documents(docs, budget=300, n_buckets=7).collect()}
        b = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
             for r in pack_documents(docs, budget=300, n_buckets=3).collect()}
        c = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
             for r in pack_documents(docs, budget=300, n_buckets=64).collect()}
        assert a == b == c

    def test_string_id_fallback_exact_path(self, spark):
        from fever_spark.operators.curation import pack_documents

        df = spark.createDataFrame(
            [(f"id{i:03d}", "w " * (i + 1)) for i in range(20)],
            "doc_id string, text string")
        out = {r["doc_id"]: r["bin_id"]
               for r in pack_documents(df, budget=30, n_buckets=4).collect()}
        # exact reference: ids sort lexically = insertion order here
        acc, ref = 0, {}
        for i in range(20):
            n = i + 1
            ref[f"id{i:03d}"] = acc // 30
            acc += n
        assert out == ref

    def test_null_id_packs_first(self, spark):
        # the id sample skips nulls; a null id orders first (bucket 0),
        # as in a single ascending window
        from fever_spark.operators.curation import pack_documents

        df = spark.createDataFrame(
            [(None, "a b c")] + [(i, "w " * (i % 5 + 1)) for i in range(30)],
            "doc_id long, text string")
        out = {r["doc_id"]: r["bin_id"]
               for r in pack_documents(df, budget=10, n_buckets=4).collect()}
        acc, ref = 3, {None: 0}
        for i in range(30):
            ref[i] = acc // 10
            acc += i % 5 + 1
        assert out == ref


class TestRareTokenStats:
    """Corpus-frequency gibberish detector: CMS built once, broadcast,
    probed with zero shuffle. CMS only OVERcounts, so rare_frac is a lower
    bound on the exact rare fraction — a drop rule can't fire on clean
    text because of sketch error."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = []
        common = "the quick brown fox jumps over the lazy dog again and again"
        for i in range(40):                      # clean docs: common tokens
            rows.append((i, common))
        for i in range(40, 44):                  # gibberish: unique tokens
            rows.append((i, " ".join(f"zx{i}q{j}w" for j in range(12))))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_gibberish_flagged_clean_not(self, spark, corpus):
        from fever_spark.operators.curation import (build_token_cms,
                                                    rare_token_stats)

        bc = spark.sparkContext.broadcast(build_token_cms(corpus))
        got = {r["doc_id"]: r for r in
               rare_token_stats(corpus, bc, min_count=5).collect()}
        for i in range(40):
            assert got[i]["rare_frac"] == 0.0   # every token appears 40+ times
        for i in range(40, 44):
            assert got[i]["rare_frac"] == 1.0   # every token appears once
            assert got[i]["n_tokens"] == 12

    def test_never_exceeds_exact_rare_fraction(self, spark, corpus):
        # CMS overcount direction: est >= true, so est<min_count ⊆ true<min_count
        from pyspark.sql import functions as F2
        from fever_spark.operators.curation import (build_token_cms,
                                                    rare_token_stats)

        bc = spark.sparkContext.broadcast(build_token_cms(corpus))
        got = {r["doc_id"]: r["rare_frac"] for r in
               rare_token_stats(corpus, bc, min_count=5).collect()}
        freq = {r["tok"]: r["c"] for r in
                corpus.select(F2.explode(F2.split(F2.lower(F2.trim("text")),
                                                  r"\s+")).alias("tok"))
                .groupBy("tok").agg(F2.count("*").alias("c")).collect()}
        for r in corpus.collect():
            toks = r["text"].lower().split()
            exact = sum(freq[t] < 5 for t in toks) / len(toks)
            assert got[r["doc_id"]] <= exact + 1e-9

    def test_empty_and_whitespace_docs(self, spark):
        from fever_spark.operators.curation import (build_token_cms,
                                                    rare_token_stats)

        df = spark.createDataFrame([(1, "real tokens here"), (2, "")],
                                   "doc_id long, text string")
        bc = spark.sparkContext.broadcast(build_token_cms(df))
        got = {r["doc_id"]: r for r in
               rare_token_stats(df, bc).collect()}
        assert got[2]["n_tokens"] == 0 and got[2]["rare_frac"] == 0.0

    def test_null_text_reads_as_empty(self, spark, corpus):
        """A NULL text row scores like "" (no tokens, rare_frac 0.0)
        instead of failing the job, and the other rows are unchanged."""
        from fever_spark.operators.curation import (build_token_cms,
                                                    rare_token_stats)

        bc = spark.sparkContext.broadcast(build_token_cms(corpus))
        extra = spark.createDataFrame([(100, None), (101, "")],
                                      "doc_id long, text string")

        def stats(df):
            return {r["doc_id"]: (r["n_tokens"], r["rare_frac"]) for r in
                    rare_token_stats(df, bc, min_count=5).collect()}

        got = stats(corpus.unionByName(extra))
        assert got.pop(100) == (0, 0.0)
        assert got.pop(101) == (0, 0.0)
        assert got == stats(corpus)

class TestSubstringDedup:
    """ExactSubstr span removal (Lee et al. 2022 shape): duplicated runs of
    >= k tokens survive only at their first (doc_id, pos) occurrence."""

    @staticmethod
    def _reference(docs, k):
        """O(n·k) single-machine reference with the exact semantics."""
        from collections import defaultdict

        toks = {i: t.strip().split() for i, t in docs}
        occ = defaultdict(list)
        for i, _ in docs:
            ts = toks[i]
            for p in range(len(ts) - k + 1):
                occ[tuple(ts[p:p + k])].append((i, p))
        cov = defaultdict(set)
        for lst in occ.values():
            for (i, p) in sorted(lst)[1:]:
                cov[i].update(range(p, p + k))
        out = {}
        for i, t in docs:
            c = cov.get(i)
            if not c:
                out[i] = (t, 0)
            else:
                ts = toks[i]
                out[i] = (" ".join(w for j, w in enumerate(ts)
                                   if j not in c), len(c))
        return out

    def test_boilerplate_suffix_removed_except_first(self, spark):
        boiler = "all rights reserved contact us for licensing terms"
        rows = [(i, " ".join(f"w{i}x{j}" for j in range(20))
                 + (" " + boiler if i % 3 == 0 else "")) for i in range(12)]
        out = {r["doc_id"]: r for r in CUR.substring_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"),
            k=8).collect()}
        assert out[0]["text"].endswith(boiler)
        assert out[0]["removed_tokens"] == 0
        for i in (3, 6, 9):
            assert boiler not in out[i]["text"]
            assert out[i]["removed_tokens"] == 8
        for i in (1, 2, 4, 5):
            assert out[i]["removed_tokens"] == 0
            assert out[i]["text"] == rows[i][1]   # untouched byte-for-byte

    def test_within_doc_period_repeat_coalesces(self, spark):
        # 24 tokens with period 8: every gram at pos >= 8 repeats an
        # earlier one -> tokens 8..23 removed as ONE coalesced span.
        text = ("alpha beta gamma delta eps zeta eta theta " * 3).strip()
        [r] = CUR.substring_dedup(
            spark.createDataFrame([(1, text)], "doc_id long, text string"),
            k=8).collect()
        assert r["text"] == "alpha beta gamma delta eps zeta eta theta"
        assert r["removed_tokens"] == 16

    def test_short_and_empty_docs_pass_through(self, spark):
        df = spark.createDataFrame(
            [(1, "tiny doc"), (2, ""), (3, "tiny doc")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in CUR.substring_dedup(df, k=8).collect()}
        assert len(out) == 3
        for i in (1, 2, 3):
            assert out[i]["removed_tokens"] == 0
        assert out[3]["text"] == "tiny doc"   # shorter than k: not a dup run

    def test_matches_reference_on_random_corpus_with_planted_spans(
            self, spark):
        import random

        rng = random.Random(7)
        vocab = [f"tok{v}" for v in range(40)]
        docs = []
        for i in range(40):
            docs.append((i, " ".join(rng.choice(vocab)
                                     for _ in range(rng.randint(15, 50)))))
        # plant: splice spans of doc 2*j into doc 2*j+1
        planted = []
        for j in range(10):
            src = docs[2 * j][1].split()
            dst = docs[2 * j + 1][1].split()
            p = rng.randint(0, max(len(src) - 7, 0))
            span = src[p:p + 7]
            q = rng.randint(0, len(dst))
            planted.append((2 * j + 1,
                            " ".join(dst[:q] + span + dst[q:])))
        docs = dict(docs)
        docs.update(dict(planted))
        docs = sorted(docs.items())
        expect = self._reference(docs, k=5)
        got = {r["doc_id"]: (r["text"], r["removed_tokens"])
               for r in CUR.substring_dedup(
                   spark.createDataFrame(docs, "doc_id long, text string"),
                   k=5).collect()}
        assert got == expect
        assert sum(v[1] for v in got.values()) > 0   # non-vacuous

    def test_other_columns_pass_through(self, spark):
        df = spark.createDataFrame(
            [(1, "en", "one two three four five six"),
             (2, "de", "one two three four five six")],
            "doc_id long, lang string, text string")
        out = {r["doc_id"]: r for r in CUR.substring_dedup(df, k=6).collect()}
        assert out[1]["lang"] == "en" and out[2]["lang"] == "de"
        assert out[2]["text"] == "" and out[2]["removed_tokens"] == 6


class TestSubstringDedupProperties:
    """Randomized semantics check: for any corpus and any k, the
    distributed operator must equal the single-machine reference."""

    from hypothesis import given, settings, strategies as st

    corpus_strategy = st.lists(
        st.lists(st.sampled_from([f"w{v}" for v in range(12)]),
                 min_size=0, max_size=25).map(" ".join),
        min_size=1, max_size=14)

    @settings(max_examples=8, deadline=None)
    @given(texts=corpus_strategy, k=st.integers(min_value=2, max_value=6))
    def test_matches_reference(self, spark, texts, k):
        docs = list(enumerate(texts))
        expect = TestSubstringDedup._reference(docs, k)
        got = {r["doc_id"]: (r["text"], r["removed_tokens"])
               for r in CUR.substring_dedup(
                   spark.createDataFrame(docs, "doc_id long, text string"),
                   k=k).collect()}
        assert got == expect


class TestTextNormalization:
    """NFC + control/zero-width strip, checked against DuckDB's
    independent nfc_normalize + regexp implementation and Python's
    unicodedata."""

    SAMPLES = [
        "café and café must converge",      # NFD vs NFC
        "zero​width‌join‍er﻿",
        "ctrl\x01chars\x07here\x00",
        "keep\ttabs\nand\nnewlines\r",
        "plain ascii stays identical",
        "",
        # ZWSP BETWEEN base letter and combining acute: strip must run
        # BEFORE NFC or the output is a non-NFC decomposed residue
        "cafe\u200b\u0301 trap",
        # C1 controls (mis-decoded windows-1252 residue) must strip too
        "c1\x85controls\x92here\u009f",
    ]

    def test_matches_python_unicodedata(self, spark):
        import re
        import unicodedata
        from fever_spark.functions.text import normalize_text

        df = spark.createDataFrame([(i, s) for i, s in
                                    enumerate(self.SAMPLES)],
                                   "i long, t string")
        got = {r["i"]: r["n"] for r in
               df.select("i", normalize_text(F.col("t")).alias("n"))
               .collect()}
        rx = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f"
                        "\x80-\x9f​-‍﻿]")
        for i, s in enumerate(self.SAMPLES):
            expect = unicodedata.normalize("NFC", rx.sub("", s))
            assert got[i] == expect, (i, got[i], expect)
            # the output is a normalization FIXED POINT
            assert unicodedata.normalize("NFC", got[i]) == got[i]

    def test_matches_duckdb_replica(self, spark):
        import duckdb
        import pandas as pd
        from fever_spark.functions.text import normalize_text

        df = spark.createDataFrame([(i, s) for i, s in
                                    enumerate(self.SAMPLES)],
                                   "i long, t string")
        got = (df.select("i", normalize_text(F.col("t")).alias("n"))
               .toPandas().sort_values("i")["n"].tolist())
        con = duckdb.connect()
        con.register("s", pd.DataFrame({"i": range(len(self.SAMPLES)),
                                        "t": self.SAMPLES}))
        expect = [r[0] for r in con.execute(r"""
            SELECT nfc_normalize(regexp_replace(t,
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{0080}-\x{009F}\x{200B}-\x{200D}\x{FEFF}]',
              '', 'g')) FROM s ORDER BY i""").fetchall()]
        assert got == expect

    def test_normalization_unifies_fingerprints(self, spark):
        from fever_spark.functions.text import fingerprint, normalize_text

        df = spark.createDataFrame(
            [(1, "café au lait"), (2, "café au lait")],
            "doc_id long, t string")
        raw = df.select(fingerprint(F.col("t")).alias("f")).distinct().count()
        norm = df.select(fingerprint(normalize_text(F.col("t")))
                         .alias("f")).distinct().count()
        assert raw == 2 and norm == 1


class TestC4GopherRules:
    """C4 (Raffel et al. 2020 §2.2) line/doc rules and Gopher (Rae et al.
    2021 A1) doc-quality predicate — codegen columns, DuckDB-replicated."""

    LINES = [
        "This is a proper sentence with enough words.",
        "Too short.",
        "no terminal punctuation on this line",
        "Please enable javascript to view this site.",
        "We use cookies to improve your browsing experience.",
        "Another good sentence stays in the document!",
    ]

    def test_c4_clean_lines_rules(self, spark):
        from fever_spark.operators.curation import c4_clean_lines

        doc = "\n".join(self.LINES)
        [row] = spark.createDataFrame([(doc,)], "t string") \
            .select(c4_clean_lines(F.col("t")).alias("c")).collect()
        assert row["c"].split("\n") == [self.LINES[0], self.LINES[5]]

    def test_c4_clean_lines_matches_duckdb(self, spark):
        import duckdb
        import pandas as pd
        from fever_spark.operators.curation import c4_clean_lines

        docs = ["\n".join(self.LINES),
                "One good line that ends with punctuation.",
                "",
                "ALL CAPS BUT FINE TOO.\nlowercase no punct",
                "  Leading space sentence keeps its words.  "]
        got = [r["c"] for r in
               spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                     "i long, t string")
               .select("i", c4_clean_lines(F.col("t")).alias("c"))
               .orderBy("i").collect()]
        con = duckdb.connect()
        con.register("d", pd.DataFrame({"i": range(len(docs)), "t": docs}))
        expect = [r[0] for r in con.execute(r"""
            SELECT coalesce(array_to_string(list_filter(string_split(t, chr(10)),
              x -> len(regexp_split_to_array(trim(x), '\s+')) >= 3
                   AND trim(x) <> ''
                   AND NOT regexp_matches(trim(x),
                     '(?i)javascript|lorem ipsum|cookie policy|uses? cookies|terms of (use|service)|privacy policy')
                   AND regexp_matches(trim(x), '[.!?"'']$')), chr(10)), '')
            FROM d ORDER BY i""").fetchall()]
        assert got == expect

    def test_c4_doc_conditions(self, spark):
        from fever_spark.operators.curation import c4_doc_conditions

        rows = [
            (0, "One. Two! Three? All fine sentences here."),   # keep
            (1, "function f() { return 1; }. Yes. Sure."),      # brace
            (2, "Lorem ipsum dolor sit amet. Etc. More."),      # filler
            (3, "Only two. Sentences here."),                   # < 3
        ]
        got = {r["i"]: r["keep"] for r in
               spark.createDataFrame(rows, "i long, t string")
               .select("i", c4_doc_conditions(F.col("t")).alias("keep"))
               .collect()}
        assert got == {0: True, 1: False, 2: False, 3: False}

    def test_gopher_doc_conditions(self, spark):
        from fever_spark.operators.curation import gopher_doc_conditions

        good = " ".join(f"word{i} fine text here" for i in range(20)) + "."
        few = "just a handful of words here."
        bullets = "\n".join(f"- item number {i} listed" for i in range(15)) \
            + "\n" + " ".join("pad" for _ in range(10))
        ellipsis = "\n".join(
            f"teaser line {i} trails off..." for i in range(12))
        hashes = " ".join("#tag" for _ in range(60))
        numeric = " ".join(str(i) for i in range(80))
        rows = list(enumerate([good, few, bullets, ellipsis, hashes,
                               numeric]))
        got = {r["i"]: r["keep"] for r in
               spark.createDataFrame(rows, "i long, t string")
               .select("i", gopher_doc_conditions(F.col("t"), min_words=40)
                       .alias("keep")).collect()}
        assert got[0] is True
        assert got[1] is False          # too few words
        assert got[2] is False          # bullet lines >= 90%
        assert got[3] is False          # ellipsis line endings >= 30%
        assert got[4] is False          # symbol ratio
        assert got[5] is False          # alpha-word fraction


class TestDomainBlocklist:
    """URL-level domain filter: suffix semantics, subdomains included,
    null tolerance, zero-shuffle plan."""

    ROWS = [
        (1, "https://spam.example/page"),
        (2, "https://deep.sub.spam.example/x"),
        (3, "http://notspam.example/y"),        # NOT a suffix match
        (4, "https://fine.example.org/z"),
        (5, None),
        (6, "not a url at all"),
    ]
    BLOCK = ["spam.example", "Tracker.NET"]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id long, url string")

    def test_subdomain_suffix_semantics(self, spark):
        from fever_spark.functions.urls import filter_blocked_domains

        kept = {r["doc_id"] for r in
                filter_blocked_domains(self._df(spark), self.BLOCK)
                .collect()}
        assert kept == {3, 4, 5, 6}   # nulls/junk kept (no host -> no hit)
        blocked = {r["doc_id"] for r in
                   filter_blocked_domains(self._df(spark), self.BLOCK,
                                          keep=True).collect()}
        assert blocked == {1, 2}

    def test_case_insensitive(self, spark):
        from fever_spark.functions.urls import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://ads.TRACKER.net/p")], "doc_id long, url string")
        assert filter_blocked_domains(df, self.BLOCK).count() == 0

    def test_zero_shuffle_plan(self, spark):
        from fever_spark.functions.urls import filter_blocked_domains

        plan = filter_blocked_domains(
            self._df(spark), self.BLOCK)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan

    def test_suffix_generator(self, spark):
        from fever_spark.functions.urls import host_suffixes

        [row] = spark.createDataFrame(
            [("https://a.b.example.com/x?q=1",)], "u string") \
            .select(host_suffixes(F.col("u")).alias("s")).collect()
        assert row["s"] == ["a.b.example.com", "b.example.com",
                            "example.com", "com"]


class TestDedupDocLines:
    def test_first_occurrence_kept_in_order(self, spark):
        from fever_spark.operators.curation import dedup_doc_lines

        doc = "alpha\nbeta\nalpha\ngamma\nbeta\ndelta"
        [r] = spark.createDataFrame([(doc,)], "t string") \
            .select(dedup_doc_lines(F.col("t")).alias("d")).collect()
        assert r["d"] == "alpha\nbeta\ngamma\ndelta"

    def test_matches_duckdb_replica(self, spark):
        import duckdb
        import pandas as pd
        from fever_spark.operators.curation import dedup_doc_lines

        docs = ["a\nb\na\nc", "", "x", "x\nx\nx", "p\n\nq\n\np"]
        got = [r["d"] for r in
               spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                     "i long, t string")
               .select("i", dedup_doc_lines(F.col("t")).alias("d"))
               .orderBy("i").collect()]
        con = duckdb.connect()
        con.register("s", pd.DataFrame({"i": range(len(docs)), "t": docs}))
        # list_distinct does not preserve order in DuckDB; keep each
        # element only at its FIRST index to replicate array_distinct
        expect = [r[0] for r in con.execute("""
            SELECT array_to_string(list_filter(string_split(t, chr(10)),
                     (x, j) -> list_position(string_split(t, chr(10)), x) = j),
                   chr(10)) FROM s ORDER BY i""").fetchall()]
        assert got == expect

    def test_zero_shuffle(self, spark):
        from fever_spark.operators.curation import dedup_doc_lines

        plan = spark.createDataFrame([("a\nb",)], "t string") \
            .select(dedup_doc_lines(F.col("t")))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestDeepSubdomainSuffixes:
    """Regression: the max_labels cap must keep the SHORTEST suffixes
    (registrable domains) — a host deeper than max_labels labels once
    emitted only its longest suffixes and bypassed the blocklist."""

    def test_deep_host_still_emits_registrable_domain(self, spark):
        from fever_spark.functions.urls import host_suffixes

        [row] = spark.createDataFrame(
            [("https://a.b.c.d.e.f.bad.example/x",)], "u string") \
            .select(host_suffixes(F.col("u")).alias("s")).collect()
        # 8 labels, cap 6: the FULL host (exact deep-hostname blocklist
        # entries must keep matching) plus the 6 SHORTEST suffixes
        assert row["s"] == [
            "a.b.c.d.e.f.bad.example",
            "c.d.e.f.bad.example", "d.e.f.bad.example", "e.f.bad.example",
            "f.bad.example", "bad.example", "example"]

    def test_exact_deep_host_entry_matches(self, spark):
        from fever_spark.functions.urls import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://a.b.c.d.e.f.bad.example/x"),
             (2, "https://z.b.c.d.e.f.bad.example/x")], "i long, url string")
        kept = {r["i"] for r in filter_blocked_domains(
            df, ["a.b.c.d.e.f.bad.example"]).collect()}
        # the exact 8-label entry blocks row 1 only; row 2 differs in the
        # deepest label and shares no listed suffix
        assert kept == {2}

    def test_deep_host_blocked(self, spark):
        from fever_spark.functions.urls import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://a.b.c.d.e.f.bad.example/x"),
             (2, "https://ok.example/y")], "doc_id long, url string")
        kept = {r["doc_id"] for r in
                filter_blocked_domains(df, ["bad.example"]).collect()}
        assert kept == {2}
