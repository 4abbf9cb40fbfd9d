"""Dedup / ANN / text-analysis operator tests over the driver tables +
planted near-duplicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fever_spark.functions import text as TXT
from fever_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def docs(spark, sf_med):
    return spark.read.parquet(f"{sf_med}/documents.parquet").cache()


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with known exact dups and near-dups."""
    base = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the wide green field chasing a very confused rabbit")
    rows = [
        (1, base),
        (2, base),                                 # exact dup of 1
        (3, base.upper()),                         # case-normalized dup of 1
        (4, base.replace("rabbit", "squirrel")),   # near-dup
        (5, "completely different text about databases and query optimizers "
            "running distributed joins over partitioned columnar storage"),
        (6, base.replace("quick", "slow").replace("lazy", "sleepy")),  # near-dup
        (7, ""),                                   # empty
        (8, "tiny"),                               # shorter than shingle size
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_planted(self, planted):
        kept = dedup.exact_dedup(planted).select("doc_id").toPandas()["doc_id"]
        assert 1 in set(kept) and 2 not in set(kept) and 3 not in set(kept)
        assert {4, 5, 6, 7, 8} <= set(kept)

    def test_idempotent(self, docs):
        once = dedup.exact_dedup(docs)
        assert dedup.exact_dedup(once).count() == once.count()

    def test_validate_catches_duplicate_ids(self, spark):
        import pytest

        bad = spark.createDataFrame(
            [(1, "text a"), (1, "text b"), (2, "text c")],
            "doc_id long, text string")
        with pytest.raises(ValueError, match="unique"):
            dedup.exact_dedup(bad, validate=True)

    def test_validate_catches_null_ids(self, spark):
        import pytest

        bad = spark.createDataFrame(
            [(None, "same text"), (None, "same text"), (3, "other")],
            "doc_id long, text string")
        with pytest.raises(ValueError, match="non-null"):
            dedup.exact_dedup(bad, validate=True)
        # without validation the all-NULL-id group silently vanishes —
        # exactly the data loss the flag turns into a loud failure
        assert dedup.exact_dedup(bad).count() == 1

    def test_validate_passes_clean_ids(self, planted):
        kept = dedup.exact_dedup(planted, validate=True)
        assert kept.count() == dedup.exact_dedup(planted).count()


class TestMinHashLSH:
    def test_planted_near_dups_found(self, planted):
        pairs = dedup.minhash_near_duplicates(planted, threshold=0.5).toPandas()
        found = {tuple(sorted(p)) for p in zip(pairs.id_a, pairs.id_b)}
        # exact dups estimate ~1.0; near-dups above 0.5
        assert (1, 2) in found and (1, 3) in found
        assert (1, 4) in found or (1, 6) in found
        # unrelated doc never pairs with the fox docs
        assert not any(5 in p for p in found)

    def test_estimate_close_to_exact(self, planted):
        pairs = dedup.minhash_near_duplicates(planted, threshold=0.3).toPandas()
        exact = dedup.ngram_jaccard_pairs(planted, threshold=0.0).toPandas()
        exact_map = {(r.id_a, r.id_b): r.jaccard for r in exact.itertuples()}
        for r in pairs.itertuples():
            if (r.id_a, r.id_b) in exact_map:
                assert abs(r.est_jaccard - exact_map[(r.id_a, r.id_b)]) <= 0.25


class TestSimHash:
    def test_exact_dups_hamming_zero(self, planted):
        pairs = dedup.simhash_near_duplicates(planted, max_hamming=3).toPandas()
        d = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples()}
        assert d.get((1, 2)) == 0 and d.get((1, 3)) == 0
        assert not any(5 in p for p in d)

    def test_simhash_column_deterministic(self, planted):
        a = dedup.simhash_column(planted).toPandas().set_index("doc_id")["simhash"]
        b = dedup.simhash_column(planted).toPandas().set_index("doc_id")["simhash"]
        assert (a == b).all()


class TestNgramJaccard:
    def test_exact_values(self, planted):
        pairs = dedup.ngram_jaccard_pairs(planted, threshold=0.99).toPandas()
        found = {tuple(sorted(p)) for p in zip(pairs.id_a, pairs.id_b)}
        assert found == {(1, 2), (1, 3), (2, 3)}  # the three exact-content dups

    def test_against_pandas_ground_truth(self, planted):
        got = dedup.ngram_jaccard_pairs(planted, n=3, threshold=0.0).toPandas()
        texts = {r["doc_id"]: r["text"] for r in planted.collect()}

        def grams(t):
            toks = t.lower().strip().split()
            if not toks:
                return set()
            if len(toks) < 3:
                return {" ".join(toks)} if False else {" ".join(toks[i:i+3]) for i in range(max(len(toks)-2, 1))}
            return {" ".join(toks[i:i+3]) for i in range(len(toks)-2)}

        for r in got.itertuples():
            ga, gb = grams(texts[r.id_a]), grams(texts[r.id_b])
            expect = len(ga & gb) / len(ga | gb)
            assert abs(r.jaccard - expect) < 1e-6, (r.id_a, r.id_b)


class TestEmbeddingDedup:
    """The IVF-cell search (curation.semantic_dedup_pairs) against the
    exact all-pairs reference (dedup.embedding_near_duplicates); both run
    dedup._cosine_pairs."""

    @staticmethod
    def _triples(df):
        return {(r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()}

    def test_no_false_positives_on_driver_table(self, spark, sf_med):
        from fever_spark.operators.curation import semantic_dedup_pairs

        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet")
        # 0.92 is the near-dup regime (no pair on this table reaches it);
        # 0.35 yields a few hundred pairs, so the subset check has teeth
        for t in (0.92, 0.35):
            ref = self._triples(dedup.embedding_near_duplicates(
                emb, threshold=t))
            ivf = self._triples(semantic_dedup_pairs(emb, threshold=t))
            assert ivf <= ref, t  # same exact kernel → no false positives
        assert ivf

    def test_ivf_recall_on_planted_neardups(self, spark):
        from fever_spark.operators.curation import semantic_dedup_pairs

        # the driver embeddings table has NO true near-dup pairs (random
        # 64-dim vectors), so recall there is vacuous — plant 30 pairs at
        # cosine ~0.999 (a near-identical re-embedding) plus 200 decoys
        rng = np.random.default_rng(11)
        base = rng.normal(size=(30, 64))
        rows = []
        for i, v in enumerate(base):
            w = v + rng.normal(scale=0.02, size=64)  # cos ~0.999
            rows.append((int(i), [float(x) for x in v]))
            rows.append((int(1000 + i), [float(x) for x in w]))
        for j in range(200):
            rows.append((int(5000 + j),
                         [float(x) for x in rng.normal(size=64)]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        truth_pairs = {(i, 1000 + i) for i in range(30)}
        ref = dedup.embedding_near_duplicates(emb, threshold=0.99).collect()
        assert {(r["id_a"], r["id_b"]) for r in ref} == truth_pairs
        got = {(r["id_a"], r["id_b"]) for r in
               semantic_dedup_pairs(emb, threshold=0.99).collect()}
        assert got <= truth_pairs  # exact verify → no FPs
        recall = len(got & truth_pairs) / len(truth_pairs)
        # a planted pair is missed only if its two members share none of
        # their n_probe=2 nearest cells; deterministic with the fixed seeds
        assert recall >= 0.8, recall


class TestCosinePairsKernel:
    """dedup._cosine_pairs, the one all-pairs cosine kernel, on its edges."""

    def test_edges_and_values(self):
        rng = np.random.default_rng(3)
        V = rng.normal(size=(12, 8))
        V[3] = 0.0           # zero vector
        V[7] = 3.0 * V[2]    # same direction → cosine 1
        ids = np.arange(111, 99, -1)  # descending: output still lo < hi
        pdf = pd.DataFrame({"id": ids, "v": list(V)})
        t = 0.1
        out = dedup._cosine_pairs(pdf, t)
        assert list(out.columns) == ["id_a", "id_b", "cosine"]
        assert (out["id_a"] < out["id_b"]).all()
        assert not out[["id_a", "id_b"]].isin([ids[3]]).any(axis=None)
        ref = {}
        for i in range(12):
            for j in range(i + 1, 12):
                n = np.linalg.norm(V[i]) * np.linalg.norm(V[j])
                c = V[i] @ V[j] / n if n else -1.0
                if c >= t:
                    lo, hi = sorted((ids[i], ids[j]))
                    ref[(lo, hi)] = round(c, 6)
        got = {(a, b): c for a, b, c in out.itertuples(index=False)}
        assert got == ref and got[(ids[7], ids[2])] == 1.0
        one = dedup._cosine_pairs(pdf.iloc[:1], t)  # a one-member cell
        assert len(one) == 0 and list(one.columns) == list(out.columns)

    def test_zero_vector_matches_duckdb_at_threshold_zero(self, spark):
        """DuckDB's list_cosine_similarity gives -1.0 to any pair with a
        zero vector in it (zero-zero too), so at a threshold in (-1, 0]
        neither embedding path may pair a zero vector."""
        import duckdb

        from fever_spark.operators.curation import semantic_dedup_pairs

        rng = np.random.default_rng(5)
        rows = [(int(i), [float(x) for x in rng.normal(size=8)])
                for i in range(24)]
        rows += [(100, [0.0] * 8), (101, [0.0] * 8)]
        emb = spark.createDataFrame(rows,
                                    "vec_id long, embedding array<double>")
        con = duckdb.connect()
        con.register("e", pd.DataFrame(rows, columns=["vec_id", "v"]))
        expect = {(a, b): c for a, b, c in con.execute("""
            SELECT a.vec_id, b.vec_id, list_cosine_similarity(a.v, b.v)
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.0""").fetchall()}
        ref = {(r["id_a"], r["id_b"]): r["cosine"] for r in
               dedup.embedding_near_duplicates(emb, threshold=0.0)
               .collect()}
        assert ref.keys() == expect.keys() and expect
        assert all(abs(ref[k] - expect[k]) < 1e-6 for k in ref)
        ivf = {(r["id_a"], r["id_b"]) for r in
               semantic_dedup_pairs(emb, threshold=0.0).collect()}
        assert ivf <= expect.keys()


class TestANN:
    def test_brute_force_topk_matches_numpy(self, spark, sf_med):
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet")
        pdf = emb.toPandas()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = M[0]
        got = ann.exact_topk(emb, q, k=5).toPandas()
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        sims = Mn @ (q / np.linalg.norm(q))
        expect_top = pdf["vec_id"].to_numpy()[np.argsort(-sims)][:5]
        assert got.iloc[0]["vec_id"] == pdf["vec_id"][0]  # self is nearest
        assert set(got["vec_id"]) == set(expect_top)

    def test_ivf_recall(self, spark, sf_med):
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet").cache()
        C = ann.train_ivf_centroids(emb, n_cells=8)
        assigned = ann.ivf_assign(emb, C).cache()
        pdf = emb.toPandas()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        hits = 0
        for qi in range(5):
            q = M[qi]
            exact = set(ann.exact_topk(emb, q, k=10).toPandas()["vec_id"])
            approx = set(ann.ivf_topk(assigned, C, q, k=10, n_probe=4)
                         .toPandas()["vec_id"])
            hits += len(exact & approx) / 10
        assert hits / 5 >= 0.6  # recall@10 with half the cells probed


class TestTextFunctions:
    def test_lang_id(self, spark):
        df = spark.createDataFrame([
            ("the cat is on the mat and the dog is here", "en"),
            ("der hund und die katze ist nicht hier", "de"),
            ("le chat est sur les toits une nuit", "fr"),
            ("el perro y los gatos una casa para todos", "es"),
            ("这是一个中文句子用来测试语言识别功能", "zh"),
            ("это русское предложение для проверки", "ru"),
            ("zzz qqq xxx", "unknown"),
        ], "text string, expect string")
        got = df.withColumn("got", TXT.lang_id(F.col("text"))).collect()
        for r in got:
            assert r["got"] == r["expect"], (r["text"], r["got"])

    def test_token_counts(self, spark):
        df = spark.createDataFrame([("Hello, world! 42 tokens?",)], "text string")
        r = df.select(TXT.token_count(F.col("text")).alias("bpe"),
                      TXT.whitespace_token_count(F.col("text")).alias("ws")).first()
        # hello , world ! 42 tokens ?  → 7 BPE-ish; 4 whitespace
        assert r["bpe"] == 7 and r["ws"] == 4

    def test_quality_score_ranges(self, spark, docs):
        scored = docs.select(TXT.quality_score(F.col("text")).alias("q"))
        mm = scored.agg(F.min("q"), F.max("q")).first()
        assert 0.0 <= mm[0] and mm[1] <= 1.0

    def test_fingerprint_normalizes(self, spark):
        df = spark.createDataFrame([("A  B\tC",), ("a b c",)], "text string")
        fps = [r["fp"] for r in df.select(TXT.fingerprint(F.col("text")).alias("fp")).collect()]
        assert fps[0] == fps[1]


class TestIVFPartitionedCells:
    """The 'written partitioned by cell so probes prune' scale path
    (operators/ann.py): write the assigned table partitionBy('cell'), read
    back, and check the probe's scan PRUNES partitions in the plan — plus
    result parity with the unpartitioned path."""

    def test_cell_partitioned_probe_prunes_and_matches(self, spark, sf_med,
                                                       tmp_path):
        emb = (spark.read.parquet(f"{sf_med}/embeddings.parquet")
               .withColumn("embedding", F.col("embedding").cast("array<double>"))
               .cache())
        q = np.asarray(emb.filter(F.col("vec_id") == 0)
                       .first()["embedding"])
        C = ann.train_ivf_centroids(emb, n_cells=16)
        assigned = ann.ivf_assign(emb, C)
        path = str(tmp_path / "ivf_cells")
        assigned.write.partitionBy("cell").parquet(path)

        back = spark.read.parquet(path)
        topk = ann.ivf_topk(back, C, q, k=10, n_probe=8)
        plan = topk._jdf.queryExecution().executedPlan().toString()
        # partition pruning evidence: the cell predicate sits in
        # PartitionFilters (directory pruning), NOT as a data filter
        pf = plan.split("PartitionFilters: [")[1].split("]")[0]
        assert "cell" in pf, plan
        # and the probe over the partitioned table equals the in-memory path
        mem = [r["vec_id"] for r in
               ann.ivf_topk(assigned, C, q, k=10, n_probe=8).collect()]
        disk = [r["vec_id"] for r in topk.collect()]
        assert mem == disk and len(disk) == 10

    def test_ivf_full_probe_equals_exact(self, spark, sf_med):
        # probing ALL cells must reproduce brute force exactly (candidate
        # routing loses nothing when nothing is pruned)
        emb = (spark.read.parquet(f"{sf_med}/embeddings.parquet")
               .withColumn("embedding", F.col("embedding").cast("array<double>"))
               .cache())
        q = np.asarray(emb.filter(F.col("vec_id") == 1).first()["embedding"])
        C = ann.train_ivf_centroids(emb, n_cells=16)
        assigned = ann.ivf_assign(emb, C)
        exact = [r["vec_id"] for r in ann.exact_topk(emb, q, k=10).collect()]
        full = [r["vec_id"] for r in
                ann.ivf_topk(assigned, C, q, k=10, n_probe=16).collect()]
        assert full == exact


class TestExtractText:
    def test_byte_identity_distributed(self, spark):
        from fever_spark.sources.synth import synth_pages

        pdf = synth_pages(2000)
        df = spark.createDataFrame(pdf)
        bad = df.filter(
            TXT.extract_text(F.col("html")) != F.col("text")).count()
        assert bad == 0

    def test_unicode_and_empty(self, spark):
        rows = [("https://a/1", "héllo wörld ★ 中文".encode("utf-8")),
                ("https://a/2", "".encode("utf-8"))]
        df = spark.createDataFrame(
            [(u, b"<html>" + t + b"</html>") for u, t in rows],
            "url string, html binary")
        got = {r["url"]: r["t"] for r in
               df.select("url", TXT.extract_text(F.col("html")).alias("t"))
               .collect()}
        assert got["https://a/1"] == "héllo wörld ★ 中文"
        assert got["https://a/2"] == ""


class TestNearDupClusters:
    def test_transitive_chain_and_canonical(self, spark):
        # chain 1-2-3-4 (1-4 never paired directly) + island 10-11
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
        cl = {(r["id"], r["cluster_id"]) for r in
              dedup.near_dup_clusters(pairs).collect()}
        assert cl == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in (1, 2, 3, 4, 10, 11, 99)],
            "doc_id long, text string")
        kept = sorted(r["doc_id"] for r in
                      dedup.dedup_keep_canonical(docs, pairs).collect())
        # one canonical per cluster + untouched isolate
        assert kept == [1, 10, 99]

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert dedup.near_dup_clusters(pairs).count() == 0
        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        assert dedup.dedup_keep_canonical(docs, pairs).count() == 1

    def test_rank_col_keeps_best_quality_member(self, spark):
        # chain 1-2-3-4: best quality sits at the HIGHEST id (4) — min-id
        # would discard it; island 10-11 ties on quality -> min id wins;
        # 20-21: null rank loses to a real rank even a terrible one
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21)],
            "id_a long, id_b long")
        docs = spark.createDataFrame(
            [(1, 0.2), (2, 0.5), (3, 0.4), (4, 0.9),
             (10, 0.7), (11, 0.7), (20, None), (21, 0.01), (99, None)],
            "doc_id long, quality double")
        kept = sorted(r["doc_id"] for r in dedup.dedup_keep_canonical(
            docs, pairs, rank_col="quality").collect())
        assert kept == [4, 10, 21, 99]
        # default stays min-id
        kept_id = sorted(r["doc_id"] for r in
                         dedup.dedup_keep_canonical(docs, pairs).collect())
        assert kept_id == [1, 10, 20, 99]

    def test_end_to_end_with_lsh(self, planted):
        pairs = dedup.minhash_near_duplicates(planted, threshold=0.5) \
            .select("id_a", "id_b")
        kept = {r["doc_id"] for r in
                dedup.dedup_keep_canonical(planted, pairs).collect()}
        # docs 1/2/3 (exact dups) collapse to 1; 5, 7, 8 survive untouched
        assert 1 in kept and 2 not in kept and 3 not in kept
        assert {5, 7, 8} <= kept


class TestSampling:
    def test_hash_sample_stable_under_repartition(self, spark, sf_med):
        from fever_spark.operators import sampling

        docs = spark.read.parquet(f"{sf_med}/documents.parquet")
        s1 = {r["doc_id"] for r in sampling.deterministic_sample(
            docs, "doc_id", 0.2).select("doc_id").collect()}
        s2 = {r["doc_id"] for r in sampling.deterministic_sample(
            docs.repartition(13), "doc_id", 0.2).select("doc_id").collect()}
        assert s1 == s2 and s1  # same rows regardless of layout
        n = docs.count()
        assert abs(len(s1) / n - 0.2) < 0.05  # rate is approximately honored

    def test_nested_and_independent(self, spark, sf_med):
        from fever_spark.operators import sampling

        docs = spark.read.parquet(f"{sf_med}/documents.parquet")
        small = {r["doc_id"] for r in sampling.deterministic_sample(
            docs, "doc_id", 0.1).select("doc_id").collect()}
        big = {r["doc_id"] for r in sampling.deterministic_sample(
            docs, "doc_id", 0.3).select("doc_id").collect()}
        assert small <= big  # nested carve-outs at the same seed
        other = {r["doc_id"] for r in sampling.deterministic_sample(
            docs, "doc_id", 0.1, seed=99).select("doc_id").collect()}
        assert other != small  # different seed, different sample

    def test_stratified_take_quota(self, spark, sf_med):
        from fever_spark.operators import sampling

        docs = spark.read.parquet(f"{sf_med}/documents.parquet")
        got = sampling.stratified_take(docs, ["lang"], 3, "doc_id").toPandas()
        per = got.groupby("lang")["doc_id"].agg(["count", "min"])
        assert (per["count"] <= 3).all()
        # the min per stratum is the stratum's global min doc_id
        mins = docs.groupBy("lang").agg(F.min("doc_id").alias("m")).toPandas()
        assert dict(zip(mins["lang"], mins["m"])) == per["min"].to_dict()


class TestIVFSampleDeterminism:
    """Round-3 fix: the coarse-quantizer sample was limit(sample_rows) —
    served from the first partition(s), so centroids were biased to
    whatever shard happened to come first. Now it is bottom-k by
    xxhash64(vector): a pure function of the rows, identical on any
    partition layout."""

    def test_centroids_invariant_to_partitioning(self, spark, sf_med):
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet")
        C1 = ann.train_ivf_centroids(emb, n_cells=8, sample_rows=200)
        # different layouts: many small partitions, one partition, reversed
        C2 = ann.train_ivf_centroids(emb.repartition(37), n_cells=8,
                                     sample_rows=200)
        C3 = ann.train_ivf_centroids(
            emb.orderBy(F.desc("vec_id")).coalesce(1), n_cells=8,
            sample_rows=200)
        assert np.allclose(C1, C2)
        assert np.allclose(C1, C3)

    def test_subsample_path_still_deterministic(self, spark, sf_med):
        # sample_rows << corpus triggers the hash-threshold pre-filter
        emb = spark.read.parquet(f"{sf_med}/embeddings.parquet")
        C1 = ann.train_ivf_centroids(emb, n_cells=4, sample_rows=20)
        C2 = ann.train_ivf_centroids(emb.repartition(11), n_cells=4,
                                     sample_rows=20)
        assert np.allclose(C1, C2)

    def test_empty_corpus_raises(self, spark):
        import pyspark.sql.types as T
        empty = spark.createDataFrame(
            [], T.StructType([T.StructField(
                "embedding", T.ArrayType(T.FloatType()))]))
        with pytest.raises(ValueError, match="empty"):
            ann.train_ivf_centroids(empty, n_cells=4)


class TestShingleSizeValidation:
    def test_oversized_shingle_raises_clearly(self, spark, planted):
        # the vectorized kernel has one multiplier per window position —
        # beyond that must fail loudly at entry, not as an executor-side
        # IndexError
        with pytest.raises(ValueError, match="shingle_size"):
            dedup.minhash_signatures(planted, shingle_size=65)
        with pytest.raises(ValueError, match="shingle_size"):
            dedup.minhash_signatures(planted, shingle_size=0)
        # the documented max is fine
        dedup.minhash_signatures(planted, num_hashes=4,
                                 shingle_size=64).limit(1).collect()


class TestClusterConvergenceTelemetry:
    def test_round_count_recorded_and_small(self, spark, monkeypatch):
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
        # force the DISTRIBUTED path (tiny inputs route to the driver one)
        monkeypatch.setattr(dedup, "DRIVER_PAIRS_THRESHOLD", 0)
        dedup.near_dup_clusters(pairs)
        # chain diameter 3 → converges by round 3; cadence-2 checking may
        # run one extra no-op round, never more
        assert 1 <= dedup.near_dup_clusters.last_rounds <= 6


class TestDriverComponentsParity:
    """The size-gated driver union-find must be byte-identical to the
    distributed min-label propagation — same (id, cluster_id) rows."""

    def _both(self, spark, monkeypatch, rows, schema):
        pairs = spark.createDataFrame(rows, schema)
        drv = {(r["id"], r["cluster_id"]) for r in
               dedup.near_dup_clusters(pairs).collect()}
        assert dedup.near_dup_clusters.last_rounds == 0  # driver path ran
        with monkeypatch.context() as m:
            m.setattr(dedup, "DRIVER_PAIRS_THRESHOLD", 0)
            dist = {(r["id"], r["cluster_id"]) for r in
                    dedup.near_dup_clusters(pairs).collect()}
        assert dedup.near_dup_clusters.last_rounds >= 1  # distributed ran
        assert drv == dist and len(drv) > 0

    def test_random_graphs_match_distributed(self, spark, monkeypatch):
        import random

        rng = random.Random(7)
        # 3 shapes: sparse random, long chain + islands, star with spokes
        rows = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
        rows = [(a, b) for a, b in rows if a != b]
        self._both(spark, monkeypatch, rows, "id_a long, id_b long")
        # diameter 15 fits the distributed path's max_iterations; the
        # DRIVER path's pointer jumping is O(log D) and also handles
        # chains past that bound (checked separately below)
        chain = [(i, i + 1) for i in range(15)] + [(100, 101), (200, 201)]
        self._both(spark, monkeypatch, chain, "id_a long, id_b long")
        long_chain = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "id_a long, id_b long")
        cl = {r["cluster_id"] for r in
              dedup.near_dup_clusters(long_chain).collect()}
        assert cl == {0}  # one component, min id 0 — beyond the
        # distributed path's 20-round diameter budget
        star = [(0, i) for i in range(1, 30)]
        self._both(spark, monkeypatch, star, "id_a long, id_b long")

    def test_string_ids_lexicographic_min(self, spark, monkeypatch):
        # min = lexicographic for strings on BOTH paths
        rows = [("b", "c"), ("c", "aa"), ("zz", "z")]
        self._both(spark, monkeypatch, rows, "id_a string, id_b string")
        pairs = spark.createDataFrame(rows, "id_a string, id_b string")
        cl = {r["id"]: r["cluster_id"] for r in
              dedup.near_dup_clusters(pairs).collect()}
        assert cl == {"aa": "aa", "b": "aa", "c": "aa", "z": "z", "zz": "z"}


class TestLSHPlansLazily:
    def test_no_job_runs_before_banding_action(self, spark, planted):
        """minhash_near_duplicates with its own num_hashes threaded through
        must construct the WHOLE pair plan lazily — the old code ran a
        first() job (evaluating the signature UDF on a partition) just to
        learn the signature length it already knew."""
        sc = spark.sparkContext
        group = "lsh-lazy-check"
        sc.setJobGroup(group, "plan construction must run no jobs")
        try:
            pairs = dedup.minhash_near_duplicates(planted, threshold=0.5)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert list(jobs) == [], f"plan construction ran jobs {jobs}"
        finally:
            sc.setJobGroup(None, None)
        assert pairs.count() > 0  # the plan itself still works


class TestWeightedSampling:
    """Source-mixing weighted Bernoulli + Efraimidis-Spirakis exact-k."""

    def _mix(self, spark):
        rows = [(i, "wiki" if i < 400 else "cc",
                 3.0 if i < 400 else 0.25) for i in range(2000)]
        return spark.createDataFrame(rows, "doc_id long, src string, w double")

    def test_weighted_sample_rates_follow_weights(self, spark):
        from fever_spark.operators.sampling import weighted_sample

        df = self._mix(spark)
        kept = weighted_sample(df, "doc_id", "w", rate=0.2).groupBy("src") \
            .count().collect()
        got = {r["src"]: r["count"] for r in kept}
        # wiki: rate*w = 0.6 expected 240 of 400; cc: 0.05 expected 80 of 1600
        assert 190 <= got["wiki"] <= 290
        assert 50 <= got["cc"] <= 115

    def test_weighted_sample_weight_ge_one_always_kept(self, spark):
        from fever_spark.operators.sampling import weighted_sample

        df = self._mix(spark).withColumn("w", F.lit(10.0))
        assert weighted_sample(df, "doc_id", "w", rate=0.2).count() == 2000

    def test_weighted_sample_null_or_zero_weight_dropped(self, spark):
        from fever_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(1, 0.0), (2, -1.0), (3, None), (4, 5.0)],
            "doc_id long, w double")
        kept = [r["doc_id"] for r in
                weighted_sample(df, "doc_id", "w", rate=1.0).collect()]
        assert kept == [4]

    def test_weighted_sample_repartition_stable(self, spark):
        from fever_spark.operators.sampling import weighted_sample

        df = self._mix(spark)
        a = {r["doc_id"] for r in
             weighted_sample(df, "doc_id", "w", rate=0.2).collect()}
        b = {r["doc_id"] for r in
             weighted_sample(df.repartition(13), "doc_id", "w",
                             rate=0.2).collect()}
        assert a == b

    def test_weighted_take_exact_k_and_stable(self, spark):
        from fever_spark.operators.sampling import weighted_take

        df = self._mix(spark)
        a = sorted(r["doc_id"] for r in
                   weighted_take(df, "doc_id", "w", k=100).collect())
        b = sorted(r["doc_id"] for r in
                   weighted_take(df.repartition(7), "doc_id", "w",
                                 k=100).collect())
        assert len(a) == 100 and a == b
        # inclusion tracks weight: wiki (w=3, 20% of corpus) should win a
        # clear majority of the 100 slots over cc (w=0.25, 80% of corpus)
        n_wiki = sum(1 for i in a if i < 400)
        assert n_wiki > 60

    def test_weighted_take_heavy_row_always_first(self, spark):
        from fever_spark.operators.sampling import weighted_take

        df = spark.createDataFrame(
            [(i, 1e-6) for i in range(500)] + [(999, 1e6)],
            "doc_id long, w double")
        got = [r["doc_id"] for r in weighted_take(df, "doc_id", "w", k=5)
               .collect()]
        assert 999 in got

    def test_weighted_take_plan_is_take_ordered(self, spark):
        from fever_spark.operators.sampling import weighted_take

        df = self._mix(spark)
        p = weighted_take(df, "doc_id", "w", k=10) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in p
        assert "Exchange rangepartitioning" not in p   # no global sort


class TestIncrementalDedup:
    """Cross-corpus ingestion dedup: Bloom screen (zero FN) + exact verify
    of the flagged subset (no FP over-drop)."""

    def _frames(self, spark):
        old = spark.createDataFrame(
            [(i, f"seen document number {i} with stable content")
             for i in range(200)], "doc_id long, text string")
        new = spark.createDataFrame(
            # 30 true dups of old (different ids), 50 genuinely new,
            # 2 within-batch copies of one new doc
            [(1000 + i, f"seen document number {i} with stable content")
             for i in range(30)]
            + [(2000 + i, f"fresh page {i} never seen before")
               for i in range(50)]
            + [(3000, "fresh page 0 never seen before"),
               (3001, "brand new unique text"),
               (3002, "brand new unique text")],
            "doc_id long, text string")
        return old, new

    def test_screen_plus_verify_keeps_exactly_the_new(self, spark):
        from fever_spark.operators.dedup import (
            corpus_fingerprint_bloom, incremental_exact_dedup)
        from fever_spark.functions.text import fingerprint

        old, new = self._frames(spark)
        bc = spark.sparkContext.broadcast(
            corpus_fingerprint_bloom(old, fpp=1e-6))
        exact = old.select(fingerprint(F.col("text")).alias("_fp"))
        kept = incremental_exact_dedup(new, bc, exact_check=exact)
        ids = {r["doc_id"] for r in kept.collect()}
        # every true dup of old dropped (zero FN)
        assert not (ids & set(range(1000, 1030)))
        # all genuinely-new docs kept (exact verify kills Bloom FPs)
        assert set(range(2000, 2050)) <= ids
        # within-batch dedup: 3000 dups 2000's content; 3002 dups 3001
        assert 3000 not in ids and 3001 in ids and 3002 not in ids

    def test_screen_only_never_passes_a_dup(self, spark):
        from fever_spark.operators.dedup import (
            corpus_fingerprint_bloom, incremental_exact_dedup)

        old, new = self._frames(spark)
        bc = spark.sparkContext.broadcast(
            corpus_fingerprint_bloom(old, fpp=1e-6))
        ids = {r["doc_id"] for r in
               incremental_exact_dedup(new, bc).collect()}
        assert not (ids & set(range(1000, 1030)))   # guaranteed direction

    def test_empty_reference_corpus(self, spark):
        from fever_spark.operators.dedup import (
            corpus_fingerprint_bloom, incremental_exact_dedup)

        old, new = self._frames(spark)
        empty = old.filter(F.lit(False))
        bc = spark.sparkContext.broadcast(
            corpus_fingerprint_bloom(empty, fpp=1e-6))
        kept = incremental_exact_dedup(new, bc)
        # nothing screened out except within-batch dups
        assert kept.count() == new.count() - 2

    def test_oracle_replica_equals_plain_anti_join(self, spark, sf_med):
        """The Bloom-screen + exact-verify path must produce EXACTLY the
        result of the semantic spec — first-per-fingerprint within the
        batch, anti-joined against the corpus fingerprints — computed
        independently by DuckDB. Any screen leak (FN) or unverified FP
        drop breaks set equality."""
        import duckdb

        from fever_spark.operators.dedup import (
            corpus_fingerprint_bloom, incremental_exact_dedup)
        from fever_spark.functions.text import fingerprint

        old = spark.read.parquet(f"{sf_med}/documents.parquet")
        new = (old.limit(60)
               .select((F.col("doc_id") + 50_000).alias("doc_id"), "text")
               .unionByName(spark.range(80_000, 80_040).select(
                   F.col("id").alias("doc_id"),
                   F.concat(F.lit("unseen crawl text "),
                            F.col("id")).alias("text"))))
        bc = spark.sparkContext.broadcast(
            corpus_fingerprint_bloom(old, fpp=1e-6))
        exact = old.select(fingerprint(F.col("text")).alias("_fp"))
        got = sorted(r["doc_id"] for r in
                     incremental_exact_dedup(new, bc, exact_check=exact)
                     .collect())

        con = duckdb.connect()
        old_pd = old.select("doc_id", "text").toPandas()
        new_pd = new.toPandas()
        con.register("old_t", old_pd)
        con.register("new_t", new_pd)
        # fingerprint normalization reimplemented independently:
        # lower/trim/ws-collapse, then equality via the STRING itself
        # (the hash is an implementation detail; the semantics are
        # content equality)
        expect = sorted(r[0] for r in con.execute("""
            WITH norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS c
              FROM new_t),
            first_in_batch AS (
              SELECT doc_id, c FROM (
                SELECT doc_id, c,
                       row_number() OVER (PARTITION BY c ORDER BY doc_id) rn
                FROM norm) WHERE rn = 1),
            corpus AS (
              SELECT DISTINCT
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS c
              FROM old_t)
            SELECT doc_id FROM first_in_batch
            WHERE c NOT IN (SELECT c FROM corpus)
        """).fetchall())
        assert got == expect

    def test_incremental_near_dup_finds_cross_corpus_pairs(self, spark):
        from fever_spark.operators.dedup import (incremental_near_duplicates,
                                                 minhash_signatures)
        import numpy as np

        rng = np.random.default_rng(11)
        vocab = [f"v{k}" for k in range(500)]
        old_rows = [(i, "start " + " ".join(
            rng.choice(vocab, size=30, replace=False)) + " stop")
            for i in range(40)]
        old = spark.createDataFrame(old_rows, "doc_id long, text string")
        old_index = minhash_signatures(old)

        # new batch: near-dups of old docs 0..4 (one token swapped) +
        # genuinely new random docs
        near = []
        for i in range(5):
            toks = old_rows[i][1].split()
            toks[7] = "mutated"
            near.append((900 + i, " ".join(toks)))
        fresh = [(950 + i, "start " + " ".join(
            rng.choice(vocab, size=30, replace=False)) + " stop")
            for i in range(10)]
        new = spark.createDataFrame(near + fresh, "doc_id long, text string")

        pairs = incremental_near_duplicates(minhash_signatures(new),
                                            old_index, threshold=0.5)
        got = {(r["new_id"], r["old_id"]) for r in pairs.collect()}
        for i in range(5):
            assert (900 + i, i) in got, f"missed near-dup pair {i}"
        # fresh docs (disjoint random draws) should not pair with old
        fresh_hits = [p for p in got if p[0] >= 950]
        assert not fresh_hits

    def test_incremental_near_dup_matches_batch_union_result(self, spark):
        """Cross-frame banding must be bit-compatible with the within-frame
        path: pairs across (new, old) == the (new_id, old_id) pairs a full
        union re-dedup would find."""
        from fever_spark.operators.dedup import (incremental_near_duplicates,
                                                 minhash_near_duplicates,
                                                 minhash_signatures)

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        old = spark.createDataFrame(
            [(1, base), (2, "totally different words entirely here today")],
            "doc_id long, text string")
        new = spark.createDataFrame(
            [(100, base + " lambda")], "doc_id long, text string")
        inc = {(r["new_id"], r["old_id"]) for r in
               incremental_near_duplicates(
                   minhash_signatures(new), minhash_signatures(old),
                   threshold=0.5).collect()}
        full = minhash_near_duplicates(old.unionByName(new), threshold=0.5)
        cross = {(max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
                 for r in full.collect()
                 if (r["id_a"] >= 100) != (r["id_b"] >= 100)}
        assert inc == cross and (100, 1) in inc


class TestCappedTakePerGroup:
    """Per-domain quota: bounded window input, selection identical to the
    naive full window."""

    def _corpus(self, spark):
        rows = ([(i, "bighost") for i in range(500)]
                + [(1000 + i, "midhost") for i in range(12)]
                + [(2000 + i, "tinyhost") for i in range(3)])
        return spark.createDataFrame(rows, "doc_id long, host string")

    def test_exact_caps_and_naive_equivalence(self, spark):
        from fever_spark.operators.sampling import (_unit_uniform,
                                                    capped_take_per_group)
        from pyspark.sql import Window

        df = self._corpus(spark)
        got = capped_take_per_group(df, "host", 10, "doc_id")
        sizes = {r["host"]: r["count"] for r in
                 got.groupBy("host").count().collect()}
        assert sizes == {"bighost": 10, "midhost": 10, "tinyhost": 3}

        # identical selection to the naive (unbounded-window) plan
        w = Window.partitionBy("host").orderBy(
            _unit_uniform(F.col("doc_id"), 0), F.col("doc_id"))
        naive = {r["doc_id"] for r in
                 df.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= 10).collect()}
        assert {r["doc_id"] for r in got.collect()} == naive

    def test_repartition_stable(self, spark):
        from fever_spark.operators.sampling import capped_take_per_group

        df = self._corpus(spark)
        a = {r["doc_id"] for r in
             capped_take_per_group(df, "host", 7, "doc_id").collect()}
        b = {r["doc_id"] for r in
             capped_take_per_group(df.repartition(13), "host", 7,
                                   "doc_id").collect()}
        assert a == b and len(a) == 7 + 7 + 3

    def test_prefilter_bounds_window_input(self, spark):
        """The pre-filter must shrink the oversized group before the
        window — survivors of the join+filter stage are ~margin*n, not
        the group size."""
        from fever_spark.operators.sampling import (_unit_uniform,
                                                    capped_take_per_group)

        df = self._corpus(spark)
        # reproduce the operator's pre-filter stage and measure it
        counts = df.groupBy("host").agg(F.count(F.lit(1)).alias("_gc"))
        rate = F.least(F.lit(1.0), F.lit(2.0 * 10) / F.col("_gc"))
        pre_big = (df.join(counts, "host")
                   .filter(_unit_uniform(F.col("doc_id"), 0) < rate)
                   .filter(F.col("host") == "bighost").count())
        assert pre_big < 60     # ~20 expected of 500, never the full group

    def test_null_group_rows_kept_as_own_group(self, spark):
        from fever_spark.operators.sampling import capped_take_per_group

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, None), (4, None), (5, None)],
            "doc_id long, host string")
        got = capped_take_per_group(df, "host", 2, "doc_id")
        assert got.columns == ["doc_id", "host"]      # schema order kept
        null_kept = got.filter(F.col("host").isNull()).count()
        assert null_kept == 2                          # capped, not dropped
        assert got.filter(F.col("host") == "a").count() == 2

    def test_small_n_never_underfills(self, spark):
        """n=1 with a bare margin*1 pre-filter would drop ~13.5% of
        oversized groups entirely; the additive floor must prevent it —
        checked across many groups and seeds."""
        from fever_spark.operators.sampling import capped_take_per_group

        rows = [(g * 1000 + i, f"host{g}") for g in range(40)
                for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, host string")
        for seed in (0, 1, 2):
            got = capped_take_per_group(df, "host", 1, "doc_id", seed=seed)
            assert got.count() == 40, f"under-filled at seed={seed}"
