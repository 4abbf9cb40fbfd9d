"""Incremental ingestion job: batches accrete into a clean corpus; dups
and near-dups of ingested history are screened out; re-running a batch
is idempotent."""

import json
import os

from pyspark.sql import functions as F

from fever_spark.jobs.ingest import ingest


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)


def _doc(i, salt=""):
    return (i, f"document {i}{salt} " + " ".join(
        f"tok{i}x{j}" for j in range(15)))


class TestIngest:
    def test_accretion_and_cross_batch_dedup(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        _write_batch(spark, b1, [_doc(i) for i in range(20)])
        m1 = ingest(spark, b1, corpus, state, batch_id="b1",
                    bloom_capacity=10_000)
        assert m1["counts"] == {"batch": 20, "after_exact_screen": 20}

        # batch 2: 5 re-crawled dups (re-keyed) + 10 new docs
        b2 = str(tmp_path / "b2")
        _write_batch(spark, b2,
                     [(1000 + i, _doc(i)[1]) for i in range(5)]
                     + [_doc(100 + i) for i in range(10)])
        m2 = ingest(spark, b2, corpus, state, batch_id="b2",
                    bloom_capacity=10_000)
        assert m2["counts"]["after_exact_screen"] == 10

        got = spark.read.parquet(corpus)
        assert got.count() == 30
        assert {r["ingest"] for r in
                got.select("ingest").distinct().collect()} == {"b1", "b2"}
        # manifest log has both completions
        lines = [json.loads(l) for l in
                 open(os.path.join(state, "ingests.jsonl"))]
        assert [l["batch_id"] for l in lines] == ["b1", "b2"]

    def test_rerun_is_idempotent(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        _write_batch(spark, b1, [_doc(i) for i in range(8)])
        m1 = ingest(spark, b1, corpus, state, batch_id="b1",
                    bloom_capacity=10_000)
        # crash-replay: same batch id re-ingested. The screen is
        # SELF-EXCLUDING (built from the other batches' Bloom deltas and
        # the fingerprint partitions excluding ingest=b1), so the replay
        # reproduces the original survivor set — same corpus slice, no
        # loss, no double-append.
        m2 = ingest(spark, b1, corpus, state, batch_id="b1",
                    bloom_capacity=10_000)
        assert m2["counts"] == m1["counts"]
        assert spark.read.parquet(corpus).count() == 8

    def test_near_dup_screen_against_history(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        _write_batch(spark, b1, [_doc(i) for i in range(10)])
        ingest(spark, b1, corpus, state, batch_id="b1",
               bloom_capacity=10_000, near_dup_threshold=0.6)

        # batch 2: near-dup of doc 3 (one token changed) + one new doc
        toks = _doc(3)[1].split()
        toks[5] = "mutated"
        b2 = str(tmp_path / "b2")
        _write_batch(spark, b2, [(500, " ".join(toks)), _doc(600)])
        m = ingest(spark, b2, corpus, state, batch_id="b2",
                   bloom_capacity=10_000, near_dup_threshold=0.6)
        assert m["counts"]["after_exact_screen"] == 2
        assert m["counts"]["after_near_dup_screen"] == 1
        kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        assert 600 in kept and 500 not in kept

    def test_replay_mid_history_reproduces_original_slice(self, spark,
                                                          tmp_path):
        """Replaying b1 AFTER b2 exists: survivor partitions are disjoint
        by construction, so the self-excluding screen (vs b2 only) must
        reproduce b1's original survivors exactly."""
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        b2 = str(tmp_path / "b2")
        _write_batch(spark, b1, [_doc(i) for i in range(10)])
        _write_batch(spark, b2,
                     [(1000, _doc(0)[1])] + [_doc(50 + i) for i in range(5)])
        ingest(spark, b1, corpus, state, batch_id="b1",
               bloom_capacity=10_000)
        ingest(spark, b2, corpus, state, batch_id="b2",
               bloom_capacity=10_000)
        before = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        m = ingest(spark, b1, corpus, state, batch_id="b1",
                   bloom_capacity=10_000)   # replay
        after = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        assert m["counts"]["after_exact_screen"] == 10
        assert after == before and len(after) == 15

    def test_within_batch_near_dups_collapse(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        toks = _doc(7)[1].split()
        toks[4] = "variant"
        b1 = str(tmp_path / "b1")
        _write_batch(spark, b1, [_doc(7), (8, " ".join(toks)), _doc(9)])
        m = ingest(spark, b1, corpus, state, batch_id="b1",
                   bloom_capacity=10_000, near_dup_threshold=0.6)
        assert m["counts"]["after_batch_near_dup"] == 2   # 7+8 collapse
        kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        assert kept == {7, 9}                             # canonical kept

    def test_each_batch_signed_once(self, spark, tmp_path, monkeypatch):
        """With the near-dup screen on, the within-batch pairs, the corpus
        screen and the signature-index write share ONE signing pass."""
        from fever_spark.operators import dedup

        real = dedup.minhash_signatures
        calls = []

        def spy(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(dedup, "minhash_signatures", spy)
        monkeypatch.setattr("fever_spark.jobs.ingest.minhash_signatures",
                            spy)
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        toks = _doc(3)[1].split()
        toks[5] = "mutated"
        batches = [[_doc(i) for i in range(6)],
                   [(500, " ".join(toks)), _doc(600), _doc(601)]]
        for k, rows in enumerate(batches):
            path = str(tmp_path / f"b{k}")
            _write_batch(spark, path, rows)
            calls.clear()
            m = ingest(spark, path, corpus, state, batch_id=f"b{k}",
                       bloom_capacity=10_000, near_dup_threshold=0.6)
            assert len(calls) == 1, (k, len(calls))
        assert m["counts"]["after_near_dup_screen"] == 2
        sigs = spark.read.parquet(os.path.join(state, "signatures"))
        assert {r["doc_id"] for r in sigs.collect()} == \
            {r["doc_id"] for r in spark.read.parquet(corpus).collect()}

    def test_param_change_rejected_before_writes(self, spark, tmp_path):
        import pytest
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        _write_batch(spark, b1, [_doc(1)])
        ingest(spark, b1, corpus, state, batch_id="b1",
               bloom_capacity=10_000)
        with pytest.raises(ValueError, match="state params differ"):
            ingest(spark, b1, corpus, state, batch_id="b2",
                   bloom_capacity=5_000)

    def test_stale_signature_hash_family_rejected(self, spark, tmp_path):
        # a signature index persisted by an older shingle-hash kernel
        # would band-match NOTHING against new-batch signatures — the
        # screen must refuse it loudly, not silently re-append near-dups
        import json
        import pytest
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        _write_batch(spark, b1, [_doc(1)])
        ingest(spark, b1, corpus, state, batch_id="b1")
        pf = os.path.join(state, "_params.json")
        with open(pf) as f:
            stored = json.load(f)
        assert stored["signature_hash_family"] >= 2
        stored["signature_hash_family"] = 1   # pre-round-5 string shingles
        with open(pf, "w") as f:
            json.dump(stored, f)
        with pytest.raises(ValueError, match="state params differ"):
            ingest(spark, b1, corpus, state, batch_id="b2")

    def test_incomplete_batch_blocks_new_ingests(self, spark, tmp_path):
        import pytest
        corpus = str(tmp_path / "corpus")
        state = str(tmp_path / "state")
        b1 = str(tmp_path / "b1")
        b2 = str(tmp_path / "b2")
        _write_batch(spark, b1, [_doc(i) for i in range(5)])
        _write_batch(spark, b2, [_doc(100)])
        ingest(spark, b1, corpus, state, batch_id="b1",
               bloom_capacity=10_000)
        # simulate a crash: wipe b1's manifest line (state written, no
        # commit record)
        import os
        os.remove(os.path.join(state, "ingests.jsonl"))
        with pytest.raises(RuntimeError, match="incomplete ingests"):
            ingest(spark, b2, corpus, state, batch_id="b2",
                   bloom_capacity=10_000)
        # replaying the incomplete batch heals the state...
        m = ingest(spark, b1, corpus, state, batch_id="b1",
                   bloom_capacity=10_000)
        assert m["counts"]["after_exact_screen"] == 5
        # ...and the new batch can proceed
        ingest(spark, b2, corpus, state, batch_id="b2",
               bloom_capacity=10_000)
        assert spark.read.parquet(corpus).count() == 6


class TestStreamIngest:
    """stream_ingest: dropped archives -> micro-batches -> idempotent
    corpus batches with history-wide dedup."""

    @staticmethod
    def _drop(watch, name, pages):
        import gzip

        recs = []
        for url, body in pages:
            payload = b"HTTP/1.1 200 OK\r\n\r\n" + body
            recs.append(gzip.compress(
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url + b"\r\n"
                b"WARC-Date: 2026-05-01T00:00:00Z\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(payload)).encode()
                + b"\r\n\r\n" + payload + b"\r\n\r\n"))
        (watch / name).write_bytes(b"".join(recs))

    def test_accretion_and_cross_batch_dedup(self, spark, tmp_path):
        from fever_spark.jobs.ingest import stream_ingest

        watch = tmp_path / "drop"
        watch.mkdir()
        dirs = {k: str(tmp_path / k) for k in
                ("corpus", "state", "staging", "ckpt")}

        def page(i):
            return ("<html><body><p>Streamed corpus article number "
                    f"{i} with plenty of distinct prose content to keep."
                    "</p></body></html>").encode()

        self._drop(watch, "a.warc.gz",
                   [(f"http://s/{i}".encode(), page(i)) for i in range(6)])
        q = stream_ingest(spark, str(watch), dirs["corpus"], dirs["state"],
                          dirs["staging"], dirs["ckpt"])
        try:
            q.processAllAvailable()
            assert spark.read.parquet(dirs["corpus"]).count() == 6
            # batch 2: one recrawl duplicate (same content, new url) + one
            # genuinely new page — only the new one survives the screen
            self._drop(watch, "b.warc.gz",
                       [(b"http://mirror/0", page(0)),
                        (b"http://s/new", page(99))])
            q.processAllAvailable()
            corpus = spark.read.parquet(dirs["corpus"])
            assert corpus.count() == 7
            urls_kept = {r["url"] for r in corpus.select("url").collect()}
            assert "http://s/new" in urls_kept
            assert "http://mirror/0" not in urls_kept
        finally:
            q.stop()
            q.awaitTermination(10)

        # restart from the same checkpoint: nothing re-ingests
        q2 = stream_ingest(spark, str(watch), dirs["corpus"], dirs["state"],
                           dirs["staging"], dirs["ckpt"])
        try:
            q2.processAllAvailable()
            assert spark.read.parquet(dirs["corpus"]).count() == 7
        finally:
            q2.stop()
            q2.awaitTermination(10)
