"""Multimodal plumbing, streaming sketch accumulation, and the
checkpoint/lineage/resume job."""

import json
import os
import shutil
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from fever_spark.jobs import SketchJob
from fever_spark.multimodal import (
    decode_media, extract_features, resize_images, sample_frames,
)
from fever_spark.multimodal.binary import MEDIA_SCHEMA, synth_media
from fever_spark.ops.build import SketchSpec
from fever_spark.sketch.base import sketch_from_bytes
from fever_spark.sources.synth import synth_pages_df
from fever_spark.streaming import StreamingSketchAccumulator, windowed_counts_stream


@pytest.fixture(scope="module")
def media(spark):
    return spark.createDataFrame(synth_media(300), schema=MEDIA_SCHEMA).cache()


class TestMultimodal:
    def test_decode_schema_and_determinism(self, media):
        d1 = decode_media(media).toPandas().set_index("media_id")
        d2 = decode_media(media).toPandas().set_index("media_id")
        assert (d1["width"].dropna() == d2["width"].dropna()).all()
        assert {"width", "height", "sample_rate", "n_frames"} <= set(d1.columns)
        imgs = d1[d1["kind"] == "image"]
        assert imgs["width"].notna().all() and imgs["sample_rate"].isna().all()

    def test_real_codecs_stub_raises(self, media):
        with pytest.raises(NotImplementedError):
            decode_media(media, real_codecs=True)

    def test_features_unit_norm_fixed_dim(self, media):
        f = extract_features(media).toPandas()
        assert len(f) == 300
        for v in f["feature"].head(20):
            arr = np.asarray(v, dtype=np.float64)
            assert len(arr) == 64
            assert abs(np.linalg.norm(arr) - 1.0) < 1e-5

    def test_resize_clamps_aspect(self, media):
        r = resize_images(decode_media(media), max_side=256).toPandas()
        assert (r[["out_width", "out_height"]].max(axis=1) <= 256).all()
        # aspect preserved within rounding
        ratio_in = r["width"] / r["height"]
        ratio_out = r["out_width"] / r["out_height"]
        assert ((ratio_in - ratio_out).abs() / ratio_in < 0.05).all()

    def test_frame_sampling(self, media):
        s = sample_frames(decode_media(media), every_n=30).toPandas()
        assert (s["frame_idx"] % 30 == 0).all()
        per_vid = s.groupby("media_id").agg(n=("frame_idx", "size"),
                                            nf=("n_frames", "first"))
        expect = (per_vid["nf"] - 1) // 30 + 1
        assert (per_vid["n"] == expect).all()


class TestStreamingSketches:
    def test_accumulator_over_rate_stream(self, spark, tmp_path):
        acc = StreamingSketchAccumulator(
            keys=[], specs=[SketchSpec("vals", "hll", "value", {"p": 12})])
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 2000).load()
                  .select((F.col("value") % 500).alias("value")))
        q = stream.writeStream.foreachBatch(acc.process_batch) \
            .option("checkpointLocation", str(tmp_path / "ckpt")) \
            .trigger(processingTime="1 second").start()
        deadline = time.time() + 30
        while time.time() < deadline and acc.batches_seen < 3:
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(10)
        assert acc.batches_seen >= 3
        sk = acc.sketches[("vals",)]
        # distinct values capped at 500 across all batches
        assert abs(sk.estimate() - 500) / 500 <= 4 * sk.relative_error

    def test_replayed_batch_ignored(self, spark):
        acc = StreamingSketchAccumulator(
            keys=[], specs=[SketchSpec("u", "hll", "id", {"p": 10})])
        batch = spark.range(1000).select(F.col("id"))
        acc.process_batch(batch, 0)
        est1 = acc.sketches[("u",)].estimate()
        acc.process_batch(batch, 0)  # replay of same batch id
        assert acc.sketches[("u",)].estimate() == est1

    def test_high_cardinality_keys_fail_loud(self, spark):
        """The in-memory dict is for bounded key domains: exceeding
        max_keys must raise with guidance, not silently grow toward a
        driver OOM."""
        acc = StreamingSketchAccumulator(
            keys=["k"], specs=[SketchSpec("u", "hll", "id", {"p": 10})],
            max_keys=50)
        batch = spark.range(500).select(
            F.col("id"), F.col("id").cast("string").alias("k"))
        with pytest.raises(ValueError, match="state_dir"):
            acc.process_batch(batch, 0)

    EQUIV_SPECS = [
        SketchSpec("u", "hll", "s", {"p": 12}),
        SketchSpec("c", "cms", "s", {"epsilon": 1e-2, "delta": 1e-2}),
        SketchSpec("b", "bloom", "s", {"capacity": 5000, "fpp": 1e-3}),
        SketchSpec("q", "kll", "v", {"k": 128}),
        SketchSpec("t", "tdigest", "v", {"delta": 100.0}),
    ]

    @staticmethod
    def _equiv_frame(spark):
        # 6 partitions x 3 keys: every key has partials in every partition
        return spark.range(0, 30_000, numPartitions=6).select(
            "id", (F.col("id") % 3).cast("string").alias("k"),
            (F.col("id") % 997).cast("string").alias("s"),
            ((F.col("id") * 7919) % 10007).cast("double").alias("v"))

    def _assert_matches_two_level_merge(self, acc, df):
        """The driver-merged accumulator states equal the distributed
        two_level_merge of the same frame: lattice sketches (HLL, CMS,
        Bloom) byte-for-byte, order-dependent ones (KLL, t-digest)
        within their rank bounds against the exact data."""
        from fever_spark.ops.build import build_sketches
        from fever_spark.ops.merge import two_level_merge

        ref = {(r["k"], r["sketch"]): bytes(r["state"]) for r in
               two_level_merge(build_sketches(df, ["k"], self.EQUIV_SPECS),
                               ["k"]).collect()}
        assert set(acc.sketches) == set(ref)
        assert {k for k, _ in ref} == {"0", "1", "2"}
        vals = df.select("k", "v").toPandas()
        for (k, name), state in ref.items():
            got = acc.sketches[(k, name)]
            if name in ("u", "c", "b"):
                assert got.to_bytes() == state, (k, name)
                continue
            sv = np.sort(vals.loc[vals["k"] == k, "v"].to_numpy())
            n = len(sv)
            assert got.n == sketch_from_bytes(state).n == n
            for q in (0.01, 0.25, 0.5, 0.75, 0.99):
                est = got.quantile(q)
                lo = np.searchsorted(sv, est, side="left") / n
                hi = np.searchsorted(sv, est, side="right") / n
                slack = (2 * got.rank_error() if name == "q"
                         else max(0.005, 8 * q * (1 - q) / 100))
                assert lo - slack <= q <= hi + slack, (k, name, q)

    def test_driver_merge_matches_two_level_merge(self, spark):
        df = self._equiv_frame(spark)
        acc = StreamingSketchAccumulator(keys=["k"], specs=self.EQUIV_SPECS)
        acc.process_batch(df, 0)
        self._assert_matches_two_level_merge(acc, df)

    def test_state_dir_mode_keeps_salted_merge(self, spark, tmp_path,
                                               monkeypatch):
        """Spill mode must never bring states to the driver: its batches
        still take the distributed merge, two salted exchanges."""
        from fever_spark.streaming import sketch_stream

        plans = []

        def spy(*args, **kwargs):
            out = two_level_merge(*args, **kwargs)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        two_level_merge = sketch_stream.two_level_merge
        monkeypatch.setattr(sketch_stream, "two_level_merge", spy)
        acc = StreamingSketchAccumulator(
            keys=["k"], specs=self.EQUIV_SPECS[:2],
            state_dir=str(tmp_path / "state"))
        acc.process_batch(self._equiv_frame(spark), 0)
        assert acc.sketches == {}
        assert len(plans) == 1
        assert plans[0].count("Exchange hashpartitioning") == 2

    def test_state_dir_spill_bounds_driver_memory(self, spark, tmp_path):
        """Spill mode: per-batch merged states land in a keyed parquet
        state table; the driver dict stays EMPTY even for key counts far
        beyond max_keys, replays stay idempotent, and merged_states
        returns the distributed totals."""
        from fever_spark.ops import hll_estimate_col

        sd = str(tmp_path / "state")
        acc = StreamingSketchAccumulator(
            keys=["k"], specs=[SketchSpec("u", "hll", "id", {"p": 12})],
            max_keys=50, state_dir=sd)
        b0 = spark.range(500).select(
            F.col("id"), (F.col("id") % 200).cast("string").alias("k"))
        b1 = spark.range(500, 1000).select(
            F.col("id"), (F.col("id") % 200).cast("string").alias("k"))
        acc.process_batch(b0, 0)
        acc.process_batch(b1, 1)
        acc.process_batch(b1, 1)              # replay: overwritten, not doubled
        assert acc.sketches == {}             # nothing held on the driver
        assert acc.batches_seen == 2
        assert os.path.isdir(os.path.join(sd, "batch=0"))

        totals = acc.merged_states(spark) \
            .withColumn("e", hll_estimate_col(F.col("state")))
        rows = {r["k"]: r["e"] for r in totals.collect()}
        assert len(rows) == 200               # 200 keys, one merged row each
        # each key saw exactly 5 distinct ids across the two batches
        assert all(abs(v - 5) < 1 for v in rows.values())

        # a crash mid-write leaves a batch dir without _SUCCESS: the
        # totals read past it instead of failing on its torn file
        partial = os.path.join(sd, "batch=2")
        os.makedirs(partial)
        with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
            f.write(b"\x00garbage")
        again = acc.merged_states(spark) \
            .withColumn("e", hll_estimate_col(F.col("state")))
        assert {r["k"]: r["e"] for r in again.collect()} == rows

    def test_windowed_counts_stream_plan(self, spark):
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 100).load()
                  .withColumn("k", (F.col("value") % 3).cast("string")))
        out = windowed_counts_stream(stream, ["k"], "timestamp",
                                     window="10 seconds", watermark="20 seconds")
        assert out.isStreaming
        assert "window" in out.columns and "count" in out.columns


@pytest.fixture(scope="module")
def pages_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages_job") / "pages")
    # many small files → several chunks
    synth_pages_df(spark, 12_000, partitions=12).write.parquet(path)
    return path


SPECS = [SketchSpec("urls", "hll", "url", {"p": 12}),
         SketchSpec("hosts", "cms", "url", {"epsilon": 1e-3, "delta": 1e-2}),
         SketchSpec("len_q", "kll", "warc_days", {"k": 128})]


def _job(path, ckpt):
    # kll over a numeric derived col exercises the float path; add it on read
    return SketchJob(input_path=path, checkpoint_dir=ckpt,
                     keys=["lang"], specs=SPECS[:2], files_per_chunk=3)


def _final_states(df):
    return {(r["lang"], r["sketch"]): bytes(r["state"]) for r in df.collect()}


class TestSketchJobResume:
    def test_uninterrupted_run(self, spark, pages_table, tmp_path):
        ckpt = str(tmp_path / "ckpt_full")
        final = _job(pages_table, ckpt).run(spark)
        manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
        assert manifest["completed"]
        assert manifest["total_rows"] == 12_000
        assert len(manifest["chunks"]) == 4  # 12 files / 3 per chunk
        assert all(c["rows_per_sec"] > 0 for c in manifest["chunks"].values())
        assert final.count() > 0

    def test_resume_produces_identical_states(self, spark, pages_table, tmp_path):
        ckpt_a = str(tmp_path / "ckpt_a")
        ckpt_b = str(tmp_path / "ckpt_b")
        final_a = _job(pages_table, ckpt_a).run(spark)
        # interrupted run: stop after 2 chunks
        job_b = _job(pages_table, ckpt_b)
        assert job_b.run(spark, max_chunks=2) is None
        manifest = json.load(open(os.path.join(ckpt_b, "manifest.json")))
        assert len(manifest["chunks"]) == 2 and not manifest["completed"]
        # resume — must skip the 2 done chunks and finish
        final_b = job_b.run(spark, resume=True)
        assert _final_states(final_a) == _final_states(final_b)

    def test_no_resume_restarts(self, spark, pages_table, tmp_path):
        ckpt = str(tmp_path / "ckpt_r")
        job = _job(pages_table, ckpt)
        job.run(spark, max_chunks=1)
        final = job.run(spark, resume=False)
        manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
        assert manifest["completed"] and len(manifest["chunks"]) == 4
        assert final.count() > 0

    def test_estimates_match_exact(self, spark, pages_table, tmp_path):
        from fever_spark.ops import hll_estimate_col

        ckpt = str(tmp_path / "ckpt_e")
        final = _job(pages_table, ckpt).run(spark)
        est = {r["lang"]: r["e"] for r in
               final.filter(F.col("sketch") == "urls")
               .withColumn("e", hll_estimate_col(F.col("state")))
               .select("lang", "e").collect()}
        pages = spark.read.parquet(pages_table)
        exact = {r["lang"]: r["n"] for r in
                 pages.groupBy("lang").agg(F.countDistinct("url").alias("n")).collect()}
        for lang, n in exact.items():
            assert abs(est[lang] - n) / n <= 4 * 1.04 / (2 ** 6), lang


class TestPerceptualHashDedup:
    """aHash + Hamming-banded near-dup over the pixel-grid contract."""

    def _pixels(self, spark):
        import numpy as np

        rng = np.random.default_rng(5)
        base = rng.random(64)
        near = base.copy()
        near[13] = 1.0 - near[13]            # one cell flipped
        rows = [(1, base.tolist()), (2, near.tolist())]
        rows += [(10 + i, rng.random(64).tolist()) for i in range(20)]
        return spark.createDataFrame(rows,
                                     "media_id long, pixels array<double>")

    def test_planted_near_pair_found_no_fp(self, spark):
        from fever_spark.multimodal.binary import (perceptual_hash,
                                                   phash_near_duplicates)

        df = self._pixels(spark)
        hashes = perceptual_hash(df, pixel_col="pixels")
        pairs = phash_near_duplicates(hashes, max_hamming=4).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in got
        # random 64-cell grids differ in ~32 bits — none within 4
        assert got == {(1, 2)}

    def test_payload_fallback_is_deterministic(self, spark):
        from fever_spark.multimodal.binary import perceptual_hash, synth_media

        pdf = synth_media(20)
        df = spark.createDataFrame(pdf[["media_id", "payload"]])
        a = {r["media_id"]: r["phash"] for r in perceptual_hash(df).collect()}
        b = {r["media_id"]: r["phash"] for r in
             perceptual_hash(df.repartition(7)).collect()}
        assert a == b and len(a) == 20

    def test_pigeonhole_recall_at_exact_budget(self, spark):
        """A pair at EXACTLY max_hamming distance, spread adversarially
        one bit per band, must still be found (bands = max_hamming + 1
        leaves one untouched band)."""
        from fever_spark.multimodal.binary import phash_near_duplicates

        h_a = 0
        max_h = 6
        width = 64 // (max_h + 1)
        h_b = 0
        for i in range(max_h):          # flip one bit in bands 0..5
            h_b |= 1 << (i * width)
        df = spark.createDataFrame([(1, h_a), (2, h_b)],
                                   "media_id long, phash long")
        pairs = phash_near_duplicates(df, max_hamming=max_h).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == \
            [(1, 2, max_h)]
        # one bit beyond the budget: correctly rejected by the verify
        df2 = spark.createDataFrame(
            [(1, h_a), (2, h_b | (1 << 62))],
            "media_id long, phash long")
        assert phash_near_duplicates(df2, max_hamming=max_h).count() == 0

    def test_identical_payloads_collide_exactly(self, spark):
        from fever_spark.multimodal.binary import (perceptual_hash,
                                                   phash_near_duplicates)

        df = spark.createDataFrame(
            [(1, bytearray(b"same-bytes")), (2, bytearray(b"same-bytes")),
             (3, bytearray(b"other-bytes"))],
            "media_id long, payload binary")
        pairs = phash_near_duplicates(perceptual_hash(df),
                                      max_hamming=0).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
        assert all(r["hamming"] == 0 for r in pairs)
