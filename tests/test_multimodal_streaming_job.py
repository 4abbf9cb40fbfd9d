"""Streaming sketch accumulation and the checkpoint/lineage/resume job."""

import json
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from fever_spark.jobs import SketchJob
from fever_spark.ops.build import SketchSpec
from fever_spark.sketch.base import sketch_from_bytes
from fever_spark.sources.synth import synth_pages_df
from fever_spark.streaming import StreamingSketchAccumulator, windowed_counts_stream


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
