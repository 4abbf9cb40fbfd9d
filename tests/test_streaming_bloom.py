"""Streaming Bloom IOC matching — fever's actual deployment shape: a
continuous event stream probed against a broadcast indicator filter
(processing/bloom_handler.go as a forever-running handler). The SAME
bloom_match_events plan runs on a readStream DataFrame; results must match
the batch run exactly (stateless operator ⇒ stream/batch parity)."""

import pytest
from pyspark.sql import functions as F

from fever_spark.ops.bloom_match import bloom_match_events, build_ioc_filter
from fever_spark.sources.fixtures import fever_events_parquet

IOCS = ["host3", "name7", "sni5", "/path/9"]  # present in the synth fixture


@pytest.fixture(scope="module")
def events_path(tmp_path_factory):
    # readStream.parquet wants a DIRECTORY; stage the fixture file into one
    import shutil

    d = tmp_path_factory.mktemp("stream_events")
    shutil.copy(fever_events_parquet(), d / "part-0.parquet")
    return str(d)


class TestStreamingBloomMatch:
    def test_stream_matches_batch_exactly(self, spark, events_path, tmp_path):
        bf = build_ioc_filter(IOCS, fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())

        batch_events = spark.read.parquet(events_path)
        batch_alerts = sorted(
            (r["match_type"], r["ioc"]) for r in
            bloom_match_events(batch_events, bc).collect())

        stream = (spark.readStream.schema(batch_events.schema)
                  .option("maxFilesPerTrigger", 1).parquet(events_path))
        collected = []

        def sink(df, batch_id):
            collected.extend((r["match_type"], r["ioc"]) for r in
                             bloom_match_events(df, bc).collect())

        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt")).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(collected) == batch_alerts
        assert batch_alerts, "fixture must contain real matches"

    def test_stream_transform_without_foreachbatch(self, spark, events_path,
                                                   tmp_path):
        """The matcher is a plain stateless transformation, so it also
        composes directly into a streaming query plan (alert counts via a
        streaming aggregate to a memory sink)."""
        bf = build_ioc_filter(IOCS, fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        batch_events = spark.read.parquet(events_path)
        stream = (spark.readStream.schema(batch_events.schema)
                  .option("maxFilesPerTrigger", 1).parquet(events_path))
        alerts = bloom_match_events(stream, bc) \
            .groupBy("match_type").agg(F.count(F.lit(1)).alias("n"))
        q = (alerts.writeStream.outputMode("complete").format("memory")
             .queryName("stream_alerts").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["match_type"]: r["n"]
               for r in spark.sql("SELECT * FROM stream_alerts").collect()}
        want = {r["match_type"]: r["n"] for r in
                bloom_match_events(batch_events, bc)
                .groupBy("match_type").agg(F.count(F.lit(1)).alias("n"))
                .collect()}
        assert got == want and got


class TestStreamingHeavyHitters:
    """CMSTopK rides the generic foreachBatch accumulator: streaming
    heavy-hitter reports match the exact counts over everything seen."""

    def test_topk_accumulates_across_batches(self, spark, tmp_path):
        import pandas as pd
        from fever_spark.ops.build import SketchSpec
        from fever_spark.streaming import StreamingSketchAccumulator

        src = tmp_path / "src"
        src.mkdir()

        def write(name, hosts):
            pd.DataFrame({"host": hosts}).to_json(
                str(src / name), orient="records", lines=True)

        # heavy hitter 'big.example' spread over batches + tail noise
        write("b1.json", ["big.example"] * 50 + [f"t{i}.x" for i in range(20)])
        acc = StreamingSketchAccumulator(
            [], [SketchSpec("hh", "cmstopk", "host",
                            {"epsilon": 1e-3, "delta": 1e-3, "track": 64})])
        stream = spark.readStream.schema("host string").json(str(src))
        q = (stream.writeStream.foreachBatch(acc.process_batch)
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        try:
            q.processAllAvailable()
            write("b2.json", ["big.example"] * 40
                  + ["second.example"] * 30 + [f"u{i}.y" for i in range(15)])
            q.processAllAvailable()
        finally:
            q.stop()
        [sk] = [v for k, v in acc.sketches.items() if k[-1] == "hh"]
        top = sk.heavy_hitters(2)
        items = [t[0] for t in top]
        assert items[0] == "big.example" and items[1] == "second.example"
        # CMS overcounts only; exact totals are 90 and 30
        assert top[0][1] >= 90 and top[1][1] >= 30
        assert acc.batches_seen == 2
