"""Streaming JVM sketch path: windowed native sketch aggregates inside
Structured Streaming's own state store — no Python boundary per trigger.

Why this exists: the batch measurement behind ops/jvm_sketch.py (a no-op
``mapInPandas`` ship costs 92% of the three-sketch pipeline at local[8])
applies per-TRIGGER in streaming — ``StreamingSketchAccumulator`` crosses
the JVM→Python boundary every micro-batch it doesn't defer. When the
kinds are hll/cms and the grouping is (event-time window, keys), the
engine can hold the sketch itself as streaming aggregation state:
``hll_sketch_agg`` / ``count_min_sketch`` are TypedImperativeAggregates,
so each micro-batch does a map-side partial update, the state store keeps
one binary sketch buffer per open (window, keys) group, and append mode
emits each window EXACTLY ONCE when the watermark passes its end. Crash
recovery is Spark's checkpoint contract (source offsets + state store
versions) rather than our landed-high-water protocol — the kill/restart
test pins no-duplicate, no-loss window emission across a resume.

Engine choice (mirrors ops/jvm_sketch.py): use this path for hll/cms
windowed rollups over a live feed — state stays JVM-side end to end and
the sink holds final DataSketches/CountMinSketch bytes queryable with
``jvm_hll_estimate_col`` / ``jvm_cms_estimate``. Use
``StreamingSketchAccumulator`` when you need fever-envelope state (the
sketchctl ops plane, cross-job ``merge_many``) or kinds this path has
no native aggregate for (t-digest, KMV, Bloom, CMSTopK; KLL too — Spark
4.1 ships ``kll_sketch_agg_*``, but it is not wired in here). The two
state formats stay mutually exclusive and fail loudly across the line
(tested in tests/test_jvm_sketch.py).

Reference parity: fever's flow aggregator accumulates per-window flow
aggregates in a hand-rolled map flushed by a ticker
(processing/flow_aggregator.go:111-170); here the watermark plays the
ticker and the state store plays the map, with the same
one-final-row-per-window output contract.

Scale shape (100 TB / 10^12 rows): state is O(open windows × keys ×
state_size) per executor after the groups-only shuffle — watermark delay
bounds "open", so state does NOT grow with input volume; the per-batch
shuffle carries partial sketch states, not rows. Skewed hot keys
collapse map-side exactly as in batch (partial aggregation), so no
reducer sees more than O(tasks) partials per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fever_spark.ops.build import SketchSpec
from fever_spark.ops.jvm_sketch import _agg_for


def jvm_windowed_sketches_stream(stream: DataFrame, ts_col: str,
                                 window: str, keys: list[str],
                                 specs: list[SketchSpec],
                                 watermark: str = "1 hour") -> DataFrame:
    """Streaming plan: event-time windowed native sketch states.

    → streaming DataFrame(window_start, window_end, keys..., sketch:
    string, state: binary) in the same long canonical shape as
    ``jvm_sketches``; one row per (window, keys, spec) emitted once the
    watermark closes the window (append mode). ``state`` bytes are the
    JVM libraries' own formats — estimate with ``jvm_hll_estimate_col``
    / ``jvm_cms_estimate``, union across jobs with ``jvm_hll_union`` /
    ``jvm_cms_merge``.
    """
    if not stream.isStreaming:
        raise ValueError(
            "jvm_windowed_sketches_stream needs a streaming DataFrame — "
            "for batch inputs use jvm_sketches")
    if not specs:
        raise ValueError("jvm_windowed_sketches_stream needs at least one spec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    kind_of: dict = {}
    aggs = [_agg_for(s, kind_of) for s in specs]
    wide = (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("window"),
                     *[F.col(k) for k in keys])
            .agg(*aggs))
    flat_keys = ["window_start", "window_end", *keys]
    return (wide.select(F.col("window.start").alias("window_start"),
                        F.col("window.end").alias("window_end"),
                        *[F.col(k) for k in keys], *names)
            .unpivot(flat_keys, names, "sketch", "state"))


def start_jvm_sketch_sink(agg: DataFrame, out_dir: str, checkpoint_dir: str,
                          available_now: bool = True,
                          trigger_seconds: float | None = None) -> StreamingQuery:
    """Run the windowed plan into a parquet sink with exactly-once file
    commits (the file sink's _spark_metadata log; read the results back
    with ``spark.read.parquet(out_dir)`` so uncommitted files are
    excluded). ``available_now=True`` drains everything currently in the
    source and stops — the batch-ish mode tests and backfills use;
    pass ``trigger_seconds`` instead for a live fixed-cadence run."""
    writer = (agg.writeStream.format("parquet").outputMode("append")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def jvm_session_sketches_stream(stream: DataFrame, ts_col: str,
                                gap: str, keys: list[str],
                                specs: list[SketchSpec],
                                watermark: str = "1 hour") -> DataFrame:
    """Session-window variant of ``jvm_windowed_sketches_stream``: one
    sketch state per (session, keys), sessions closing ``gap`` after
    their last event (dynamic windows — Spark merges overlapping session
    state as events arrive). → streaming DataFrame(session_start,
    session_end, keys..., sketch, state), append-mode exactly-once like
    the tumbling variant. The JVM cousin of the python engine's
    applyInPandasWithState session collector
    (streaming/sketch_stream.py:session_collector_stream): that one
    yields arbitrary-python per-session payloads, this one yields
    mergeable sketch states without a boundary crossing."""
    if not stream.isStreaming:
        raise ValueError(
            "jvm_session_sketches_stream needs a streaming DataFrame")
    if not specs:
        raise ValueError("jvm_session_sketches_stream needs at least one spec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    kind_of: dict = {}
    aggs = [_agg_for(s, kind_of) for s in specs]
    wide = (stream.withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                     *[F.col(k) for k in keys])
            .agg(*aggs))
    flat_keys = ["session_start", "session_end", *keys]
    return (wide.select(F.col("sw.start").alias("session_start"),
                        F.col("sw.end").alias("session_end"),
                        *[F.col(k) for k in keys], *names)
            .unpivot(flat_keys, names, "sketch", "state"))
