"""Structured Streaming counterparts of fever's streaming semantics.

Fever is a streaming system (SURVEY.md §2.7); the batch library covers its
query capabilities, and this module covers the streaming-only ones:

- ``StreamingSketchAccumulator``: foreachBatch sketch building. Each
  micro-batch runs the SAME partition-local build as the batch path, then
  merges the partials into the accumulated state — on the driver for
  bounded key domains, through the distributed two-level merge when states
  spill — valid because sketch merges are associative, exactly why fever
  can flush partial aggregates on a timer into a driver-side map
  (processing/flow_aggregator.go:80-109). At-least-once micro-batch
  semantics + idempotent state write per batch_id ≈ fever's at-most-once
  plus our checkpointing — strictly stronger.

- ``windowed_counts_stream``: the FlowAggregator/DNSAggregator flush loop as
  an event-time tumbling window with watermark — the upgrade over fever's
  processing-time flush (flow_aggregator.go:152-170).

- ``session_collector_stream``: the flow-context collector
  (processing/context_collector.go:79-143) as applyInPandasWithState —
  per-key event accumulation with TTL timeout, emitting only groups that
  saw a terminal event and were marked by an alert.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fever_spark.ops.build import SketchSpec, build_sketches
from fever_spark.ops.merge import two_level_merge
from fever_spark.sketch.base import merge_many


class StreamingSketchAccumulator:
    """Accumulate mergeable sketch states across micro-batches.

    Use as: ``stream.writeStream.foreachBatch(acc.process_batch).start()``.
    ``acc.sketches`` holds {(key..., sketch_name): Sketch} merged over all
    batches so far; ``last_batch_id`` dedupes replayed batches (Spark replays
    the last uncommitted batch on recovery — merging it twice would double-
    count, so replays are dropped by id).

    Driver-memory contract: the in-memory dict holds one sketch PER GROUP
    KEY, which is only safe for bounded key domains (lang × window, event
    types, ...). In this mode each batch's ``build_sketches`` partials are
    collected as they are (one Spark job per batch, no merge shuffle) and
    each (keys, sketch) group is merged once on the driver with
    ``merge_many``, so a batch briefly holds at most partitions × keys ×
    specs SERIALIZED partials. ``max_keys`` (default 100k) enforces the
    contract loudly: the distinct group count among the collected partials
    is checked before any of them is turned into a dense sketch, so a
    million-key groupBy fails with guidance instead of silently OOMing the
    driver. For unbounded key domains pass ``state_dir``: each batch's
    partials are then merged distributed (``two_level_merge`` with its
    parallelism-derived salt) and written to
    ``state_dir/batch=<id>`` parquet (idempotent overwrite per batch id —
    the same replay safety as the dict path), and NOTHING is collected to
    the driver; read the totals back with ``merged_states(spark)``, a
    distributed two_level_merge over the batch tables (the sketch_job
    checkpoint layout, jobs/sketch_job.py).

    Per-trigger cost contract: ``flush_every=K`` (with ``pending_dir``)
    defers the build+merge — each trigger spills its input
    durably (a narrow parquet projection; or, with ``defer_reader`` +
    ``defer_files``, just the batch's input-file list as a tiny json)
    and the build → merge runs once per K batches over everything
    spilled. ``flush()`` absorbs the tail and recovers a crashed run's
    leftovers, dropping ids at-or-below the landed state high-water mark
    so nothing double-counts. This is fever's flush-timer amortization
    (flow_aggregator.go:152-170) applied to the whole build, not just
    the merge."""

    def __init__(self, keys: list[str], specs: list[SketchSpec],
                 max_keys: int = 100_000, state_dir: str | None = None,
                 flush_every: int = 1, pending_dir: str | None = None,
                 defer_reader=None, defer_files=None):
        if (defer_reader is None) != (defer_files is None):
            raise ValueError("defer_reader and defer_files come together: "
                             "the reader turns the recorded file lists "
                             "back into rows at flush time")
        if flush_every > 1 and pending_dir is None:
            raise ValueError("flush_every > 1 requires pending_dir= (the "
                             "per-batch raw-projection spill location)")
        self.keys = list(keys)
        self.specs = list(specs)
        self.max_keys = max_keys
        self.state_dir = state_dir
        self.flush_every = flush_every
        self.pending_dir = pending_dir
        self.defer_reader = defer_reader
        self.defer_files = defer_files
        self.sketches: dict[tuple, object] = {}
        self.last_batch_id = -1
        self.batches_seen = 0
        self._pending: list[int] = []

    def _input_columns(self) -> list[str]:
        cols = list(self.keys)
        for s in self.specs:
            cols.append(s.column)
            if s.weight_column:
                cols.append(s.weight_column)
        return list(dict.fromkeys(cols))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id:
            return  # replayed batch — idempotence

        if self.flush_every > 1:
            # deferred mode: a continuous daemon's per-trigger cost must
            # not include the build+merge — defer them, and run the
            # build → merge once per flush_every batches
            # over all deferred batches together. Two spill flavors:
            #
            # - defer_reader/defer_files set (file-source batches): per
            #   trigger, record only the batch's INPUT FILE LIST (from
            #   defer_files(batch_id) — inside foreachBatch the batch
            #   df's inputFiles() is empty) as a tiny json — a
            #   driver-side write, ZERO Spark jobs — and let flush()
            #   re-read those files through the reader. Right whenever
            #   the source files outlive the flush window (a drop dir).
            # - otherwise: spill the (keys + sketched values) projection
            #   as ONE narrow parquet write per batch (no shuffle).
            #
            # Both are idempotent per batch id; both spill durably, so a
            # crash between trigger commit and flush loses nothing
            # (flush() recovers leftovers).
            import json
            import os

            if self.defer_reader is not None:
                os.makedirs(self.pending_dir, exist_ok=True)
                meta = os.path.join(self.pending_dir,
                                    f"batch={batch_id}.json")
                tmp = meta + ".tmp"
                with open(tmp, "w") as f:
                    json.dump({"batch_id": batch_id,
                               "files": list(self.defer_files(batch_id))},
                              f)
                os.replace(tmp, meta)
            else:
                batch_df.select(*self._input_columns()).write.mode(
                    "overwrite").parquet(
                    os.path.join(self.pending_dir, f"batch={batch_id}"))
            self.last_batch_id = batch_id
            self.batches_seen += 1
            self._pending.append(batch_id)
            if len(self._pending) >= self.flush_every:
                self.flush(batch_df.sparkSession)
            return

        self._record(build_sketches(batch_df, self.keys, self.specs),
                     batch_id)
        self.last_batch_id = batch_id
        self.batches_seen += 1

    def _record(self, partials: DataFrame, state_id: int) -> None:
        """Land one ``build_sketches`` partials frame. Spill mode: merge
        distributed and write parquet keyed by ``state_id`` (idempotent
        overwrite). In-memory mode: collect the partials, merge each
        (keys, sketch) group once on the driver, fold into the dict."""
        if self.state_dir is not None:
            import os

            two_level_merge(partials, self.keys) \
                .write.mode("overwrite").parquet(
                    os.path.join(self.state_dir, f"batch={state_id}"))
            return
        groups: dict[tuple, list[bytes]] = {}
        for row in partials.collect():
            key = tuple(row[k] for k in self.keys) + (row["sketch"],)
            groups.setdefault(key, []).append(bytes(row["state"]))
        n_keys = len(self.sketches.keys() | groups.keys())
        if n_keys > self.max_keys:
            raise ValueError(
                f"StreamingSketchAccumulator would hold {n_keys} "
                f"group keys (> max_keys={self.max_keys}); the in-memory "
                "accumulator is for bounded key domains. Pass state_dir= "
                "to spill per-batch states to a keyed parquet state "
                "table, or raise max_keys if the domain really is "
                "bounded.")
        for key, states in groups.items():
            sk = merge_many(states)
            if key in self.sketches:
                self.sketches[key].merge(sk)
            else:
                self.sketches[key] = sk

    def flush(self, spark) -> int:
        """Deferred mode: build + merge every spilled pending batch in ONE
        pass and land the result, then drop the spills. Call once more
        after the stream drains (run_pipeline does) to absorb the tail.
        Picks up pending dirs left by a crashed prior run, EXCEPT those
        already covered by a landed state (state ids are flush high-water
        marks — a pending id <= the max landed id was merged by that
        flush, so re-merging would double-count). Returns the number of
        batches absorbed."""
        import glob
        import os
        import re
        import shutil

        if self.flush_every <= 1:
            return 0
        pat = (r".*batch=(\d+)\.json$" if self.defer_reader is not None
               else r".*batch=(\d+)$")
        on_disk = {
            int(m.group(1)): p
            for p in glob.glob(os.path.join(self.pending_dir, "batch=*"))
            if (m := re.match(pat, p))}
        landed = -1
        if self.state_dir is not None:
            # Only a batch=N dir carrying Spark's _SUCCESS marker counts as
            # landed: a crash mid-write leaves a partial dir, and treating it
            # as the high-water mark would delete that window's pending
            # spills as "stale" — permanently losing their stats. Partial
            # dirs are removed here so the re-flush's overwrite starts clean.
            for p in glob.glob(os.path.join(self.state_dir, "batch=*")):
                m = re.match(r".*batch=(\d+)$", p)
                if m is None:
                    continue
                if os.path.exists(os.path.join(p, "_SUCCESS")):
                    landed = max(landed, int(m.group(1)))
                else:
                    shutil.rmtree(p, ignore_errors=True)
        stale = [p for i, p in on_disk.items() if i <= landed]
        for p in stale:
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) \
                else os.unlink(p)
        todo = sorted(i for i in on_disk if i > landed)
        if not todo:
            self._pending = []
            return 0
        if self.defer_reader is not None:
            import json

            files = []
            for i in todo:
                with open(on_disk[i]) as f:
                    files.extend(json.load(f)["files"])
            if not files:  # only empty triggers pending — nothing to build
                for i in todo:
                    os.unlink(on_disk[i])
                self._pending = []
                return 0
            df = self.defer_reader(spark, files)
        else:
            df = spark.read.parquet(*[on_disk[i] for i in todo])
        self._record(build_sketches(df, self.keys, self.specs), max(todo))
        for i in todo:
            p = on_disk[i]
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) \
                else os.unlink(p)
        self._pending = []
        return len(todo)

    def merged_states(self, spark) -> DataFrame:
        """Spill mode: the accumulated totals as a DataFrame — one row per
        (keys..., sketch) with the merged ``state`` — computed distributed
        (never key-cardinality driver memory)."""
        import glob
        import os

        if self.state_dir is None:
            raise ValueError("merged_states requires state_dir spill mode")
        dirs = sorted(
            p for p in glob.glob(os.path.join(self.state_dir, "batch=*"))
            if os.path.exists(os.path.join(p, "_SUCCESS")))
        if not dirs:
            raise FileNotFoundError(f"no batch states under {self.state_dir}")
        return two_level_merge(spark.read.parquet(*dirs), self.keys)


def windowed_counts_stream(stream: DataFrame, keys: list[str], ts_col: str,
                           window: str = "1 minute",
                           watermark: str = "2 minutes") -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark — fever's
    aggregator flush loop semantics (1m default flushtime, run.go:647)."""
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window), *keys)
            .agg(F.count(F.lit(1)).alias("count")))


SESSION_OUT_SCHEMA = ("flow_id string, n_events int, marked boolean, "
                      "complete boolean")
SESSION_STATE_SCHEMA = "n_events int, marked boolean"


def _make_session_fn(ttl_ms: int | None):
    def _session_fn(key, pdf_iter, state: GroupState):
        """Accumulate per-flow events; emit when the terminal 'flow' event
        arrives (context_collector.go:118-143) or on TTL timeout
        (go-cache eviction analog, context_collector.go:62-74)."""
        if state.hasTimedOut:
            n, marked = state.get if state.exists else (0, False)
            state.remove()
            yield pd.DataFrame([{"flow_id": key[0], "n_events": n,
                                 "marked": bool(marked), "complete": False}])
            return
        n, marked = state.get if state.exists else (0, False)
        complete = False
        for pdf in pdf_iter:
            n += len(pdf)
            marked = marked or bool((pdf["event_type"] == "alert").any())
            complete = complete or bool((pdf["event_type"] == "flow").any())
        if complete:
            if state.exists:
                state.remove()
            yield pd.DataFrame([{"flow_id": key[0], "n_events": n,
                                 "marked": bool(marked), "complete": True}])
        else:
            state.update((n, marked))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return _session_fn


def session_collector_stream(stream: DataFrame,
                             ttl_ms: int | None = 60 * 60 * 1000) -> DataFrame:
    """Flow-context correlation (J4) over a stream keyed by flow_id.

    ``ttl_ms`` defaults to the reference's 1h context-cache timeout
    (run.go:705). Pass None to disable eviction — REQUIRED for bounded
    tests: ProcessingTimeTimeout makes the engine fire continuous
    timeout-check micro-batches, so ``processAllAvailable`` never settles.
    """
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (stream.groupBy("flow_id")
            .applyInPandasWithState(_make_session_fn(ttl_ms),
                                    outputStructType=SESSION_OUT_SCHEMA,
                                    stateStructType=SESSION_STATE_SCHEMA,
                                    outputMode="update",
                                    timeoutConf=timeout))


def flow_context_batch(df: DataFrame, id_col: str = "flow_id") -> DataFrame:
    """Batch form of J4: groups with a terminal flow event AND an alert mark,
    shipped with all their events (groupBy + collect_list + having)."""
    return (df.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max((F.col("event_type") == "alert").cast("int")).alias("_marked"),
                 F.max((F.col("event_type") == "flow").cast("int")).alias("_complete"),
                 F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("events"))
            .filter((F.col("_marked") == 1) & (F.col("_complete") == 1))
            .drop("_marked", "_complete"))
