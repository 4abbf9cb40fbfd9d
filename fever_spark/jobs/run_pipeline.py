"""Composed EVE pipeline — fever's main processing loop as ONE streaming job.

The reference daemon (cmd/fever/main.go wiring: input socket → Entry parse
→ handler chain — BloomHandler alerting, forward sinks, aggregate stats
submission) re-expressed as a Structured Streaming job over a drop
directory of EVE JSON-lines files (the batch analog of the socket source,
same seam as S3/alertify):

    files → parse_eve → ┬ bloom_match_events → alerts parquet [+ spool]
                        ├ per-type RAW-LINE forward dirs (S11, the
                        │ reference's socket forwarders emit the
                        │ original JSON line)
                        └ per-event-type sketch stats (HLL/CMS states)

Every micro-batch runs the whole chain once over ONE pruned parse
(persisted for the batch, unpersisted after): only the columns this
chain reads are materialized, one from_json per line. Exactly-once composition — the same
argument jobs/ingest.stream_ingest tests: the file-source checkpoint
makes each input file contribute to exactly one batch id; every sink is
keyed by ``batch=<id>`` with idempotent overwrite (a replayed batch
rewrites its own outputs); the submitter spool's content-hash names make
replayed publishes overwrite too; the sketch accumulator drops replayed
batch ids outright.

Scale shape: parse + match are the batch plans unchanged (one Arrow
round-trip for all seven Bloom probes); stats are ONE Spark job per batch
with no shuffle — the partition-local build's O(partitions × groups)
serialized partials are collected and merged on the driver over the
bounded event-type domain (in ``state_dir`` mode they instead take the
distributed salted merge and spill to parquet); nothing else collects to
the driver (alert counts ride the alert write as an observed metric).
"""

from __future__ import annotations

import json
import os
import posixpath

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fever_spark.files import resolve, write_atomic
from fever_spark.ops.bloom_match import build_ioc_filter, make_event_matcher
from fever_spark.ops.build import SketchSpec
from fever_spark.sources.eve import eve_projection
from fever_spark.streaming.sketch_stream import StreamingSketchAccumulator

__all__ = ["run_pipeline"]


def default_stats_specs() -> list[SketchSpec]:
    """The daemon's default per-event-type stats: distinct source IPs
    (HLL) and heavy-hitter HTTP hosts (CMS) — the fever flow/stats
    aggregation shapes as mergeable states."""
    return [
        SketchSpec("src_ips", "hll", "src_ip", {"p": 12}),
        SketchSpec("http_hosts", "cms", "http_host",
                   {"epsilon": 1e-3, "delta": 1e-3}),
    ]


def run_pipeline(spark: SparkSession, input_dir: str, output_dir: str,
                 iocs: list[str] | None = None, checkpoint: str = "",
                 blacklist: list[str] | None = None,
                 spool: str | None = None,
                 forwards: dict[str, list[str]] | None = None,
                 stats_specs: list[SketchSpec] | None = None,
                 stats_state_dir: str | None = None,
                 max_files_per_trigger: int = 16,
                 available_now: bool = True,
                 bloom_file: str | None = None,
                 sink_files: int = 1,
                 trigger_seconds: float | None = None,
                 compact_every: int = 0,
                 compact_keep_last: int = 16,
                 compact_fanin: int = 8):
    """Run the composed pipeline over ``input_dir``.

    ``forwards`` maps output name → event-type list ([] = everything);
    each batch writes ``output_dir/forward/<name>/batch=<id>`` JSON (the
    S11 per-output type filter). ``spool`` additionally publishes each
    batch's alerts through the submitter sink. ``stats_state_dir``
    switches the sketch accumulator to parquet spill (unbounded key
    domains); default accumulates driver-side over the bounded
    event-type domain.

    The IOC filter comes from exactly one of ``iocs`` (a static value
    list, built once) or ``bloom_file`` (a filter FILE, e.g. maintained
    by jobs/bloomctl.py): in file mode each micro-batch stats the file
    and, when its mtime changed, loads + re-broadcasts before matching —
    the reference daemon's mgmt reload → live-filter swap
    (mgmt/mgmtserver.go:141-158, bloom_handler.go reload) composed into
    the main loop. Tolerant load mirrors daemon startup (empty/corrupt/
    missing file → empty default filter, alerting continues).

    ``available_now=True`` (default) drains everything currently in the
    drop dir and returns a summary dict; ``False`` returns the running
    ``StreamingQuery`` (caller manages its lifecycle) with the sketch
    accumulator attached as ``query.fever_stats_acc``: its ``sketches``
    dict holds the per-type stats of every batch processed so far (or,
    with ``stats_state_dir``, ``merged_states(spark)`` reads them back).

    Per-trigger cost controls (the continuous-daemon regime is many
    SMALL batches, so fixed per-trigger work is the throughput ceiling):

    - the parse materializes ONLY the columns this chain reads (the 8
      match columns + the stats spec inputs — fever's 26-path
      discipline, narrowed to the job), one from_json per line;
    - forwards write the RAW event line (filtered by type), exactly what
      the reference's socket forwarders emit (processing/
      forward_handler.go) — no re-serialization of parsed fields;
    - ``sink_files`` coalesces every alert/forward batch write to that
      many files (default 1 — a fever-rate daemon writing 32 task files
      per trigger per sink drowns the output dir in tiny files);
    - ``compact_every`` (continuous-daemon knob, 0 = off) runs the
      jobs/compactor pass over the alerts root and every forward dir
      once per that many triggers: per-trigger ``batch=<id>`` dirs
      older than the ``compact_keep_last`` most recent roll up into
      range-named files, and rolls themselves merge log-structured at
      ``compact_fanin`` — total files stay O(keep_last + fanin) instead
      of ~86k dirs/day/sink at a 1s cadence. Row contents are
      preserved; only the layout changes."""
    if (iocs is None) == (bloom_file is None):
        raise ValueError("pass exactly one of iocs= or bloom_file=")
    if not checkpoint:
        raise ValueError("checkpoint= is required (exactly-once depends "
                         "on the file-source checkpoint)")
    # "reloads" counts filter (re)loads THIS RUN: >= 1 in file mode
    bloom_state = {"mtime": None, "bc": None, "reloads": 0}
    if iocs is not None:
        bf = build_ioc_filter(iocs, fpp=1e-7)
        bloom_state.update(bc=spark.sparkContext.broadcast(bf.to_bytes()),
                           reloads=0)

    # matcher built ONCE per filter (re)load, reused across micro-batches:
    # its Column tree (incl. the pandas-UDF probe, whose creation pickles
    # the closure) costs ~0.1s of py4j round-trips — pure fixed cost in
    # the many-small-triggers regime
    matcher_state = {"bc": None, "fn": None}

    def _current_matcher():
        """File mode: stat-and-swap per micro-batch (the reload seam)."""
        if bloom_file is not None:
            try:
                mtime = os.stat(bloom_file).st_mtime_ns
            except OSError:
                mtime = -1  # absent: empty filter now, reload on appearance
            if mtime != bloom_state["mtime"]:
                from fever_spark.sketch.bloom import BloomFilter

                bf = BloomFilter.load_or_empty(bloom_file)
                old = bloom_state["bc"]
                bloom_state.update(
                    bc=spark.sparkContext.broadcast(bf.to_bytes()),
                    mtime=mtime, reloads=bloom_state["reloads"] + 1)
                if old is not None:
                    old.unpersist()
        if matcher_state["bc"] is not bloom_state["bc"]:
            matcher_state.update(
                bc=bloom_state["bc"],
                fn=make_event_matcher(bloom_state["bc"], blacklist=blacklist))
        return matcher_state["fn"]

    specs = stats_specs if stats_specs is not None else default_stats_specs()
    acc = StreamingSketchAccumulator(
        keys=["event_type"], specs=specs, state_dir=stats_state_dir)

    # parse exactly what the chain reads: 8 match columns + stats inputs
    # (+ the raw line when a forward sink needs it)
    parse_cols = list(dict.fromkeys(
        ["event_type", "ts", "dns_type", "http_host", "http_url",
         "dns_rrname", "tls_sni", "tls_fingerprint"]
        + [c for s in specs for c in
           [s.column] + ([s.weight_column] if s.weight_column else [])]))
    if forwards:
        parse_cols = ["json_line"] + parse_cols

    # every Column the batch body needs, built ONCE per run — expression
    # trees are plan-independent, and constructing them is pure py4j
    # fixed cost per trigger otherwise (~0.5s/trigger measured at the
    # 8-batch drop, the single largest per-trigger constant)
    parse_staged, parse_out = eve_projection("value", parse_cols)
    et_notnull = F.col("event_type").isNotNull()
    fw_items = list((forwards or {}).items())
    count_exprs = [F.count(F.lit(1)).alias("_total")]
    fw_filters: list = []
    for i, (_name, types_) in enumerate(fw_items):
        count_exprs.append(
            (F.count(F.when(F.col("event_type").isin(types_), 1))
             if types_ else F.count(F.lit(1))).alias(f"_fw_{i}"))
        fw_filters.append(F.col("event_type").isin(types_) if types_
                          else None)
    json_line_col = [F.col("json_line")]

    alerts_root = os.path.join(output_dir, "alerts")
    # driver-side view of output_dir (a local path or a file://, s3://
    # URI) for the sink file counts
    out_fs, out_root = resolve(output_dir)

    def _n_files(rel: str, prefix: str = "", suffix: str = "") -> int:
        infos = out_fs.get_file_info(pafs.FileSelector(
            posixpath.join(out_root, rel), allow_not_found=True))
        return sum(1 for i in infos if i.is_file
                   and i.base_name.startswith(prefix)
                   and i.base_name.endswith(suffix))

    # per-RUN tallies (not all-time): a second incremental run against the
    # same output_dir must report ITS batches/alerts, so the summary comes
    # from what this run's foreachBatch actually processed, with alert
    # counts observed on the alert write itself (no Spark job of their
    # own, no all-time re-read of alerts_root)
    run_batches: list[int] = []
    run_alerts = [0]
    run_events = [0]
    run_files = {"alerts": 0, "forwards": 0}
    # per-phase wall seconds across the run's batches — the daemon's
    # perf observability (fever exposes the same through its perf stats
    # submitter); driver-side time.time() pairs, negligible cost
    # ("stats_flush" is always 0.0; perfbench/workloads.py still reads it)
    phases = {"alerts_write": 0.0, "spool": 0.0,
              "forwards": 0.0, "stats": 0.0, "stats_flush": 0.0,
              "compact": 0.0}

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        import time as _t

        from pyspark.sql import Observation

        # (a small trigger reads in few-file batches, but the text source
        # splits by totalBytes/defaultParallelism, so even a 4-file batch
        # parses ~32-way — an explicit repartition was A/B-measured to
        # add nothing but its own shuffle)
        # persist the parse UNFILTERED, then filter on the cached
        # columns: a filter inside the persisted plan gets pushed below
        # the projection and re-split into extra pruned from_json calls
        # (measured 3 parses/line instead of 1). Alerts and stats are
        # always two consumers, so the cache always pays.
        cached = batch_df.select(*parse_staged).select(*parse_out) \
            .persist()
        parsed = cached.filter(et_notnull)
        try:
            # the per-batch counts (run's event total + the per-forward
            # gates) ride the ALERTS job as observe() metrics instead of
            # a groupBy job of their own — one Spark job less per
            # trigger, and the observe node sits above the cache scan
            # the match does anyway
            obs = Observation(f"fvs_counts_{batch_id}")
            alerts_obs = Observation(f"fvs_alerts_{batch_id}")
            t0 = _t.time()
            alerts = _current_matcher()(parsed.observe(obs, *count_exprs))
            batch_rel = f"alerts/batch={batch_id}"
            # repartition, NOT coalesce: coalesce(1) would pull the whole
            # Bloom-match computation into one task (measured 8s/1M); the
            # shuffle here moves only the few alert rows, and the match
            # stays at full parallelism
            alerts.observe(alerts_obs, count_exprs[0]) \
                .repartition(sink_files).write.mode("overwrite") \
                .parquet(os.path.join(output_dir, batch_rel))
            counts = obs.get
            t2 = _t.time()
            if spool:
                from fever_spark.sources.submitter import submit_dataframe
                submit_dataframe(alerts, spool, f"fever.alerts.b{batch_id}")
            t3 = _t.time()
            for i, (name, _types) in enumerate(fw_items):
                if not counts[f"_fw_{i}"]:
                    continue  # nothing routes here this batch: skip the job
                part = (parsed.filter(fw_filters[i])
                        if fw_filters[i] is not None else parsed)
                # forward the RAW line, like the reference's socket
                # forwarders (processing/forward_handler.go) — consumers
                # get the original event JSON, and the daemon never
                # re-serializes the parsed fields. coalesce (not
                # repartition) is right HERE: the upstream is a cheap
                # cached-column filter, and coalescing avoids shuffling
                # the raw lines
                fwd_rel = f"forward/{name}/batch={batch_id}"
                part.select(*json_line_col).coalesce(sink_files) \
                    .write.mode("overwrite") \
                    .text(os.path.join(output_dir, fwd_rel))
                run_files["forwards"] += _n_files(fwd_rel, prefix="part-")
            t4 = _t.time()
            acc.process_batch(parsed, batch_id)
            t5 = _t.time()
            run_batches.append(batch_id)
            run_alerts[0] += int(alerts_obs.get["_total"])
            run_files["alerts"] += _n_files(batch_rel, suffix=".parquet")
            run_events[0] += int(counts["_total"])
            if compact_every and batch_id > 0 \
                    and batch_id % compact_every == 0:
                from fever_spark.jobs.compactor import compact_sink_dir

                compact_sink_dir(alerts_root, "parquet",
                                 keep_last=compact_keep_last,
                                 fanin=compact_fanin)
                for name, _types in fw_items:
                    compact_sink_dir(
                        os.path.join(output_dir, "forward", name), "text",
                        keep_last=compact_keep_last, fanin=compact_fanin)
            t6 = _t.time()
            phases["alerts_write"] += t2 - t0
            phases["spool"] += t3 - t2
            phases["forwards"] += t4 - t3
            phases["stats"] += t5 - t4
            phases["compact"] += t6 - t5
        finally:
            cached.unpersist()

    stream = (spark.readStream
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .text(input_dir))
    writer = (stream.writeStream
              .foreachBatch(_batch)
              .option("checkpointLocation", checkpoint))
    if not available_now:
        # fixed-cadence daemon mode: poll the drop dir every
        # trigger_seconds (fever's continuous loop shape) instead of
        # re-triggering as fast as batches complete
        if trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        q = writer.start()
        # DOCUMENTED contract (see docstring): the accumulator rides on
        # the query handle as `fever_stats_acc` so a continuous-mode
        # caller can read the live stats
        q.fever_stats_acc = acc
        return q
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    # summary of THIS run: batch ids this foreachBatch saw, alert counts
    # observed at write time. A run with ZERO batches (empty drop dir, or
    # everything already checkpointed) never had a sink write create
    # output_dir — make it for the manifest
    out_fs.create_dir(out_root)
    summary = {"input": input_dir, "output": output_dir,
               "batches": len(run_batches), "batch_ids": run_batches,
               "events": run_events[0], "alerts": run_alerts[0],
               "sink_files": dict(run_files),
               "stats_groups": (len(acc.sketches)
                                if stats_state_dir is None else None),
               "phase_seconds": {k: round(v, 3) for k, v in phases.items()},
               "bloom_reloads": (None if bloom_file is None
                                 else bloom_state["reloads"]),
               "spool": spool}
    write_atomic(os.path.join(output_dir, "_run_manifest.json"),
                 json.dumps(summary, indent=1).encode())
    return summary


def main(argv: list[str] | None = None) -> None:
    import argparse

    from fever_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="EVE JSONL drop dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--iocs", help="file with one IOC value per line")
    ap.add_argument("--bloom-file", default=None,
                    help="filter FILE (bloomctl-maintained): hot-reloaded "
                         "per micro-batch when it changes")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--spool", default=None)
    ap.add_argument("--forward", action="append", default=[],
                    help="name=type1,type2 (repeatable; empty types = all)")
    ap.add_argument("--stats-state-dir", default=None)
    ap.add_argument("--sink-files", type=int, default=1,
                    help="files per batch per sink (alerts/forwards)")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="roll up old per-trigger batch dirs once per K "
                         "triggers (0 = off); bounds sink file counts "
                         "for long-running continuous daemons")
    ap.add_argument("--compact-keep-last", type=int, default=16)
    ap.add_argument("--compact-fanin", type=int, default=8)
    ap.add_argument("--max-files-per-trigger", type=int, default=16,
                    help="drop-dir files consumed per micro-batch")
    ap.add_argument("--continuous", action="store_true",
                    help="keep running instead of drain-and-exit")
    ap.add_argument("--trigger-seconds", type=float, default=None,
                    help="continuous mode: poll the drop dir at this fixed "
                         "cadence instead of re-triggering ASAP")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    iocs = None
    if args.iocs:
        with open(args.iocs) as f:
            iocs = [ln.strip() for ln in f if ln.strip()]
    forwards = {}
    for spec in args.forward:
        name, _, types_ = spec.partition("=")
        forwards[name] = [t for t in types_.split(",") if t]
    spark = get_spark(master=args.master, app_name="fever_spark_run")
    out = run_pipeline(spark, args.input, args.output, iocs,
                       checkpoint=args.checkpoint, spool=args.spool,
                       forwards=forwards or None,
                       stats_state_dir=args.stats_state_dir,
                       available_now=not args.continuous,
                       bloom_file=args.bloom_file,
                       sink_files=args.sink_files,
                       trigger_seconds=args.trigger_seconds,
                       compact_every=args.compact_every,
                       compact_keep_last=args.compact_keep_last,
                       compact_fanin=args.compact_fanin,
                       max_files_per_trigger=args.max_files_per_trigger)
    if args.continuous:
        out.awaitTermination()
    else:
        print(json.dumps(out))
        spark.stop()


if __name__ == "__main__":
    main()
