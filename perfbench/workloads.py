"""The benchmark's workloads. Each calls one public entry point of
fever_spark per iteration, checks the output against the exact reference,
and in a traced run also times the layers below that entry point with
decomposed calls into their public functions (noop or checkpoint sinks).

An iteration returns ``(summary, failures)``: a few numbers the run
reports, and the correctness failures (empty when the output is right).
"""

from __future__ import annotations

import glob
import os
from contextlib import nullcontext

import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
import tracing

SHARD_BUDGET = 20_000      # tokens per training shard
NEAR_DUP_THRESHOLD = 0.7   # curate()'s default
LSH_BANDS, LSH_HASHES = 32, 128
# planted near-dups that may survive beside their base page: curate's
# MinHash scored 6 of 180,000 under the threshold over 600 seeds (never
# more than one per seed), so 1% is far above chance and far below a
# broken near-dup stage
NEAR_DUP_MISS_SHARE = 0.01


def _span(tracer: tracing.Tracer | None, name: str):
    """The tracer's span, or nothing in an untraced iteration."""
    return tracer.span(name) if tracer is not None else nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def arrow_floor(df) -> None:
    """An identity mapInPandas over ``df``: the cost of the Arrow round
    trip to Python workers with no work inside them."""
    _noop(df.mapInPandas(_identity, schema=df.schema))


class CrawlCurate:
    """WARC archives → pages table → curate → training shards."""

    name = "crawl_curate"

    def __init__(self, input_dir: str, ref: dict):
        self.d, self.ref = input_dir, ref
        self.rows = ref["records"]
        texts = pd.read_parquet(os.path.join(input_dir, "texts.parquet"))
        self.texts = dict(zip(texts["url"], texts["text"]))
        self.family = dict(zip(texts["url"], texts["family"]))
        self.max_missed = int(NEAR_DUP_MISS_SHARE * ref["neardups"])

    def iterate(self, spark, out: str, tracer: tracing.Tracer | None = None):
        from fever_spark.jobs.curate import curate
        from fever_spark.jobs.shard_writer import write_training_shards
        from fever_spark.sources.warc import read_warc, warc_to_pages

        pages_dir = os.path.join(out, "pages")
        with _span(tracer, "sources.warc"):
            pages = warc_to_pages(read_warc(
                spark, os.path.join(self.d, "warc")))
            pages.select(F.xxhash64("url").alias("doc_id"), "url", "text") \
                .write.parquet(pages_dir)
        with _span(tracer, "jobs.curate"):
            manifest = curate(spark, pages_dir, os.path.join(out, "curated"),
                              min_quality=0.0)
        with _span(tracer, "jobs.shard_writer"):
            shards = write_training_shards(
                spark, os.path.join(out, "curated"),
                os.path.join(out, "shards"), budget=SHARD_BUDGET)

        extracted = pq.read_table(pages_dir, columns=["url", "text"])
        kept = pq.read_table(os.path.join(out, "curated"),
                             columns=["url"])["url"].to_pylist()
        shard_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in
                         glob.glob(os.path.join(out, "shards", "*", "*.parquet")))
        failures = (checks.texts_identical(
            dict(zip(extracted["url"].to_pylist(),
                     extracted["text"].to_pylist())), self.texts)
            + checks.curated_counts(
                manifest, shards, shard_rows, len(kept),
                self.ref["base"] + self.ref["neardups"])
            + checks.one_per_family(kept, self.family, self.ref["base"],
                                    self.max_missed))
        return {"manifest": manifest, "shards": shards}, failures

    def triggers(self, summary: dict, wall: float) -> list[float]:
        """One batch delivers the whole corpus: its latency is the wall."""
        return [wall]

    def traced_metrics(self, tracer: tracing.Tracer, summary: dict) -> dict:
        stages = summary["manifest"]["stage_seconds"]
        tracing.place_sequential(tracer, "jobs.curate", {
            f"jobs.curate.{k}": v for k, v in stages.items()})
        out = {f"jobs.curate.{k}_s": stages.get(k, 0.0) for k in
               ("quality_filter", "exact_dedup", "near_dup",
                "sample_and_write")}
        out["jobs.shard_writer_s"] = tracer.get("jobs.shard_writer").duration
        out["sources.warc.parse_s"] = tracer.get("sources.warc").duration
        out["trace.jobs_self_s"] = tracing.self_time(tracer.spans, "jobs.curate")
        return out

    def layers(self, spark, tracer: tracing.Tracer, out: str):
        """operators.dedup, decomposed over the pages the traced iteration
        wrote (planted duplicates included)."""
        from fever_spark.operators.dedup import (lsh_candidate_pairs,
                                                 minhash_signatures,
                                                 near_dup_clusters)

        docs = spark.read.parquet(os.path.join(out, "pages"))
        m = {}
        with tracer.span("ops.arrow_floor"):
            arrow_floor(docs.select("doc_id", "text"))
        with tracer.span("operators.dedup.signatures"):
            sigs = minhash_signatures(docs, "text", "doc_id",
                                      num_hashes=LSH_HASHES) \
                .localCheckpoint(eager=True)
        with tracer.span("operators.dedup.lsh_pairs"):
            pairs = lsh_candidate_pairs(sigs, "doc_id", LSH_BANDS,
                                        num_hashes=LSH_HASHES) \
                .localCheckpoint(eager=True)
        near = pairs.filter(F.col("est_jaccard") >= NEAR_DUP_THRESHOLD)
        with tracer.span("operators.dedup.clusters"):
            n_clustered = near_dup_clusters(near.select("id_a", "id_b")).count()
        n_cand, n_near = pairs.count(), near.count()
        rows = LSH_HASHES // LSH_BANDS
        bucket = (sigs.select(F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
            lambda b: F.slice("minhash", b * rows + 1, rows)))
            .alias("band", "key"))
            .groupBy("band", "key").count().agg(F.max("count")).first()[0])
        for name in ("signatures", "lsh_pairs", "clusters"):
            m[f"operators.dedup.{name}_s"] = tracer.get(
                f"operators.dedup.{name}").duration
        m["operators.dedup.candidate_pairs"] = n_cand
        m["operators.dedup.pair_yield"] = n_near / n_cand if n_cand else 0.0
        m["operators.dedup.max_bucket"] = bucket
        m["ops.arrow_floor_s"] = tracer.get("ops.arrow_floor").duration
        # every planted re-crawl and near-dup, but the few near-dups
        # MinHash may miss, joins a cluster with its base
        failures = []
        found = self.ref["recrawls"] + self.ref["neardups"] - self.max_missed
        if n_clustered < 2 * found:
            failures.append(f"dedup: {n_clustered} docs clustered, planted "
                            f"pairs cover at least {2 * found}")
        return m, failures


class EveDaemon:
    """EVE JSON-lines drop dir drained by run_pipeline in micro-batches."""

    name = "eve_daemon"
    forwards = {"dns": ["dns"]}

    def __init__(self, input_dir: str, ref: dict):
        self.d, self.ref = input_dir, ref
        self.rows = ref["events"]

    def iterate(self, spark, out: str, tracer: tracing.Tracer | None = None):
        from fever_spark.jobs.run_pipeline import run_pipeline

        with _span(tracer, "jobs.run_pipeline"), \
                tracing.TriggerWatcher(spark) as tw:
            summary = run_pipeline(
                spark, os.path.join(self.d, "drop"), os.path.join(out, "o"),
                iocs=inputs.EVE_IOCS, checkpoint=os.path.join(out, "ck"),
                max_files_per_trigger=inputs.EVE_FILES_PER_TRIGGER,
                forwards=self.forwards)
        summary["triggers"] = tw.triggers()
        alerts = pads.dataset(os.path.join(out, "o", "alerts"),
                              format="parquet", partitioning="hive") \
            .to_table(columns=["match_type"])
        found = pd.Series(alerts["match_type"].to_pylist()).value_counts()
        failures = (checks.all_events(summary, self.rows)
                    + checks.all_triggers(summary)
                    + checks.no_false_negatives(
                        found.to_dict(), self.ref["ioc_matches"],
                        "eve bloom"))
        return summary, failures

    def triggers(self, summary: dict, wall: float) -> list[float]:
        return [t["ms"]["triggerExecution"] / 1e3
                for t in summary["triggers"]]

    def traced_metrics(self, tracer: tracing.Tracer, summary: dict) -> dict:
        tracing.trigger_spans(tracer, summary["triggers"], "jobs.run_pipeline")
        ms = [t["ms"] for t in summary["triggers"]]
        phases = summary["phase_seconds"]
        out = {f"jobs.run_pipeline.{k}_s": phases[k] for k in
               ("alerts_write", "forwards", "stats", "stats_flush")}
        out["streaming.triggers"] = len(ms)
        out["streaming.add_batch_s"] = sum(m.get("addBatch", 0)
                                           for m in ms) / 1e3
        out["streaming.trigger_overhead_s"] = sum(
            m["triggerExecution"] - m.get("addBatch", 0) for m in ms) / 1e3
        out["trace.jobs_self_s"] = tracing.self_time(tracer.spans,
                                                   "jobs.run_pipeline")
        return out

    def layers(self, spark, tracer: tracing.Tracer, out: str):
        """sources.eve and ops, decomposed over the whole drop dir: parse,
        Bloom match, sketch build, two-level merge, estimates."""
        from fever_spark.jobs.run_pipeline import default_stats_specs
        from fever_spark.ops import (build_sketches, cms_estimate_col,
                                     hll_estimate_col, two_level_merge)
        from fever_spark.ops.bloom_match import (bloom_match_events,
                                                 build_ioc_filter)
        from fever_spark.sources.eve import parse_eve

        specs = default_stats_specs()
        hll = next(s for s in specs if s.kind == "hll")
        cms = next(s for s in specs if s.kind == "cms")
        cols = ["event_type", "ts", "dns_type", "http_host", "http_url",
                "dns_rrname", "tls_sni", "tls_fingerprint", "src_ip"]
        m, failures = {}, []
        with tracer.span("sources.eve.parse"):
            events = parse_eve(spark.read.text(os.path.join(self.d, "drop")),
                               columns=cols) \
                .filter(F.col("event_type").isNotNull()) \
                .localCheckpoint(eager=True)
        with tracer.span("ops.arrow_floor"):
            arrow_floor(events.select(*cols[2:8]))
        bc = spark.sparkContext.broadcast(
            build_ioc_filter(inputs.EVE_IOCS, fpp=1e-7).to_bytes())
        with tracer.span("ops.bloom_match_events"):
            found = {r["match_type"]: r["count"] for r in
                     bloom_match_events(events, bc).groupBy("match_type")
                     .count().collect()}
        with tracer.span("ops.build"):
            built = build_sketches(events, ["event_type"], specs) \
                .localCheckpoint(eager=True)
        with tracer.span("ops.merge"):
            merged = two_level_merge(built, ["event_type"]) \
                .localCheckpoint(eager=True)
        hosts = list(self.ref["http_host_counts"])
        with tracer.span("ops.estimate"):
            est_hll = {r["event_type"]: r["e"] for r in merged
                       .filter(F.col("sketch") == hll.name)
                       .select("event_type",
                               hll_estimate_col(F.col("state")).alias("e"))
                       .collect()}
            est_cms = {r["h"]: r["e"] for r in merged
                       .filter((F.col("sketch") == cms.name)
                               & (F.col("event_type") == "http"))
                       .select(F.explode(F.array(*map(F.lit, hosts)))
                               .alias("h"), "state")
                       .select("h", cms_estimate_col(F.col("state"),
                                                     F.col("h")).alias("e"))
                       .collect()}
        partial_bytes = built.select(F.sum(F.octet_length("state"))).first()[0]
        for name in ("sources.eve.parse", "ops.arrow_floor",
                     "ops.bloom_match_events", "ops.build", "ops.merge",
                     "ops.estimate"):
            m[name + "_s"] = tracer.get(name).duration
        m["ops.build.partials"] = built.count()
        m["ops.build.partial_mb"] = (partial_bytes or 0) / 1e6
        m["ops.bloom_match.alerts"] = sum(found.values())
        m["ops.bloom_match.false_pos"] = (sum(found.values())
                                          - sum(self.ref["ioc_matches"]
                                                .values()))
        failures += checks.no_false_negatives(found, self.ref["ioc_matches"],
                                              "eve bloom (ops)")
        failures += checks.hll_within_bound(
            est_hll, self.ref["distinct_src_ip"], hll.params["p"])
        failures += checks.cms_within_bound(
            est_cms, self.ref["http_host_counts"], cms.params["epsilon"],
            cms.params["delta"])
        return m, failures


WORKLOADS = {w.name: w for w in (CrawlCurate, EveDaemon)}
