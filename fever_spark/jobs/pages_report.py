"""The north_star query battery as one spark-submit main (SURVEY §7.1.6):

  * HLL distinct url AND host per (lang, day(warc_ts))
  * CMS top-k heavy-hitter hostnames (global)
  * KLL page-size quantiles + t-digest text-length quantiles (global)
  * optional CMS top-k heavy-hitter text tokens (--tokens)
  * cross-lang URL overlap (shared-URL and Jaccard estimates per lang
    pair), merged up from the per-(lang, day) HLL states
  * optional Bloom IOC matching (--iocs): a saved BloomFilter or an IOC
    list, one per line, either of them optionally gzipped

Every sketch group runs through the checkpointed SketchJob (chunk lineage,
atomic manifest, byte-identical resume — rerunning after a kill skips
completed chunks), mirroring fever's long-running collector role
(processing/*_aggregator.go) as restartable batch.

Usage:
  spark-submit --py-files fever_spark.zip -m fever_spark.jobs.pages_report \
      --input /data/pages --checkpoint /ckpt/report [--tokens] \
      [--iocs iocs.txt.gz] [--topk 20]
"""

from __future__ import annotations

import gzip
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fever_spark.ops import (SketchSpec, heavy_hitters_col, hll_estimate_col,
                             kmv_estimate_col, kmv_sample_col, quantile_col,
                             two_level_merge)
from fever_spark.ops.bloom_match import bloom_match_pages, build_ioc_filter
from fever_spark.ops.build import sketches_to_dict
from fever_spark.jobs.sketch_job import SketchJob
from fever_spark.sketch import BloomFilter
from fever_spark.sketch.base import MAGIC
from fever_spark.sketch.hll import intersection_estimate, jaccard_estimate

QUANTILES = [0.5, 0.95, 0.99]


def _prepare_pages(df):
    """Derived columns for the report — all codegen, pruned to what the
    sketches consume."""
    return df.select(
        "url", "lang",
        F.to_date("warc_ts").alias("day"),
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.octet_length("html").cast("double").alias("page_bytes"),
        F.length("text").cast("double").alias("text_len"))


def _prepare_tokens(df):
    return (df.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                        r"\s+")).alias("tok"))
            .filter(F.col("tok") != ""))


def _load_ioc_filter(path: str) -> BloomFilter:
    """The --iocs file, its format read from the content: gzip is unwrapped
    first; a fever envelope is a saved filter and loads as one (a corrupt
    filter raises); anything else is a UTF-8 IOC list, one per line."""
    with open(path, "rb") as f:
        data = f.read()
    if data.startswith(b"\x1f\x8b"):
        data = gzip.decompress(data)
    if data.startswith(MAGIC):
        return BloomFilter.from_bytes(data)
    iocs = [ln.strip() for ln in data.decode("utf-8").splitlines()
            if ln.strip()]
    return build_ioc_filter(iocs, fpp=1e-6)


def build_report(spark: SparkSession, input_path: str, checkpoint_dir: str,
                 with_tokens: bool = False, ioc_file: str | None = None,
                 topk: int = 20, resume: bool = True) -> dict:
    # before any sketch job, so a bad IOC file fails in seconds
    bf = _load_ioc_filter(ioc_file) if ioc_file else None
    report = {"input": input_path}

    per_cell = SketchJob(
        input_path, f"{checkpoint_dir}/per_lang_day",
        keys=["lang", "day"],
        specs=[SketchSpec("distinct_url", "hll", "url", {"p": 14}),
               SketchSpec("distinct_host", "hll", "host", {"p": 14})],
        prepare=_prepare_pages, job_id="per_lang_day").run(
            spark, resume=resume)
    report["per_lang_day"] = [
        {"lang": r["lang"], "day": str(r["day"]), "sketch": r["sketch"],
         "estimate": round(r["est"], 1)}
        for r in per_cell.withColumn("est", hll_estimate_col(F.col("state")))
        .select("lang", "day", "sketch", "est").collect()]

    glob = SketchJob(
        input_path, f"{checkpoint_dir}/global", keys=[],
        specs=[SketchSpec("top_hosts", "cmstopk", "host",
                          {"epsilon": 1e-4, "delta": 1e-3, "track": 4 * topk}),
               SketchSpec("page_bytes_q", "kll", "page_bytes", {"k": 200}),
               SketchSpec("text_len_q", "tdigest", "text_len", {"delta": 200.0}),
               SketchSpec("url_sample", "kmv", "url", {"k": 256})],
        prepare=_prepare_pages, job_id="global").run(spark, resume=resume)
    hosts = (glob.filter(F.col("sketch") == "top_hosts")
             .select(F.explode(heavy_hitters_col(F.col("state"), topk))
                     .alias("h")).collect())
    report["top_hosts"] = [{"host": r["h"]["item"], "est": r["h"]["est"]}
                           for r in hosts]
    for name in ("page_bytes_q", "text_len_q"):
        row = (glob.filter(F.col("sketch") == name)
               .select(quantile_col(F.col("state"), QUANTILES).alias("q"))
               .first())
        report[name] = dict(zip(map(str, QUANTILES),
                                [round(x, 1) for x in row["q"]]))
    # KMV: distinct-url estimate + a deterministic uniform URL sample from
    # the same mergeable state (corpus eyeballing / downstream QA sample)
    kmv_row = (glob.filter(F.col("sketch") == "url_sample")
               .select(kmv_estimate_col(F.col("state")).alias("est"),
                       kmv_sample_col(F.col("state")).alias("s")).first())
    report["distinct_url_kmv"] = round(kmv_row["est"], 1)
    # hash order, NOT lexicographic — sorting then slicing would bias the
    # published sample toward sort-order-early URLs; the stored order is
    # already a uniform draw
    report["url_sample"] = list(kmv_row["s"])[:20]

    # cross-lang URL overlap from the SAME per-cell states (no rescan):
    # lang-level sketches merge up from the day cells (the rollup
    # property — salt=1, states are already per-key partials), then every
    # lang pair gets inclusion-exclusion shared-URL and Jaccard estimates
    # — "how much do these segments share", fever's cross-sensor
    # population comparison as sketch algebra
    lang_states = two_level_merge(
        per_cell.filter(F.col("sketch") == "distinct_url")
        .select("lang", "sketch", "state"), ["lang"], salt=1)
    sk = sketches_to_dict(lang_states, ["lang"])
    langs = sorted(k[0] for k in sk)
    report["lang_url_overlap"] = [
        {"lang_a": a, "lang_b": b,
         "shared_est": round(intersection_estimate(
             sk[(a, "distinct_url")], sk[(b, "distinct_url")]), 1),
         "jaccard": round(jaccard_estimate(
             sk[(a, "distinct_url")], sk[(b, "distinct_url")]), 4)}
        for i, a in enumerate(langs) for b in langs[i + 1:]]

    if with_tokens:
        toks = SketchJob(
            input_path, f"{checkpoint_dir}/tokens", keys=[],
            specs=[SketchSpec("top_tokens", "cmstopk", "tok",
                              {"epsilon": 1e-4, "delta": 1e-3,
                               "track": 4 * topk})],
            prepare=_prepare_tokens, job_id="tokens").run(spark, resume=resume)
        report["top_tokens"] = [
            {"token": r["h"]["item"], "est": r["h"]["est"]}
            for r in toks.select(
                F.explode(heavy_hitters_col(F.col("state"), topk))
                .alias("h")).collect()]

    if bf is not None:
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_pages(spark.read.parquet(input_path), bc)
        report["ioc_matches"] = {
            r["match_type"]: r["n"] for r in
            alerts.groupBy("match_type").agg(F.count(F.lit(1)).alias("n"))
            .collect()}

    return report


def main(argv: list[str] | None = None) -> None:
    import argparse

    from fever_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--tokens", action="store_true")
    ap.add_argument("--iocs", default=None)
    ap.add_argument("--topk", type=int, default=20)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="fever_spark_pages_report")
    report = build_report(spark, args.input, args.checkpoint,
                          with_tokens=args.tokens, ioc_file=args.iocs,
                          topk=args.topk, resume=not args.no_resume)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
