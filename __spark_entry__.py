"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship sketch pipeline on sf0.001.
``queries()``    — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted only for
                   genuinely non-SQL-expressible ops, noted inline).

Column-name + value parity rules: every computed column is aliased
identically on both sides; doubles are rounded; sketch-estimate queries
output *bound-check flags* (Spark computes |est − exact| against the
published bound internally; the oracle asserts the flag is 1), so the
correctness gate genuinely fails if a sketch drifts out of bounds.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fever_spark.functions import text as TXT
from fever_spark.operators import aggregators as AGG
from fever_spark.operators import ann, dedup
from fever_spark.operators import filters as FLT
from fever_spark.ops import (
    SketchSpec, build_sketches, two_level_merge,
    hll_estimate_col, cms_estimate_col, quantile_col,
)
from fever_spark.ops.bloom_match import bloom_match_events, build_ioc_filter
from fever_spark.ops.estimate import bloom_contains_col
from fever_spark.sketch import BloomFilter, CountMinSketch, HyperLogLog
from fever_spark.sources.synth import synth_events


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-language HLL distinct urls + CMS heavy hitters + KLL
    length quantiles over documents (the pages stand-in), one pipeline —
    build → two-level salted merge → estimate."""
    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    specs = [
        SketchSpec("distinct_docs", "hll", "doc_id", {"p": 12}),
        SketchSpec("len_quantiles", "kll", "n_chars", {"k": 200}),
    ]
    merged = two_level_merge(build_sketches(docs, ["lang"], specs), ["lang"])
    hll = (merged.filter(F.col("sketch") == "distinct_docs")
           .select("lang", F.round(hll_estimate_col(F.col("state")), 1)
                   .alias("est_distinct_docs")))
    kll = (merged.filter(F.col("sketch") == "len_quantiles")
           .select("lang", quantile_col(F.col("state"), [0.5]).alias("q"))
           .select("lang", F.col("q")[0].alias("median_chars")))
    return hll.join(kll, "lang").orderBy("lang")


# --------------------------------------------------------------------------
# exact operator-parity queries (fever aggregators / filters / joins)


def q_event_profile(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return AGG.event_profile(ev, payload_col="props")


def q_grouped_sums(spark, sf_dir):
    # A1 FlowAggregator conservation analog on lineitem
    li = _read(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_rows")))


def q_distinct_exact(spark, sf_dir):
    # A2 dedup-set cardinality (exact counterpart of the HLL query)
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"))


def q_top_k(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return AGG.top_k(ev, ["user_id"], 10)


def q_windowed_counts(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"), "event_type", "n"))


def q_proxy_port_filter(spark, sf_dir):
    # P6 proxy-port predicate, keyed output
    ev = _read(spark, sf_dir, "events")
    ports = (F.col("user_id") % 10000 + 70).cast("int")
    return (ev.withColumn("dest_port", ports)
            .filter(FLT.proxy_port_predicate(F.col("dest_port")))
            .groupBy("dest_port").agg(F.count(F.lit(1)).alias("n")))


def q_cidr_match(spark, sf_dir):
    # J3 CIDR containment join on derived IPv4 addresses
    ev = _read(spark, sf_dir, "events").limit(2000)
    ip = F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"),
                  F.lit("."), (F.col("event_id") % 256).cast("string"))
    ranges = FLT.cidr_ranges_df(spark, ["10.0.1.0/24", "10.0.2.0/23"])
    matched = FLT.cidr_match(ev.withColumn("src_ip", ip), ranges, "src_ip")
    return matched.groupBy("network").agg(F.count(F.lit(1)).alias("n"))


def q_join_agg(spark, sf_dir):
    # broadcast equi-join + aggregate. Round-5 fold (50-entry cap):
    # 'band_*' rows gate operators/joins.range_join — orders priced into
    # ten overlapping 60k-wide bands via the bucketed-equi-join rewrite,
    # checked against a DuckDB BETWEEN join; max-min/count per band are
    # exact (no float-accumulation round risk).
    from fever_spark.operators.joins import range_join

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    base = (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("total"),
                 F.count(F.lit(1)).alias("n_orders")))
    bands = spark.range(10).select(
        F.col("id").alias("band"),
        (F.col("id") * 30000.0).alias("start"),
        (F.col("id") * 30000.0 + 60000.0).alias("end"))
    hits = range_join(orders.select(F.col("o_totalprice").alias("x")),
                      bands, "x", bucket_width=30000.0)
    band_rows = (hits.groupBy("band")
                 .agg(F.round(F.max("x") - F.min("x"), 2).alias("total"),
                      F.count(F.lit(1)).alias("n_orders"))
                 .select(F.concat(F.lit("band_"),
                                  F.col("band").cast("string"))
                         .alias("c_mktsegment"),
                         "total", "n_orders"))
    return base.unionByName(band_rows)


def q_window_rank(spark, sf_dir):
    # ranking window function (SURVEY.md §2.6)
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "rn"))


def q_flow_context_batch(spark, sf_dir):
    # J4 flow-context correlation, batch form, on driver events:
    # user sessions containing both an 'error' (alert analog) and a
    # 'purchase' (terminal analog). Round-5 fold (50-entry cap): 'asof'
    # rows gate operators/joins.asof_join — every purchase as-of joined
    # to the user's most recent error, per-user summed gap seconds vs
    # DuckDB's NATIVE ASOF JOIN; run through the hot-key pre-split path
    # (coarse_bucket_seconds) so both _asof_bucketed and _asof_core get
    # a driver row.
    from fever_spark.operators.joins import asof_join

    ev = _read(spark, sf_dir, "events")
    flow = (ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max((F.col("event_type") == "error").cast("int")).alias("marked"),
                 F.max((F.col("event_type") == "purchase").cast("int")).alias("complete"))
            .filter((F.col("marked") == 1) & (F.col("complete") == 1))
            .select(F.lit("flow").alias("kind"), "user_id",
                    F.col("n_events").cast("double").alias("val")))
    purch = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts")
    errs = ev.filter(F.col("event_type") == "error") \
        .select("user_id", "ts")
    j = asof_join(purch, errs, on="user_id",
                  coarse_bucket_seconds=86400.0)
    asof = (j.filter(F.col("ts_right").isNotNull())
            .groupBy("user_id")
            .agg(F.round(F.sum(
                F.col("ts").cast("timestamp").cast("double")
                - F.col("ts_right").cast("timestamp").cast("double")),
                2).alias("val"))
            .select(F.lit("asof").alias("kind"), "user_id", "val"))
    return flow.unionByName(asof)


def q_rollup(spark, sf_dir):
    # grouping-set aggregation (SURVEY.md §2.6 — free in Spark, absent in
    # the reference)
    li = _read(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


def q_semi_anti_join(spark, sf_dir):
    # J1 semi-join + J2 blacklist anti-join in ONE gate (folded to stay
    # under the driver's 50-entry cap; both exact forms, bloom is their
    # approximation). 'semi' rows: orders of BUILDING customers; 'anti'
    # rows: customers holding no >300k order — a PARTIAL set at every SF
    # (the unfiltered form was a vacuous 0-row gate, caught in round 3).
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING")
    semi = (orders.join(building, orders.o_custkey == building.c_custkey,
                        "left_semi")
            .select(F.lit("semi").alias("kind"),
                    F.col("o_orderkey").alias("key")))
    big = orders.filter(F.col("o_totalprice") > 300000)
    anti = (cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
            .select(F.lit("anti").alias("kind"),
                    F.col("c_custkey").alias("key")))
    return semi.unionByName(anti)


def q_incremental_dedup(spark, sf_dir):
    """Incremental-ingestion dedup gate: a planted new batch (re-crawled
    duplicates of every 5th doc, fresh synthetic docs for every 3rd id,
    plus within-batch copies for every 9th) is screened against the
    corpus's broadcast fingerprint Bloom and exact-verified. The oracle
    is the SEMANTIC spec computed independently by DuckDB — first doc per
    normalized content within the batch, anti-joined against the
    corpus's normalized contents — so a Bloom screen leak (false
    negative) or an unverified false-positive drop breaks the row hash."""
    from fever_spark.functions.text import fingerprint
    from fever_spark.operators.dedup import (corpus_fingerprint_bloom,
                                             incremental_exact_dedup)

    old = _read(spark, sf_dir, "documents")
    new = (old.filter(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
           .unionByName(
               old.filter(F.col("doc_id") % 3 == 0).select(
                   (F.col("doc_id") + 200000).alias("doc_id"),
                   F.concat(F.lit("fresh crawl page "),
                            F.col("doc_id").cast("string")).alias("text")))
           .unionByName(
               old.filter(F.col("doc_id") % 9 == 0).select(
                   (F.col("doc_id") + 300000).alias("doc_id"),
                   F.concat(F.lit("fresh crawl page "),
                            F.col("doc_id").cast("string")).alias("text"))))
    bc = spark.sparkContext.broadcast(
        corpus_fingerprint_bloom(old, fpp=1e-6))
    exact = old.select(fingerprint(F.col("text")).alias("_fp"))
    return incremental_exact_dedup(new, bc, exact_check=exact) \
        .select("doc_id")


def q_pivot(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .pivot("event_type", ["click", "view", "purchase"])
            .agg(F.round(F.sum("value"), 2)))


def q_session_window(spark, sf_dir):
    # session windows (fever's flow-context TTL grouping, SURVEY.md §2.6);
    # gap = 10 min
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window("ts", "10 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user_id", F.col("session_window.start")
                    .alias("session_start"), "n"))


def q_json_extract(spark, sf_dir):
    # S4 JSON path projection (util/util.go:28-55 analog on driver data)
    ev = _read(spark, sf_dir, "events")
    return ev.select("event_id",
                     F.get_json_object("props", "$.k").cast("long").alias("k"))


def q_eve_pipeline(spark, sf_dir):
    """Full EVE path over the committed JSON-lines fixture (which DuckDB
    reads too, via read_json_auto): raw lines → parse_eve (26-path
    projection, Suricata ts parse) → trigram search strings → per-type
    counts. The oracle re-derives searchability from the nested JSON.

    Round-6 fold (50-entry cap): the COMPOSED daemon (jobs/run_pipeline.py,
    fever's main loop as one streaming job) and the S12 submitter spool
    (sources/submitter.py; reference util/submitter.go:7-12 contract) get
    independent driver coverage on this row. ``pipeline_n`` is the
    per-type event count read back from the forward sink of an ACTUAL
    drained run over the same fixture — the oracle computes count(*), so
    any drop or duplicate anywhere in stream → parse → forward breaks the
    hash. ``spool_ok`` gates the submitter digest: a checkpoint-replay
    run must leave the spool's content-hash name set byte-identical,
    spool payload rows must equal the alert rows the run wrote, and every
    envelope must carry the sensor_id/compressed headers.

    Round-8 fold: the run is now MULTI-BATCH (4 drop files, one per
    trigger) with sink COMPACTION on (jobs/compactor.py, compact_every=2,
    keep_last=1): batch dirs roll into range dirs mid-run, and both
    read-backs — alerts parquet count (compact_ok, inside spool_ok) and
    the per-type forward counts the oracle hashes (pipeline_n) — run
    over the compacted roots, so a row lost or duplicated by compaction
    breaks the gate."""
    import json as _json
    import shutil
    import tempfile

    from fever_spark.jobs.run_pipeline import run_pipeline
    from fever_spark.sources.eve import parse_eve, trigram_search_string
    from fever_spark.sources.fixtures import eve_jsonl
    from fever_spark.sources.submitter import consume_spool

    base = tempfile.mkdtemp(prefix="fever_gate_eve_")
    try:
        drop = os.path.join(base, "drop")
        os.makedirs(drop)
        # round-8 fold: split the fixture across 4 drop files consumed one
        # per trigger, so the SAME gated run exercises multi-batch
        # compaction (jobs/compactor.py): batch dirs roll into range dirs
        # at compact_every=2, and the read-backs below run over the
        # COMPACTED roots — any lost/duplicated row breaks the oracle hash
        with open(eve_jsonl()) as f:
            fixture_lines = [ln for ln in f if ln.strip()]
        for part in range(4):
            with open(os.path.join(drop, f"events{part}.jsonl"), "w") as f:
                f.writelines(fixture_lines[part::4])
        out = os.path.join(base, "out")
        spool = os.path.join(base, "spool")
        kw = dict(iocs=["host3", "name7", "sni5"],
                  checkpoint=os.path.join(base, "ckpt"), spool=spool,
                  forwards={"all": []},
                  # daemon knobs ride the SAME gated run: the parquet
                  # stats state table and single-file sinks
                  stats_state_dir=os.path.join(base, "stats"),
                  max_files_per_trigger=1,
                  compact_every=2, compact_keep_last=1, compact_fanin=2)
        s1 = run_pipeline(spark, drop, out, **kw)
        names1 = sorted(os.listdir(spool))
        s2 = run_pipeline(spark, drop, out, **kw)  # replay: nothing new
        msgs = consume_spool(spool, ack=False)
        spool_rows = sum(len(_json.loads(m["payload"])) for m in msgs)
        # stats gate: the per-trigger stats must land the per-type
        # HLL/CMS state table
        stat_kinds = {(r["event_type"], r["sketch"]) for r in
                      spark.read.parquet(
                          os.path.join(base, "stats", "batch=*")).collect()}
        stats_ok = (("http", "src_ips") in stat_kinds
                    and ("http", "http_hosts") in stat_kinds)
        # compaction gate: rolls exist, live dirs bounded, and the alert
        # row count read over the COMPACTED root equals what the run wrote
        import glob as _glob

        aroot = os.path.join(out, "alerts")
        a_entries = [os.path.basename(d)
                     for d in _glob.glob(os.path.join(aroot, "batch=*"))]
        compact_ok = (any("-" in e for e in a_entries)
                      and sum("-" not in e for e in a_entries) <= 2
                      and spark.read.parquet(aroot).count() == s1["alerts"])
        ok = (s1["batches"] == 4 and s2["batches"] == 0
              and sorted(os.listdir(spool)) == names1 and len(names1) > 0
              and spool_rows == s1["alerts"] and s1["alerts"] > 0
              and s1["sink_files"].get("alerts") == 4  # 1 file/batch/sink
              and compact_ok
              and stats_ok
              and all(m["headers"].get("sensor_id")
                      and m["headers"].get("compressed") == "false"
                      for m in msgs))
        # materialize the forward read-back NOW (<= 4 rows) so the
        # tmpdir can be removed before the lazy result is collected
        fw_rows = (spark.read.json(
            os.path.join(out, "forward", "all", "batch=*"))
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("pipeline_n"))
            .collect())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    pipe = spark.createDataFrame(
        [(r["event_type"], r["pipeline_n"]) for r in fw_rows],
        "event_type string, pipeline_n long")

    lines = spark.read.text(eve_jsonl())
    parsed = parse_eve(lines)
    return (parsed.withColumn("search", trigram_search_string(parsed))
            .groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("search") != "", 1)).alias("n_searchable"))
            .join(pipe, "event_type", "left")
            .select("event_type", "n", "n_searchable",
                    F.coalesce("pipeline_n", F.lit(0)).alias("pipeline_n"),
                    F.lit(1 if ok else 0).alias("spool_ok")))


# --------------------------------------------------------------------------
# sketch bound-check queries (estimate vs exact, flag must be 1)


def q_pdns_answers(spark, sf_dir):
    """A3 pDNS v2: explode the EVE answers array, count per reply-detail
    tuple (pdns_collector.go:173-223). Oracle = DuckDB unnest over the same
    committed JSON-lines fixture."""
    from fever_spark.operators.aggregators import pdns_aggregate_v2
    from fever_spark.sources.eve import parse_eve
    from fever_spark.sources.fixtures import eve_jsonl

    parsed = parse_eve(spark.read.text(eve_jsonl()))
    return (pdns_aggregate_v2(parsed)
            .select("dns_rrname", "answering_host", "rrtype", "rdata",
                    "dns_rcode", "count"))


def q_cms_heavy_hitters(spark, sf_dir):
    """CMS top-k report (SURVEY §2.6 "CMS estimate + exact top-k verify";
    reference role: unicorn_aggregator.go:95-140 top talkers). The sketch's
    candidate set must contain every true top-10 user — the final projection
    joins candidates to exact counts, so a candidate-tracking miss makes the
    oracle's exact top-10 unmatchable. Estimate-side error is gated
    separately (q_cms_bound, test_cms_topk)."""
    from fever_spark.ops import heavy_hitters_col

    ev = _read(spark, sf_dir, "events")
    merged = two_level_merge(
        build_sketches(ev, [], [SketchSpec(
            "hh", "cmstopk", "user_id",
            {"epsilon": 1e-4, "delta": 1e-3, "track": 512})]), [])
    cand = (merged
            .select(F.explode(heavy_hitters_col(F.col("state"), 512)).alias("h"))
            .select(F.col("h.item").cast(ev.schema["user_id"].dataType)
                    .alias("user_id")))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return (cand.join(exact, "user_id")
            .orderBy(F.desc("n"), "user_id").limit(10))


def q_text_extraction(spark, sf_dir):
    """north_rule per-row invariant: "extraction preserves byte-identical
    text per url". Spark re-extracts text from the html BYTES of the
    committed pages fixture and emits (url, md5 of the extraction); DuckDB
    reads the stored text column directly. Any byte drift in any row makes
    that url's digest differ → hash mismatch.

    Round-5 fold (50-entry cap): ``boiler_ok`` gates the Boilerpipe-class
    content extractor (sources/boilerplate.py, the warc_to_pages default).
    Each page's text is wrapped in deterministic nav/footer chrome
    (link-dense blocks + a marker token inside an anchor); the extractor
    must return EXACTLY the whitespace-collapsed text (the one content
    block) with the chrome gone. Pages whose collapsed text is shorter
    than 100 chars sit below the extractor's content-block threshold and
    pass vacuously (the oracle emits 1 for every row either way)."""
    from fever_spark.sources.fixtures import pages_parquet

    @F.pandas_udf(T.StringType())
    def _boiler(html: pd.Series) -> pd.Series:
        from fever_spark.sources.boilerplate import extract_main_text
        return html.map(extract_main_text)

    chrome_head = ('<html><head><title>x</title></head><body>'
                   '<div><a href="/a">Home</a> <a href="/b">About</a> '
                   '<a href="/c">Contact</a></div><p>')
    chrome_tail = ('</p><div><a href="/p">Privacy CHROMEMARKER</a> '
                   '<a href="/t">Terms</a></div></body></html>')
    pages = spark.read.parquet(pages_parquet())
    collapsed = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    extracted = _boiler(F.encode(
        F.concat(F.lit(chrome_head), F.col("text"), F.lit(chrome_tail)),
        "UTF-8"))
    return pages.select(
        "url", F.md5(F.encode(TXT.extract_text(F.col("html")), "UTF-8"))
        .alias("text_md5"),
        F.when(F.length(collapsed) < 100, F.lit(1)).otherwise(
            ((extracted == collapsed)
             & ~extracted.contains("CHROMEMARKER")).cast("int"))
        .alias("boiler_ok"))


def q_token_heavy_hitters(spark, sf_dir):
    """north_star: 'count-min sketch for heavy-hitter ... text tokens' —
    explode the token stream (pipelined into the scan, no extra shuffle),
    cmstopk build+merge, then candidates joined to exact counts: top-20
    must equal the exact top-20 (candidate-tracking recall gate; point
    estimates gated by q_cms_bound/test_cms_topk)."""
    from fever_spark.ops import heavy_hitters_col

    from fever_spark.operators.dedup import _few_input_partitions

    docs = _read(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                          r"\s+")).alias("tok"))
            .filter(F.col("tok") != ""))
    if _few_input_partitions(docs):
        # single-file test inputs arrive as ONE partition and would build
        # the CMS single-threaded; at scale the scan split makes this a no-op
        toks = toks.repartition(spark.sparkContext.defaultParallelism)
    merged = two_level_merge(
        build_sketches(toks, [], [SketchSpec(
            "t", "cmstopk", "tok",
            {"epsilon": 1e-4, "delta": 1e-3, "track": 1024})]), [])
    cand = (merged
            .select(F.explode(heavy_hitters_col(F.col("state"), 1024)).alias("h"))
            .select(F.col("h.item").alias("tok")))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return (cand.join(exact, "tok")
            .orderBy(F.desc("n"), "tok").limit(20))


def q_hll_bound(spark, sf_dir):
    """HLL bound gate + (round-7 fold) the sketchctl control plane:
    a checkpointed SketchJob runs over the same events table, then
    jobs/sketchctl.py — a pure driver-side CLI, no Spark — reads the
    state back from disk (show + estimate verbs through main()) and its
    per-type estimates must EQUAL the in-Spark hll_estimate_col values
    exactly (same registers, same kernel). Any byte-format or
    merge-algebra drift between the Spark path and the file contract
    flips ctl_ok to 0 on every row."""
    ev = _read(spark, sf_dir, "events")
    merged = two_level_merge(
        build_sketches(ev, ["event_type"],
                       [SketchSpec("u", "hll", "user_id", {"p": 14})]),
        ["event_type"])
    est = merged.withColumn("est", hll_estimate_col(F.col("state")))
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("x"))
    bound = 4 * HyperLogLog(p=14).relative_error

    import io as _io
    import json as _json
    import tempfile as _tf
    from contextlib import redirect_stdout

    from fever_spark.jobs.sketch_job import run_sketch_job
    from fever_spark.jobs.sketchctl import main as _sketchctl

    spark_est = {r["event_type"]: r["est"] for r in
                 est.select("event_type", "est").collect()}
    n_rows = ev.count()
    with _tf.TemporaryDirectory(prefix="fever_gate_sketchctl_") as td:
        run_sketch_job(spark, os.path.join(sf_dir, "events.parquet"), td,
                       ["event_type"],
                       [SketchSpec("u", "hll", "user_id", {"p": 14})])
        buf = _io.StringIO()
        with redirect_stdout(buf):
            rc1 = _sketchctl(["show", td])
            rc2 = _sketchctl(["estimate", td, "--sketch", "u"])
        lines = [_json.loads(ln) for ln in buf.getvalue().splitlines() if ln]
        show, ests = lines[0], lines[1:]
        cli_est = {r["event_type"]: r["estimate"] for r in ests}
        ctl_ok = int(
            rc1 == rc2 == 0
            and show["completed"] and show["rows"] == n_rows
            and set(cli_est) == set(spark_est)
            # the CLI prints round(estimate, 2): identical floats round
            # identically, so equality is exact after the same rounding
            and all(cli_est[k] == round(spark_est[k], 2)
                    for k in spark_est))

    return (est.join(exact, "event_type")
            .select("event_type",
                    (F.abs(F.col("est") - F.col("x")) / F.col("x") <= bound)
                    .cast("int").alias("within_bound"),
                    F.lit(ctl_ok).alias("ctl_ok")))


def q_kmv_distinct(spark, sf_dir):
    """KMV / bottom-k sketch gate, three properties in one result:
    (a) n_distinct — Spark's exact countDistinct, hash-matched against
        DuckDB (value parity, not a flag);
    (b) kmv_ok — regime-aware sketch check: when the true cardinality is
        below k=256 the KMV estimate must EQUAL n_distinct exactly (the
        sketch IS exact there); above k it must land within 4/sqrt(k-2)
        (so the gate holds at any sf, not just where cardinality < k);
    (c) within_bound — a k=64 sketch, always in whichever regime applies;
    (d) sample_is_subset — the deterministic bottom-k sample contains only
        genuine user_ids of its group;
    (e) overlap_ok (round-6 fold: KMV SET OPERATIONS) — every type's
        k=256 state is compared against the lexicographically-first
        type's state: the Jaccard estimate (fraction of the union's
        bottom-k present in both sides, Beyer et al. 2007 §5) must land
        within 4·sqrt(J(1-J)/k)+0.02 of the exact array-computed Jaccard,
        and the intersection estimate (J × union) within the compounded
        relative bound. Exact when the union fits in k."""
    from fever_spark.ops import (kmv_estimate_col, kmv_intersection_col,
                                 kmv_jaccard_col, kmv_sample_col)
    from fever_spark.sketch import KMVSketch

    ev = _read(spark, sf_dir, "events")
    merged = two_level_merge(
        build_sketches(ev, ["event_type"], [
            SketchSpec("kmv_256", "kmv", "user_id", {"k": 256}),
            SketchSpec("kmv_64", "kmv", "user_id", {"k": 64}),
        ]), ["event_type"])
    big = (merged.filter(F.col("sketch") == "kmv_256")
           .select("event_type", F.col("state").alias("_state"),
                   kmv_estimate_col(F.col("state")).alias("_est256"),
                   kmv_sample_col(F.col("state")).alias("_sample")))
    small = (merged.filter(F.col("sketch") == "kmv_64")
             .select("event_type",
                     kmv_estimate_col(F.col("state")).alias("_est64")))
    users = ev.groupBy("event_type").agg(
        F.collect_set(F.col("user_id").cast("string")).alias("_users"),
        F.countDistinct("user_id").alias("_x"))
    # 1-row anchor (first event type): its state and exact user set join
    # onto every row — a broadcast of one sketch, the fever "compare two
    # sensors' populations" shape
    anchor = (big.join(users, "event_type")
              .orderBy("event_type").limit(1)
              .select(F.col("_state").alias("_astate"),
                      F.col("_users").alias("_ausers")))

    def regime_ok(est, k):
        bound = 4 * KMVSketch(k=k).relative_error
        return (F.when(F.col("_x") < k, est == F.col("_x"))
                .otherwise(F.abs(est - F.col("_x")) / F.col("_x") <= bound))

    j_est = kmv_jaccard_col(F.col("_state"), F.col("_astate"))
    i_est = kmv_intersection_col(F.col("_state"), F.col("_astate"))
    union_size = F.size(F.array_union("_users", "_ausers"))
    i_true = F.size(F.array_intersect("_users", "_ausers"))
    j_true = i_true / union_size
    j_bound = 4 * F.sqrt(j_true * (1 - j_true) / 256) + F.lit(0.02)
    overlap_ok = ((F.abs(j_est - j_true) <= j_bound)
                  & (F.abs(i_est - i_true) <= j_bound * union_size
                     + 4 * KMVSketch(k=256).relative_error * i_true))

    return (big.join(small, "event_type").join(users, "event_type")
            .crossJoin(F.broadcast(anchor))
            .select(
                "event_type",
                F.col("_x").alias("n_distinct"),
                regime_ok(F.col("_est256"), 256).cast("int").alias("kmv_ok"),
                regime_ok(F.col("_est64"), 64).cast("int")
                .alias("within_bound"),
                (F.size(F.array_except("_sample", "_users")) == 0)
                .cast("int").alias("sample_is_subset"),
                overlap_ok.cast("int").alias("overlap_ok")))


def q_hll_windowed(spark, sf_dir):
    """north_star literal: 'HLL for distinct cardinality per lang AND
    warc_ts window' — the sketch pipeline keyed by (category, event-time
    day window); per-cell estimate must sit inside the published bound.

    Round-5 fold (50-entry cap): the day level now comes out of the
    hypertable rollup LADDER (ops/rollup.py), and the frame carries the
    7-day level too — each coarse cell's estimate must (a) sit inside the
    bound vs the exact 7-day distinct and (b) come from a state
    BYTE-identical to a direct coarse build (HLL is a lattice sketch, so
    rollup == direct is exact, not approximate). ``win`` is the window
    start as a UTC epoch-seconds string; DuckDB reproduces it with
    floor(epoch(ts)/86400|604800) arithmetic — alignment verified."""
    from fever_spark.ops.rollup import rollup_sketches

    ev = _read(spark, sf_dir, "events")
    spec = [SketchSpec("u", "hll", "user_id", {"p": 14})]
    ladder = rollup_sketches(ev, "ts", ["event_type"], spec,
                             ["1 day", "7 days"])
    bound = 4 * HyperLogLog(p=14).relative_error

    def level(states: DataFrame, res: str, direct: DataFrame | None):
        est = states.withColumn("est", hll_estimate_col(F.col("state")))
        exact = (ev.groupBy("event_type",
                            F.window("ts", res).getField("start")
                            .alias("window_start"))
                 .agg(F.countDistinct("user_id").alias("x")))
        out = est.join(exact, ["event_type", "window_start"])
        if direct is not None:
            d = direct.select("event_type", "window_start",
                              F.col("state").alias("direct_state"))
            out = out.join(d, ["event_type", "window_start"]) \
                .withColumn("ladder_matches_direct",
                            (F.col("state") == F.col("direct_state"))
                            .cast("int"))
        else:
            out = out.withColumn("ladder_matches_direct", F.lit(1))
        return out.select(
            "event_type",
            F.unix_timestamp("window_start").cast("string").alias("win"),
            F.lit(res).alias("level"),
            (F.abs(F.col("est") - F.col("x")) / F.col("x") <= bound)
            .cast("int").alias("within_bound"),
            "ladder_matches_direct")

    direct_coarse = two_level_merge(
        build_sketches(
            ev.withColumn("window_start",
                          F.window("ts", "7 days").getField("start")),
            ["event_type", "window_start"], spec),
        ["event_type", "window_start"])

    return (level(ladder["1 day"], "1 day", None).unionByName(
        level(ladder["7 days"], "7 days", direct_coarse)))


def q_hll_overlap(spark, sf_dir):
    """HLL set-operation estimators over EVERY unordered event-type pair
    (round-6 enrichment of the old 1-row gate): distinct-user
    intersection via inclusion-exclusion, union, and Jaccard from the
    per-type sketches — the "how much do these crawls/segments overlap"
    battery. Exact pair truths come from ONE distinct self-join; each
    estimator is gated on its compounded bound (intersection: 4x the
    additive inclusion-exclusion bound; union: the plain HLL relative
    bound; Jaccard: the intersection bound scaled by the exact union)."""
    from fever_spark.ops.build import sketches_to_dict
    from fever_spark.sketch.hll import (intersection_error_bound,
                                        intersection_estimate,
                                        jaccard_estimate, union_estimate)

    ev = _read(spark, sf_dir, "events")
    merged = two_level_merge(build_sketches(
        ev, ["event_type"],
        [SketchSpec("u", "hll", "user_id", {"p": 14})]), ["event_type"])
    sk = sketches_to_dict(merged, ["event_type"])

    tu = ev.select("event_type", "user_id").distinct()
    n_by_type = {r["event_type"]: r["n"] for r in
                 tu.groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    pairs = {(r["ta"], r["tb"]): r["i"] for r in
             (tu.alias("a").join(tu.alias("b"), "user_id")
              .filter(F.col("a.event_type") < F.col("b.event_type"))
              .groupBy(F.col("a.event_type").alias("ta"),
                       F.col("b.event_type").alias("tb"))
              .agg(F.count(F.lit(1)).alias("i"))).collect()}

    rows = []
    types = sorted(n_by_type)
    rel = 1.04 / (1 << 14) ** 0.5
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            a, b = sk[(ta, "u")], sk[(tb, "u")]
            i_exact = pairs.get((ta, tb), 0)
            u_exact = n_by_type[ta] + n_by_type[tb] - i_exact
            i_bound = 4 * intersection_error_bound(a, b)
            i_ok = abs(intersection_estimate(a, b) - i_exact) <= i_bound
            u_ok = abs(union_estimate(a, b) - u_exact) <= 4 * rel * u_exact
            j_ok = (abs(jaccard_estimate(a, b) - i_exact / u_exact)
                    <= (i_bound + 4 * rel * i_exact) / u_exact)
            rows.append((ta, tb, int(i_ok), int(u_ok), int(j_ok)))
    return spark.createDataFrame(
        rows, "type_a string, type_b string, within_bound int, "
              "union_ok int, jaccard_ok int")


def q_cms_bound(spark, sf_dir):
    """CMS epsilon-delta gate vs exact counts: every per-type estimate
    is at least the exact count and overcounts by at most 3e-4 * N
    (three times the sketch's epsilon of 1e-4)."""
    ev = _read(spark, sf_dir, "events")
    merged = two_level_merge(
        build_sketches(ev, [], [SketchSpec("c", "cms", "event_type",
                                           {"epsilon": 1e-4, "delta": 1e-3})]), [])
    exact = ev.groupBy("event_type").count()
    n_total = ev.count()

    probed = (exact.crossJoin(merged.select("state"))
              .withColumn("est", cms_estimate_col(F.col("state"), F.col("event_type"))))
    return probed.select(
        "event_type",
        ((F.col("est") >= F.col("count"))
         & (F.col("est") - F.col("count") <= F.lit(3e-4 * n_total)))
        .cast("int").alias("within_bound"))


def q_quantile_bounds(spark, sf_dir):
    """KLL + t-digest rank-error gates vs exact ranks (one indicator
    aggregate for ALL probes): each sketch's 0.1/0.5/0.9 quantile must
    sit within its published rank-error bound."""
    ev = _read(spark, sf_dir, "events")
    merged = two_level_merge(
        build_sketches(ev, [], [
            SketchSpec("kll", "kll", "value", {"k": 200}),
            SketchSpec("td", "tdigest", "value", {"delta": 200.0})]), [])
    qs = [0.1, 0.5, 0.9]
    # the post-merge frame is 2 rows (one per sketch) — collecting it is the
    # intended driver-side probe of a merged sketch, not a data collect
    est_rows = (merged.withColumn("q", quantile_col(F.col("state"), qs))
                .select("sketch", "q").collect())
    vals = [(r["sketch"], i, float(r["q"][i]))
            for r in est_rows for i in range(len(qs))]
    # ALL true ranks in ONE aggregate over the table (avg of an indicator =
    # rank/n) — previously one filter+count Spark job per (sketch, q)
    ranks = ev.agg(*[
        F.avg((F.col("value") <= F.lit(v)).cast("double")).alias(f"r{j}")
        for j, (_, _, v) in enumerate(vals)]).first()
    out = []
    for j, (sk, i, v) in enumerate(vals):
        eps = 2 * 2.296 / 200 ** 0.9 if sk == "kll" else 0.02
        out.append((sk, float(qs[i]), int(abs(ranks[f"r{j}"] - qs[i]) <= eps)))
    return spark.createDataFrame(out, "sketch string, q double, within_bound int")


def q_bloom_sharded(spark, sf_dir):
    """Partitioned-Bloom gate (north_star "partitioned Bloom filters"):
    DISTRIBUTED per-shard build over web doc_ids, then the cogroup
    semi-join path (no broadcast of the filter — each task holds exactly
    one shard state). Exact source filter removes the rare FPs; a false
    negative anywhere (build, shard routing, probe) loses a row and fails
    the oracle hash."""
    from fever_spark.ops.bloom_shard import (
        bloom_semi_join_sharded, build_sharded_ioc_states)

    docs = _read(spark, sf_dir, "documents")
    # real member predicate at every SF (old source='web' matched nothing
    # — vacuous 0-row gate, caught in round 3)
    member = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    iocs = docs.filter(member) \
        .select(F.col("doc_id").cast("string").alias("ioc"))
    states = build_sharded_ioc_states(iocs, n_shards=8, fpp=1e-6)
    probes = docs.select("doc_id", "source",
                         F.col("doc_id").cast("string").alias("probe"))
    kept = bloom_semi_join_sharded(probes, states, "probe", n_shards=8)
    return kept.filter(member).select("doc_id")


def q_bloom_zero_fn(spark, sf_dir):
    # Bloom true positives == exact semi-join (zero false negatives);
    # FPs removed by the exact intersect, FNs would leave rows missing.
    # The fpr_ok column folds in the FPR-bound check (formerly its own
    # q_bloom_fpr entry, whose oracle was a vacuous SELECT 1): probing
    # known non-members must stay within 3x the configured bound, and a
    # violation flips fpr_ok to 0 on EVERY row — breaking the hash.
    docs = _read(spark, sf_dir, "documents")
    # member predicate matches real rows at every SF (the corpus sources
    # are src0..src19; the old source = 'web' filter matched NOTHING, so
    # this gate was vacuously green with 0 rows — caught in round 3)
    member = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    web_ids = np.array([r["doc_id"] for r in
                        docs.filter(member)
                        .select("doc_id").collect()], dtype=np.int64)
    bf = BloomFilter(capacity=max(len(web_ids), 1), fpp=1e-6)
    if len(web_ids):
        bf.update(web_ids)
    bc = spark.sparkContext.broadcast(bf.to_bytes())

    ev = _read(spark, sf_dir, "events")
    fbf = BloomFilter(capacity=1000, fpp=1e-3)
    fbf.update(np.arange(0, 1000, dtype=np.int64))
    fbc = spark.sparkContext.broadcast(fbf.to_bytes())
    non_members = (ev.select((F.col("event_id") + 1_000_000).alias("probe"))
                   .distinct())
    n = non_members.count()
    fp = non_members.filter(bloom_contains_col(fbc, F.col("probe"))).count()
    fpr_ok = int(fp <= max(3, 1e-3 * 3 * n))

    # Round-6 fold: the bloomctl control-plane CLI (jobs/bloomctl.py, the
    # mgmt entry-point analog — reference cmd/fever/cmds/bloom.go:24-69).
    # Drive create → add → show --check through main() on a temp file and
    # require: all verbs exit 0, the zero-FN invariant through the CLI
    # (both added values report present), a non-member reports absent,
    # and the file round-trips through BloomFilter.load with matching
    # insert count. Any breakage flips ctl_ok to 0 on every row.
    import io as _io
    import json as _json
    import tempfile as _tf
    from contextlib import redirect_stdout

    from fever_spark.jobs.bloomctl import main as _bloomctl

    with _tf.TemporaryDirectory(prefix="fever_gate_bloomctl_") as td:
        fpath = os.path.join(td, "iocs.bloom.gz")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            rc1 = _bloomctl(["create", "--out", fpath, "--capacity", "1000",
                             "--fpp", "1e-6", "evil.example"])
            rc2 = _bloomctl(["add", "--file", fpath, "bad.example"])
            rc3 = _bloomctl(["show", "--file", fpath, "--check",
                             "evil.example", "bad.example", "absent.example"])
        show = _json.loads(buf.getvalue().strip().splitlines()[-1])
        ctl_ok = int(
            rc1 == rc2 == rc3 == 0
            and show["check"] == {"evil.example": True, "bad.example": True,
                                  "absent.example": False}
            and BloomFilter.load(fpath).n_inserted == 2)

    return (docs.filter(bloom_contains_col(bc, F.col("doc_id")) & member)
            .select("doc_id", F.lit(fpr_ok).alias("fpr_ok"),
                    F.lit(ctl_ok).alias("ctl_ok")))


# --------------------------------------------------------------------------
# dedup / similarity / text


_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def q_exact_dedup(spark, sf_dir):
    # survivors of exact dedup, PLUS the distinct-fingerprint count as a
    # constant column (formerly its own q_dedup_group_count entry): the
    # oracle recomputes it as count(DISTINCT normalized text), so a
    # fingerprint collision or normalization drift breaks the hash on
    # every row, and survivor-count == distinct-content-count by
    # construction.
    docs = _read(spark, sf_dir, "documents")
    n_fp = (docs.withColumn("fp", TXT.fingerprint(F.col("text")))
            .agg(F.countDistinct("fp")).first()[0])
    return (dedup.exact_dedup(docs)
            .select("doc_id", F.lit(int(n_fp)).cast("long")
                    .alias("n_distinct_contents")))


def q_ngram_jaccard(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8) \
        .select("id_a", "id_b")


def q_minhash_lsh(spark, sf_dir):
    """RECALL GATE: exact n-gram-Jaccard≥0.8 pairs ∩ MinHash-LSH candidates.
    The oracle is the exact pair set — if banding/signatures miss any true
    near-dup pair, the inner join loses that row and the hash check fails.
    (The hash family itself is not SQL-expressible; its false-positive side
    is bounded by the est_jaccard filter and tested in test_dedup_ann_text.)"""
    docs = _read(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8) \
        .select("id_a", "id_b")
    cand = dedup.minhash_near_duplicates(docs, threshold=0.7) \
        .select("id_a", "id_b")
    return exact.join(cand, ["id_a", "id_b"])


def q_simhash(spark, sf_dir):
    """RECALL GATE like q_minhash_lsh: exact Jaccard≥0.8 pairs ∩ SimHash
    pairs. max_hamming=10 is the gate configuration that makes J≥0.8 pairs
    all fall inside the Hamming budget on this corpus (measured: h≤3 covers
    18/25, h≤10 covers 25/25); production dedup runs the tighter h≤3 with
    16-bit bands — this query gates the banding/signature machinery."""
    docs = _read(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8) \
        .select("id_a", "id_b")
    cand = dedup.simhash_near_duplicates(docs, max_hamming=10) \
        .select("id_a", "id_b")
    return exact.join(cand, ["id_a", "id_b"])


def q_stratified_sample(spark, sf_dir):
    """Exact-quota stratified take: first 5 docs per (lang, source) by
    doc_id — deterministic sampling for per-stratum eval slices."""
    from fever_spark.operators.sampling import stratified_take

    docs = _read(spark, sf_dir, "documents")
    return stratified_take(docs, ["lang", "source"], 5, "doc_id") \
        .select("doc_id", "lang", "source")


def q_dedup_clusters(spark, sf_dir):
    """pairs → connected components (the survivors step of a dedup
    pipeline): exact Jaccard≥0.8 pairs, then distributed min-label
    propagation; cluster_id must equal the transitive-closure minimum the
    oracle computes with a recursive CTE — a missed propagation round or a
    non-transitive bug yields a different label somewhere."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return (dedup.near_dup_clusters(pairs)
            .select(F.col("id").alias("doc_id"), "cluster_id"))


def q_embedding_neardup(spark, sf_dir):
    # threshold 0.35: the driver embeddings are near-orthogonal random
    # vectors with NO pairs above 0.9 — at 0.9 the gate compared empty
    # against empty (vacuous), and even 0.5 yielded 0-1 pairs by sf.
    # 0.35 yields ~270 pairs at every driver sf, so the cosine kernel is
    # value-gated at the threshold boundary across hundreds of pairs; the
    # ≥0.9 near-dup regime is gated by the planted-pairs test
    # (test_dedup_ann_text.TestEmbeddingDedup).
    emb = _read(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    return dedup.embedding_near_duplicates(emb, threshold=0.35) \
        .select("id_a", "id_b")


def q_ann_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    qvec = np.asarray(
        emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"])
    return brute_topk_ids(emb, qvec)


def q_ann_ivf(spark, sf_dir):
    """IVF-ANN gate: train the coarse quantizer, assign cells, probe — the
    result must EQUAL the exact brute-force top-10 (the oracle) at ANY sf.
    The driver embeddings are nearly unclustered (top-10 of a random query
    scatter uniformly over cells, so no n_probe < n_cells gives reliable
    recall as the corpus grows). The gate therefore PLANTS the cluster
    structure IVF exists for: nine scaled copies of vec 0 (same direction →
    cosine 1.0 → always routed to vec 0's cell), making the true top-10
    exactly {vec 0 + 9 copies}. A broken quantizer, assignment, or probe
    path loses planted neighbors and diverges from the oracle; n_probe=4 of
    16 shows the pruning actually prunes."""
    emb = _read(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    planted = emb.filter(F.col("vec_id") == 0).select(
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("i"), "embedding"
    ).select((F.col("i") + 100000).alias("vec_id"),
             F.transform("embedding",
                         lambda x: x * (F.lit(1.0) + F.col("i") * 0.1))
             .alias("embedding"),
             F.lit(0).alias("label"))
    corpus = emb.unionByName(planted)
    qvec = np.asarray(
        emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"])
    cents = ann.train_ivf_centroids(corpus, n_cells=16)
    assigned = ann.ivf_assign(corpus, cents)
    return (ann.ivf_topk(assigned, cents, qvec, k=10, n_probe=4)
            .select("vec_id"))


def brute_topk_ids(emb, qvec):
    return ann.exact_topk(emb, qvec, k=10).select("vec_id")


def q_lang_id(spark, sf_dir):
    """Language-ID histogram over documents; the lang CASE is replicated
    in DuckDB SQL so every per-doc guess is hash-checked.

    Round-5 fold (50-entry cap): three text-model gates ride along as
    per-row columns, putting functions/bpe.py, functions/ngram_lm.py and
    functions/quality_clf.py under the driver's independent check:

    - ``bpe_roundtrip_fails`` (per lang, must be 0): BPE is trained on
      this corpus and every doc is encoded; re-concatenating the pieces
      ('</w>' → space) must reproduce the lowercased whitespace-collapsed
      text EXACTLY — any drift in trainer merges or encoder segmentation
      flips a count and breaks the row hash. ``bpe_compresses`` (per
      lang, must be 1) guards the roundtrip against vacuity: the encoded
      token total must be STRICTLY below the unmerged symbol total
      (chars + one </w> per word), i.e. trained merges actually applied.
    - ``lm_orders_real`` (corpus-level, must be 1): an order-3 LM trained
      on the corpus must assign lower mean perplexity to real documents
      than to the same documents with token order REVERSED (trigram order
      sensitivity — a broken backoff or count pipeline loses this).
    - ``clf_separates`` (corpus-level, must be 1): the trusted-vs-crawl
      classifier trained on (real docs) vs (vowel-stripped spam-prefixed
      corruptions of the same docs) must reach train AUC >= 0.9."""
    from fever_spark.functions.bpe import bpe_encode, train_bpe, word_counts
    from fever_spark.functions.ngram_lm import perplexity, train_ngram_lm
    from fever_spark.functions.quality_clf import train_quality_classifier

    docs = _read(spark, sf_dir, "documents")

    bpe = train_bpe(word_counts(docs), num_merges=40, min_freq=2)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    enc = bpe_encode(docs.select("text"), bpe["merges"])
    rebuilt = F.trim(F.replace(F.array_join("bpe_tokens", ""),
                               F.lit("</w>"), F.lit(" ")))
    words = F.filter(F.split(norm, " "), lambda w: w != "")
    unmerged_symbols = (F.length(F.array_join(words, ""))
                        + F.size(words)).cast("long")
    per_doc = enc.select(
        TXT.lang_id(F.col("text")).alias("lang_guess"),
        (rebuilt != norm).cast("long").alias("bpe_fail"),
        F.size("bpe_tokens").cast("long").alias("n_bpe"),
        unmerged_symbols.alias("n_sym"))

    lm = train_ngram_lm(docs, order=3)
    reversed_docs = docs.select(F.array_join(
        F.reverse(F.split(F.lower(F.trim(F.col("text"))), r"\s+")), " ")
        .alias("text"))
    ppl_real = perplexity(docs.select("text"), lm) \
        .agg(F.avg("perplexity")).first()[0]
    ppl_rev = perplexity(reversed_docs, lm) \
        .agg(F.avg("perplexity")).first()[0]
    lm_ok = int(ppl_real < ppl_rev)

    crawl = docs.select(F.concat(
        F.lit("buy now click here free offer "),
        F.regexp_replace(F.lower(F.col("text")), "[aeiou]", ""))
        .alias("text"))
    model = train_quality_classifier(docs.select("text"), crawl)
    clf_ok = int(model["auc"] >= 0.9)

    return (per_doc.groupBy("lang_guess")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("bpe_fail").alias("bpe_roundtrip_fails"),
                 (F.sum("n_bpe") < F.sum("n_sym")).cast("int")
                 .alias("bpe_compresses"))
            .withColumn("lm_orders_real", F.lit(lm_ok))
            .withColumn("clf_separates", F.lit(clf_ok)))


def q_quality_filter(spark, sf_dir):
    # per-doc text signals in ONE gate: BPE-ish token count (formerly its
    # own q_token_count entry — folded here to stay under the driver's
    # 50-entry cap), the C4-ish quality gate as a 0/1 flag, PLUS (round 4
    # fold) the C4 line-cleanup length, the C4 document predicate and the
    # Gopher document-quality predicate (operators/curation.py
    # c4_clean_lines / c4_doc_conditions / gopher_doc_conditions) — every
    # rule hash-checked per row against the DuckDB replica.
    from fever_spark.operators import curation as CUR

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.token_count(F.col("text")).alias("n_tokens"),
        (TXT.quality_score(F.col("text")) >= 0.7)
        .cast("int").alias("passes_quality"),
        F.length(CUR.c4_clean_lines(F.col("text"))).alias("c4_clean_len"),
        CUR.c4_doc_conditions(F.col("text")).cast("int").alias("c4_keep"),
        CUR.gopher_doc_conditions(F.col("text")).cast("int")
        .alias("gopher_keep"))


# --------------------------------------------------------------------------
# streaming-shape + fever event matching (rows-only)


_FEVER_IOCS = ["host3", "name7", "sni5", "/path/9"]


def q_bloom_match_fever_events(spark, sf_dir):
    """Fever BloomHandler semantics over the committed flat-events fixture
    (read by DuckDB too). The oracle reproduces the match rules EXACTLY
    (host probe, full/hostpath/path chain, dns query/answer, tls sni→fp) as
    string comparisons — Bloom false negatives would lose rows, false
    positives would add rows; either fails the hash check."""
    from fever_spark.sources.fixtures import fever_events_parquet

    ev = spark.read.parquet(fever_events_parquet())
    bf = build_ioc_filter(_FEVER_IOCS, fpp=1e-7)
    bc = spark.sparkContext.broadcast(bf.to_bytes())
    alerts = bloom_match_events(ev, bc)
    return alerts.groupBy("match_type").agg(F.count(F.lit(1)).alias("n"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition statistics (operators/curation.py): duplicate
    line/word fractions (per-row codegen) + top-word mass (explode + two
    map-side-combinable aggregations)."""
    from fever_spark.operators import curation as CUR

    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        CUR.duplicate_line_fraction(F.col("text")).alias("dup_line_frac"),
        CUR.duplicate_word_fraction(F.col("text")).alias("dup_word_frac"))
    return base.join(CUR.top_word_fraction(docs), "doc_id")


def q_pii_redact(spark, sf_dir):
    """PII redaction + per-class counts. The corpus has no natural PII, so
    the gate PLANTS a deterministic contact line per doc (same expression in
    the oracle SQL) — email, dotted IPv4, long account number — then asserts
    the redacted text and counts byte-match DuckDB's regexp engine."""
    from fever_spark.operators import curation as CUR

    docs = _read(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(F.lit("contact u"), F.col("doc_id").cast("string"),
                 F.lit("@example.com via 10.0."),
                 (F.col("doc_id") % 200).cast("string"),
                 F.lit(".7 ref 9123456"), F.col("doc_id").cast("string"),
                 F.lit(" end")).alias("text"))
    t = F.col("text")
    # unicode normalization rides the same gate (extra column, no new
    # driver entry): a DECOMPOSED accent + a zero-width space are planted
    # so the strip-then-NFC pipeline has real work — the oracle rebuilds
    # the marker from codepoints and applies DuckDB's own nfc_normalize,
    # so composition order, the strip class, and strip-before-NFC
    # sequencing are all hash-checked per row.
    from fever_spark.functions.text import normalize_text
    # " cafe" + ZWSP + COMBINING ACUTE: the zero-width space sits
    # BETWEEN the base letter and its combining mark, so only
    # strip-THEN-NFC yields the composed form; NFC-first leaves a
    # decomposed residue
    marker = F.concat(t, F.lit(" cafe"), F.lit("\u200b\u0301"),
                      F.lit(" latte"))
    return planted.select("doc_id",
                          CUR.redact_pii(t).alias("redacted"),
                          *CUR.pii_counts(t),
                          normalize_text(marker).alias("normalized"))


def q_contamination(spark, sf_dir):
    """Benchmark-contamination screen: docs sharing any word-8-gram with the
    'benchmark' subset (doc_id % 17 == 0). Spark runs BOTH the Bloom screen
    (broadcast filter, one scan, zero FN) and the exact verify join; rows
    survive only where the screen's hit count covers the exact count, so a
    single Bloom false negative loses a row and fails the hash. Output = the
    exact per-doc contaminated n-gram counts (DuckDB-reproducible)."""
    from fever_spark.operators import curation as CUR

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    bf = CUR.build_benchmark_bloom(bench, n=8, fpp=1e-6)
    bc = spark.sparkContext.broadcast(bf.to_bytes())
    screen = CUR.contamination_screen(docs, bc, n=8)
    exact = CUR.contamination_exact(docs, bench, n=8)
    return (exact.join(screen, "doc_id")
            .filter(F.col("hit_ngrams") >= F.col("contaminated_ngrams"))
            .select("doc_id", "contaminated_ngrams"))


def q_paragraph_dedup(spark, sf_dir):
    """Cross-document paragraph dedup (RefinedWeb/C4 boilerplate pass). The
    corpus is single-line, so the gate PLANTS three extra paragraphs per
    doc — a BLANK paragraph (consecutive separators; must survive in EVERY
    doc, the round-3 blank-exemption contract), a global boilerplate line,
    and a shared-by-(doc_id%7) promo line — then asserts the reassembled
    texts byte-match DuckDB's window-rank dedup: boilerplate survives only
    in doc 0, each promo line only in the lowest doc of its class, blanks
    and original order preserved everywhere."""
    from fever_spark.operators import curation as CUR

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit("\n\nsubscribe to our newsletter today\nshared promo "),
                 (F.col("doc_id") % 7).cast("string")).alias("text"))
    return CUR.paragraph_dedup(docs, id_col="doc_id", text_col="text")


_BOILER = ("all rights reserved contact us for more information "
           "about licensing and terms")  # 12 tokens


def q_substring_dedup(spark, sf_dir):
    """ExactSubstr span dedup (Lee et al. 2022): duplicated runs of >= k
    tokens survive only at their first (doc_id, pos) occurrence, cut as
    coalesced maximal spans. The gate PLANTS a 12-token boilerplate suffix
    on every 7th doc (boundary k-grams differ per doc, so exactly the
    boilerplate region is duplicated); the oracle reimplements the whole
    contract in DuckDB over the gram STRINGS — any drift in tokenization,
    first-occurrence ordering, interval coalescing, or reassembly breaks
    the per-row text/count hash. Natural duplicate spans in the corpus are
    covered identically on both sides."""
    from fever_spark.operators import curation as CUR

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" " + _BOILER)))
        .otherwise(F.col("text")).alias("text"))
    return CUR.substring_dedup(docs, k=8) \
        .select("doc_id", "text", "removed_tokens")


def q_pack_bins(spark, sf_dir):
    """Token-budget packing (training-shard assignment): global ordered
    prefix sum done scale-correctly — exact id-percentile buckets, bucket
    offsets, per-bucket windows (never a single-task global sort). The
    oracle is DuckDB's single-node window cumsum; any drift in bucketing,
    offsets, or the in-bucket window breaks the exact bin assignment."""
    from fever_spark.operators.curation import pack_documents

    docs = _read(spark, sf_dir, "documents")
    return pack_documents(docs, budget=500)


def q_multi_join_topk(spark, sf_dir):
    """TPC-H Q3 shape: filtered dimension (customer segment) broadcast into
    the orders/lineitem fact joins, grouped revenue, deterministic top-10.
    Exercises multi-way join planning — Catalyst broadcasts the pruned
    customer side (see PLANS.md) — beyond the single-join q_join_agg."""
    cust = _read(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _read(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < "1998-01-01") \
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") > "1998-01-01") \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    return (joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), "l_orderkey").limit(10))


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + URL-level dedup groups. The corpus has no URL
    column, so the gate PLANTS a deterministic messy URL per doc (mixed-case
    scheme/host, default port, tracking params, fragments, trailing
    slashes); the oracle reimplements the whole canonicalization contract
    independently in DuckDB SQL — any divergence in fragment/port/param/
    slash handling breaks the group hash. Round-4 fold: a ``blocked``
    flag per group runs the domain-blocklist suffix semantics
    (functions/urls.is_blocked_domain) through the same hash gate —
    the oracle reimplements exact-or-dot-suffix matching in SQL."""
    from fever_spark.functions.urls import is_blocked_domain, url_dedup_groups

    docs = _read(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://Site"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".Example:443/Page/"), (F.col("doc_id") % 100).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=feed&x=1"))
             .when(F.col("doc_id") % 3 == 1, F.lit("?x=1"))
             .otherwise(F.lit("/")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("#top")).otherwise(F.lit("")),
        ).alias("url"))
    return url_dedup_groups(raw, "url", "doc_id").withColumn(
        "blocked",
        is_blocked_domain(F.col("canonical_url"),
                          ["site3.example", "site17.example"]).cast("int"))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup over embeddings. The driver embeddings
    are near-orthogonal (max pairwise cosine ≈ 0.51), so the gate PLANTS a
    scaled copy of every 10th vector (scaling preserves direction → cosine
    1.0, and identical directions always land in the same k-means cell, so
    the cell-bucketed pair search must find every planted pair). Output =
    the found pair ids; the oracle is the brute-force cosine≥0.95 pair set
    over the same planted union — any missed pair (cell split, banding bug)
    or spurious pair fails the hash."""
    from fever_spark.operators import curation as CUR

    emb = _read(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
        "label")
    corpus = emb.unionByName(planted)
    pairs = CUR.semantic_dedup_pairs(corpus, threshold=0.95,
                                     n_cells=8, n_probe=2)
    return pairs.select("id_a", "id_b")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_event_profile": q_event_profile,
        "q_grouped_sums": q_grouped_sums,
        "q_distinct_exact": q_distinct_exact,
        "q_top_k": q_top_k,
        "q_windowed_counts": q_windowed_counts,
        "q_proxy_port_filter": q_proxy_port_filter,
        "q_cidr_match": q_cidr_match,
        "q_join_agg": q_join_agg,
        "q_window_rank": q_window_rank,
        "q_flow_context_batch": q_flow_context_batch,
        "q_rollup": q_rollup,
        "q_semi_anti_join": q_semi_anti_join,
        "q_incremental_dedup": q_incremental_dedup,
        "q_pivot": q_pivot,
        "q_session_window": q_session_window,
        "q_json_extract": q_json_extract,
        "q_eve_pipeline": q_eve_pipeline,
        "q_pdns_answers": q_pdns_answers,
        "q_cms_heavy_hitters": q_cms_heavy_hitters,
        "q_token_heavy_hitters": q_token_heavy_hitters,
        "q_text_extraction": q_text_extraction,
        "q_hll_bound": q_hll_bound,
        "q_kmv_distinct": q_kmv_distinct,
        "q_hll_windowed": q_hll_windowed,
        "q_hll_overlap": q_hll_overlap,
        "q_cms_bound": q_cms_bound,
        "q_quantile_bounds": q_quantile_bounds,
        "q_bloom_zero_fn": q_bloom_zero_fn,
        "q_bloom_sharded": q_bloom_sharded,
        "q_exact_dedup": q_exact_dedup,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_minhash_lsh": q_minhash_lsh,
        "q_simhash": q_simhash,
        "q_stratified_sample": q_stratified_sample,
        "q_dedup_clusters": q_dedup_clusters,
        "q_embedding_neardup": q_embedding_neardup,
        "q_ann_topk": q_ann_topk,
        "q_ann_ivf": q_ann_ivf,
        "q_lang_id": q_lang_id,
        "q_quality_filter": q_quality_filter,
        "q_bloom_match_fever_events": q_bloom_match_fever_events,
        "q_repetition_stats": q_repetition_stats,
        "q_pii_redact": q_pii_redact,
        "q_contamination": q_contamination,
        "q_semantic_dedup": q_semantic_dedup,
        "q_paragraph_dedup": q_paragraph_dedup,
        "q_substring_dedup": q_substring_dedup,
        "q_url_dedup": q_url_dedup,
        "q_multi_join_topk": q_multi_join_topk,
        "q_pack_bins": q_pack_bins,
    }


def oracle_sql() -> dict[str, str]:
    from fever_spark.sources.fixtures import (
        eve_jsonl, fever_events_parquet, pages_parquet)

    tok = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"
    # exact n-gram-Jaccard pair set: the oracle for the exact dedup operator
    # AND the recall gates of the LSH/SimHash candidate generators
    ngram_exact = """
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                                 '\\s+', ' ', 'g'), ' ') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id, list_distinct(
                  list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                                 i -> array_to_string(t[i:i+2], ' '))) AS g
              FROM toks WHERE len(t) >= 1
            ), inv AS (
              SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM inv a JOIN inv b USING (gram)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.ng, b.ng
            HAVING count(*)::DOUBLE / (a.ng + b.ng - count(*)) >= 0.8
    """
    ioc_list = ", ".join(f"'{i}'" for i in _FEVER_IOCS)
    return {
        "q_event_profile": """
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(sum(octet_length(encode(props))) AS BIGINT) AS total_bytes
            FROM events GROUP BY event_type
        """,
        "q_grouped_sums": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q_distinct_exact": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "q_top_k": """
            SELECT user_id, count(*) AS count FROM events
            GROUP BY user_id ORDER BY count DESC, user_id LIMIT 10
        """,
        "q_windowed_counts": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "q_proxy_port_filter": """
            WITH p AS (SELECT CAST(user_id % 10000 + 70 AS INT) AS dest_port
                       FROM events)
            SELECT dest_port, count(*) AS n FROM p
            WHERE (dest_port BETWEEN 8000 AND 8999) OR dest_port IN (3128, 80)
            GROUP BY dest_port
        """,
        "q_cidr_match": """
            WITH e AS (
              SELECT 10*16777216 + 0*65536 + (user_id % 256)*256
                     + (event_id % 256) AS ip_int
              FROM (SELECT * FROM events LIMIT 2000)
            ), r AS (
              SELECT '10.0.1.0/24' AS network,
                     10*16777216 + 256 AS lo, 10*16777216 + 511 AS hi
              UNION ALL
              SELECT '10.0.2.0/23',
                     10*16777216 + 512, 10*16777216 + 1023
            )
            SELECT r.network, count(*) AS n
            FROM e JOIN r ON e.ip_int BETWEEN r.lo AND r.hi
            GROUP BY r.network
        """,
        "q_join_agg": """
            SELECT c_mktsegment, round(sum(o_totalprice), 2) AS total,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            UNION ALL
            SELECT 'band_' || CAST(b.band AS VARCHAR) AS c_mktsegment,
                   round(max(o.o_totalprice) - min(o.o_totalprice), 2)
                     AS total,
                   count(*) AS n_orders
            FROM range(10) b(band)
            JOIN orders o ON o.o_totalprice
                             BETWEEN b.band * 30000.0
                                 AND b.band * 30000.0 + 60000.0
            GROUP BY b.band
        """,
        "q_window_rank": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "q_flow_context_batch": """
            SELECT 'flow' AS kind, user_id,
                   CAST(count(*) AS DOUBLE) AS val FROM events
            GROUP BY user_id
            HAVING max(CASE WHEN event_type='error' THEN 1 ELSE 0 END) = 1
               AND max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) = 1
            UNION ALL
            SELECT 'asof' AS kind, p.user_id,
                   round(sum(epoch(p.ts) - epoch(e.ts)), 2) AS val
            FROM (SELECT user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF JOIN (SELECT user_id, ts FROM events
                       WHERE event_type = 'error') e
              ON p.user_id = e.user_id AND p.ts >= e.ts
            GROUP BY p.user_id
        """,
        "q_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "q_semi_anti_join": """
            SELECT 'semi' AS kind, o_orderkey AS key FROM orders
            WHERE EXISTS (SELECT 1 FROM customer
                          WHERE c_custkey = o_custkey
                            AND c_mktsegment = 'BUILDING')
            UNION ALL
            SELECT 'anti' AS kind, c_custkey AS key FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
        """,
        "q_incremental_dedup": """
            WITH new_batch AS (
              SELECT doc_id + 100000 AS doc_id, text
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id + 200000, 'fresh crawl page ' || doc_id
              FROM documents WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id + 300000, 'fresh crawl page ' || doc_id
              FROM documents WHERE doc_id % 9 = 0
            ), norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS c
              FROM new_batch
            ), first_in_batch AS (
              SELECT doc_id, c FROM (
                SELECT doc_id, c, row_number()
                       OVER (PARTITION BY c ORDER BY doc_id) AS rn
                FROM norm) WHERE rn = 1
            ), corpus AS (
              SELECT DISTINCT
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS c
              FROM documents
            )
            SELECT doc_id FROM first_in_batch
            WHERE c NOT IN (SELECT c FROM corpus)
        """,
        "q_pivot": """
            SELECT user_id,
                   round(sum(CASE WHEN event_type='click' THEN value END), 2) AS click,
                   round(sum(CASE WHEN event_type='view' THEN value END), 2) AS view,
                   round(sum(CASE WHEN event_type='purchase' THEN value END), 2) AS purchase
            FROM events GROUP BY user_id
        """,
        "q_session_window": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
              FROM events),
            s AS (SELECT user_id, ts,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n
            FROM s GROUP BY user_id, sid
        """,
        "q_json_extract": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "q_pdns_answers": f"""
            SELECT dns_rrname, answering_host, a.rrtype AS rrtype,
                   a.rdata AS rdata, dns_rcode, count(*) AS count
            FROM (
              SELECT dns.rrname AS dns_rrname, src_ip AS answering_host,
                     dns.rcode AS dns_rcode, unnest(dns.answers) AS a
              FROM read_json_auto('{eve_jsonl()}',
                                  format='newline_delimited')
              WHERE event_type = 'dns' AND dns.type = 'answer'
                AND dns.rrname IS NOT NULL AND dns.rrname <> ''
                AND len(dns.answers) > 0
            ) GROUP BY ALL
        """,
        "q_cms_heavy_hitters": """
            SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
        """,
        "q_text_extraction": f"""
            SELECT url, md5(text) AS text_md5, 1 AS boiler_ok
            FROM read_parquet('{pages_parquet()}')
        """,
        "q_token_heavy_hitters": """
            SELECT tok, count(*) AS n FROM (
              SELECT unnest(string_split(regexp_replace(lower(trim(text)),
                                                        '\\s+', ' ', 'g'),
                                         ' ')) AS tok
              FROM documents)
            WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 20
        """,
        "q_hll_bound": """
            SELECT event_type, 1 AS within_bound, 1 AS ctl_ok
            FROM events GROUP BY event_type
        """,
        "q_kmv_distinct": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_distinct,
                   1 AS kmv_ok,
                   1 AS within_bound,
                   1 AS sample_is_subset,
                   1 AS overlap_ok
            FROM events GROUP BY event_type
        """,
        "q_hll_windowed": """
            SELECT event_type,
                   CAST(CAST(floor(epoch(ts)/86400)*86400 AS BIGINT)
                        AS VARCHAR) AS win,
                   '1 day' AS level, 1 AS within_bound,
                   1 AS ladder_matches_direct
            FROM events GROUP BY 1, 2
            UNION ALL
            SELECT event_type,
                   CAST(CAST(floor(epoch(ts)/604800)*604800 AS BIGINT)
                        AS VARCHAR) AS win,
                   '7 days' AS level, 1 AS within_bound,
                   1 AS ladder_matches_direct
            FROM events GROUP BY 1, 2
        """,
        "q_hll_overlap": """
            WITH t AS (SELECT DISTINCT event_type FROM events)
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   1 AS within_bound, 1 AS union_ok, 1 AS jaccard_ok
            FROM t a JOIN t b ON a.event_type < b.event_type
        """,
        "q_cms_bound": """
            SELECT event_type, 1 AS within_bound
            FROM events GROUP BY event_type
        """,
        "q_quantile_bounds": """
            SELECT sketch, q, 1 AS within_bound FROM (
              SELECT unnest(['kll','td']) AS sketch) s
            CROSS JOIN (SELECT unnest([0.1, 0.5, 0.9]) AS q) qs
        """,
        "q_bloom_zero_fn": """
            SELECT doc_id, 1 AS fpr_ok, 1 AS ctl_ok FROM documents
            WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        """,
        "q_bloom_sharded": """
            SELECT doc_id FROM documents
            WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        """,
        "q_exact_dedup": f"""
            SELECT s.doc_id, c.n_distinct_contents
            FROM (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY {_NORM_SQL}) s
            CROSS JOIN (SELECT count(DISTINCT {_NORM_SQL})
                          AS n_distinct_contents FROM documents) c
        """,
        "q_ngram_jaccard": ngram_exact,
        "q_stratified_sample": """
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY lang, source
                                        ORDER BY doc_id) AS rn
              FROM documents) WHERE rn <= 5
        """,
        "q_dedup_clusters": f"""
            WITH pairs AS ({ngram_exact}),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            cc AS (
              WITH RECURSIVE reach(id, comp) AS (
                SELECT DISTINCT s, s FROM edges
                UNION
                SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id
              )
              SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id
            )
            SELECT id AS doc_id, cluster_id FROM cc
        """,
        # recall gates: query output = exact pairs ∩ candidates, so full
        # recall makes it equal the exact pair set the oracle computes
        "q_minhash_lsh": ngram_exact,
        "q_simhash": ngram_exact,
        "q_eve_pipeline": f"""
            SELECT event_type, count(*) AS n,
                   count(CASE WHEN search <> '' THEN 1 END) AS n_searchable,
                   count(*) AS pipeline_n, 1 AS spool_ok
            FROM (
              SELECT event_type,
                CASE event_type
                  WHEN 'dns' THEN concat_ws('|', dns.rrname, dns.rdata,
                                            dns.rrtype)
                  WHEN 'http' THEN concat_ws('|', http.hostname, http.url,
                                             http.http_method)
                  WHEN 'tls' THEN concat_ws('|', tls.sni, tls.fingerprint)
                  WHEN 'alert' THEN concat_ws('|', http.hostname, http.url,
                                              dns.rrname)
                  ELSE '' END AS search
              FROM read_json_auto('{eve_jsonl()}',
                                  format='newline_delimited')
            ) GROUP BY event_type
        """,
        "q_bloom_match_fever_events": f"""
            WITH ev AS (SELECT * FROM read_parquet('{fever_events_parquet()}')),
            probes AS (
              SELECT event_type, dns_type, dns_rrname, tls_sni,
                     tls_fingerprint, http_host,
                     CASE WHEN http_url LIKE '%://%' THEN http_url
                          ELSE 'http://' || coalesce(http_host, '')
                               || coalesce(http_url, '') END AS full_url
              FROM ev WHERE event_type IN ('http', 'dns', 'tls')
            ), shaped AS (
              SELECT *,
                regexp_extract(regexp_replace(regexp_replace(full_url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^[^/@?#]*@', ''),
                    '^([^?#]*)', 1) AS hostpath
              FROM probes
            ), counted AS (
              SELECT 'http-host' AS match_type, count(*) AS n FROM shaped
                WHERE event_type = 'http' AND http_host IN ({ioc_list})
              UNION ALL
              SELECT 'http-url', count(*) FROM shaped
                WHERE event_type = 'http' AND (
                  full_url IN ({ioc_list}) OR hostpath IN ({ioc_list})
                  OR regexp_extract(hostpath, '(/.*)$', 1) IN ({ioc_list}))
              UNION ALL
              SELECT 'dns-req', count(*) FROM shaped
                WHERE event_type = 'dns' AND dns_type = 'query'
                  AND dns_rrname IN ({ioc_list})
              UNION ALL
              SELECT 'dns-resp', count(*) FROM shaped
                WHERE event_type = 'dns' AND dns_type = 'answer'
                  AND dns_rrname IN ({ioc_list})
              UNION ALL
              SELECT 'tls-sni', count(*) FROM shaped
                WHERE event_type = 'tls' AND tls_sni IN ({ioc_list})
              UNION ALL
              SELECT 'tls-fingerprint', count(*) FROM shaped
                WHERE event_type = 'tls' AND tls_sni NOT IN ({ioc_list})
                  AND tls_fingerprint IN ({ioc_list})
            )
            SELECT match_type, n FROM counted WHERE n > 0
        """,
        "q_embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.35
        """,
        "q_ann_topk": """
            SELECT vec_id FROM (
              SELECT vec_id,
                     list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)) AS c
              FROM embeddings)
            ORDER BY c DESC, vec_id LIMIT 10
        """,
        "q_ann_ivf": """
            WITH corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT i + 100000,
                     list_transform(
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0), x -> x * (1.0 + i * 0.1))
              FROM generate_series(1, 9) AS t(i)
            )
            SELECT vec_id FROM (
              SELECT vec_id,
                     list_cosine_similarity(v,
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)) AS c
              FROM corpus)
            ORDER BY c DESC, vec_id LIMIT 10
        """,
        "q_lang_id": """
            WITH scored AS (
              SELECT text,
                CASE
                  WHEN len(regexp_extract_all(text, '[一-鿿]'))::DOUBLE
                       / greatest(length(text), 1) > 0.25 THEN 'zh'
                  WHEN len(regexp_extract_all(text, '[Ѐ-ӿ]'))::DOUBLE
                       / greatest(length(text), 1) > 0.25 THEN 'ru'
                  ELSE (
                    WITH s AS (
                      SELECT
                        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS en,
                        len(regexp_extract_all(lower(text), '\\b(der|und|die|nicht|ist)\\b')) AS de,
                        len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS fr,
                        len(regexp_extract_all(lower(text), '\\b(el|los|que|una|para)\\b')) AS es)
                    SELECT CASE
                      WHEN greatest(en, de, fr, es) = 0 THEN 'unknown'
                      WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                      WHEN de >= fr AND de >= es THEN 'de'
                      WHEN fr >= es THEN 'fr'
                      ELSE 'es' END FROM s)
                END AS lang_guess
              FROM documents)
            SELECT lang_guess, count(*) AS n, 0 AS bpe_roundtrip_fails,
                   1 AS bpe_compresses, 1 AS lm_orders_real,
                   1 AS clf_separates
            FROM scored GROUP BY lang_guess
        """,
        "q_quality_filter": f"""
            WITH q AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '{tok}')) AS n_tokens,
                     len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE
                       / greatest(length(text), 1) AS alpha_frac,
                     len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                       / greatest(length(text), 1) AS punct_frac,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS words,
                     length(text) AS n
              FROM documents),
            toks AS (
              SELECT doc_id, text,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w,
                     list_filter(string_split(text, chr(10)),
                                 x -> trim(x) <> '') AS ln
              FROM documents),
            rules AS (
              SELECT doc_id,
                length(coalesce(array_to_string(list_filter(
                  string_split(text, chr(10)),
                  x -> len(regexp_split_to_array(trim(x), '\\s+')) >= 3
                       AND trim(x) <> ''
                       AND NOT regexp_matches(trim(x),
                         '(?i)javascript|lorem ipsum|cookie policy|uses? cookies|terms of (use|service)|privacy policy')
                       AND regexp_matches(trim(x), '[.!?"'']$')),
                  chr(10)), '')) AS c4_clean_len,
                (len(regexp_extract_all(text, '[.!?]')) >= 3
                 AND NOT contains(text, '{{')
                 AND NOT regexp_matches(lower(text), 'lorem ipsum'))::INT
                  AS c4_keep,
                (len(w) BETWEEN 50 AND 100000
                  AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                      / greatest(len(w), 1) BETWEEN 3 AND 10
                  AND (len(regexp_extract_all(text, '#'))
                       + len(regexp_extract_all(text, '\\.\\.\\.|…')))::DOUBLE
                      / greatest(len(w), 1) <= 0.1
                  AND len(list_filter(ln, x -> regexp_matches(trim(x), '^[-*•]')))::DOUBLE
                      / greatest(len(ln), 1) < 0.9
                  AND len(list_filter(ln, x -> regexp_matches(trim(x), '(\\.\\.\\.|…)$')))::DOUBLE
                      / greatest(len(ln), 1) < 0.3
                  AND len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                      / greatest(len(w), 1) >= 0.8)::INT AS gopher_keep
              FROM toks)
            SELECT q.doc_id, n_tokens,
                   (score >= 0.7)::INT AS passes_quality,
                   rules.c4_clean_len, rules.c4_keep, rules.gopher_keep
            FROM (
              SELECT doc_id, n_tokens,
                round(least(
                  alpha_frac * 0.4
                  + (CASE WHEN n BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.2
                  + (CASE WHEN n::DOUBLE / greatest(words, 1)
                          BETWEEN 3 AND 12 THEN 1.0 ELSE 0.4 END) * 0.2
                  + (CASE WHEN punct_frac <= 0.2 THEN 1.0 ELSE 0.5 END) * 0.2,
                  1.0), 4) AS score
              FROM q) q JOIN rules USING (doc_id)
        """,
        "q_repetition_stats": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(text, chr(10)) AS lines,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS w
              FROM documents
            ), base AS (
              SELECT doc_id,
                round(1.0 - len(list_distinct(lines))::DOUBLE
                        / greatest(len(lines), 1), 4) AS dup_line_frac,
                round(1.0 - len(list_distinct(w))::DOUBLE
                        / greatest(len(w), 1), 4) AS dup_word_frac
              FROM toks
            ), pw AS (
              SELECT doc_id, unnest(w) AS word FROM toks
            ), wc AS (
              SELECT doc_id, word, count(*) AS c FROM pw GROUP BY 1, 2
            ), tw AS (
              SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4)
                       AS top_word_frac
              FROM wc GROUP BY doc_id
            )
            SELECT base.doc_id, dup_line_frac, dup_word_frac, top_word_frac
            FROM base JOIN tw USING (doc_id)
        """,
        "q_pii_redact": r"""
            WITH planted AS (
              SELECT doc_id,
                     'contact u' || doc_id || '@example.com via 10.0.'
                       || (doc_id % 200) || '.7 ref 9123456' || doc_id
                       || ' end' AS text
              FROM documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\b\d{9,16}\b', '<ID>', 'g') AS redacted,
              len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                AS n_email,
              len(regexp_extract_all(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
              len(regexp_extract_all(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\b\d{9,16}\b')) AS n_id_number,
              nfc_normalize(regexp_replace(
                text || ' cafe' || chr(8203) || chr(769) || ' latte',
                '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{0080}-\x{009F}\x{200B}-\x{200D}\x{FEFF}]',
                '', 'g')) AS normalized
            FROM planted
        """,
        "q_contamination": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS w
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(w) - 7, 0) + 1),
                       i -> array_to_string(w[i:i+7], ' '))) AS g
              FROM toks
            ), bench AS (
              SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0
            )
            SELECT grams.doc_id,
                   count(*) AS contaminated_ngrams
            FROM grams JOIN bench USING (g)
            GROUP BY grams.doc_id
        """,
        "q_pack_bins": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+'))::BIGINT
                     AS n_tokens,
                   CAST(floor(
                     (sum(len(regexp_split_to_array(trim(text), '\s+')))
                        OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                      - len(regexp_split_to_array(trim(text), '\s+')))
                     / 500.0) AS BIGINT) AS bin_id
            FROM documents
        """,
        "q_multi_join_topk": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q_url_dedup": r"""
            WITH raw AS (
              SELECT doc_id,
                'HTTPS://Site' || (doc_id % 37) || '.Example:443/Page/'
                || (doc_id % 100)
                || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&x=1'
                         WHEN doc_id % 3 = 1 THEN '?x=1' ELSE '/' END)
                || (CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END) AS url
              FROM documents
            ), s1 AS (
              SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM raw
            ), s2 AS (
              SELECT *, coalesce(regexp_extract(nf,
                '^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)', 1), '') AS prefix
              FROM s1
            ), s3 AS (
              SELECT *,
                regexp_replace(regexp_replace(lower(prefix),
                  '^(http://.*):80$', '\1'), '^(https://.*):443$', '\1')
                  AS prefix_norm,
                substr(nf, length(prefix) + 1) AS rest
              FROM s2
            ), s4 AS (
              SELECT *, split_part(rest, '?', 1) AS path,
                CASE WHEN strpos(rest, '?') > 0
                     THEN substr(rest, length(split_part(rest, '?', 1)) + 2)
                     ELSE '' END AS query
              FROM s3
            ), s5 AS (
              SELECT *,
                array_to_string(list_filter(string_split(query, '&'),
                  p -> NOT (starts_with(lower(split_part(p, '=', 1)), 'utm_')
                            OR lower(split_part(p, '=', 1))
                               IN ('gclid', 'fbclid', 'ref'))), '&') AS clean_q,
                regexp_replace(path, '/$', '') AS path_norm
              FROM s4
            )
            SELECT canonical_url, count(*) AS n_dups,
                   min(doc_id) AS keep_id,
                   (host = 'site3.example'
                    OR host LIKE '%.site3.example'
                    OR host = 'site17.example'
                    OR host LIKE '%.site17.example')::INT AS blocked
            FROM (
              SELECT doc_id,
                     prefix_norm || path_norm
                     || (CASE WHEN clean_q <> '' THEN '?' || clean_q
                              ELSE '' END) AS canonical_url,
                     regexp_extract(lower(prefix_norm),
                                    '://([^/?#@]*)$', 1) AS host
              FROM s5)
            GROUP BY canonical_url, blocked
        """,
        "q_paragraph_dedup": """
            WITH planted AS (
              SELECT doc_id, text || chr(10) || chr(10)
                     || 'subscribe to our newsletter today' || chr(10)
                     || 'shared promo ' || (doc_id % 7) AS text
              FROM documents
            ), p AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS para,
                     unnest(range(1, len(string_split(text, chr(10))) + 1))
                       AS pos
              FROM planted
            ), k AS (
              -- blank paragraphs are dedup-exempt structure: always kept
              SELECT doc_id, para, pos,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY doc_id, pos) AS rn
              FROM p WHERE trim(para) <> ''
              UNION ALL
              SELECT doc_id, para, pos, 1 AS rn
              FROM p WHERE trim(para) = ''
            )
            SELECT d.doc_id, coalesce(s.text, '') AS text
            FROM planted d LEFT JOIN (
              SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
              FROM k WHERE rn = 1 GROUP BY doc_id) s USING (doc_id)
        """,
        "q_substring_dedup": f"""
            WITH src AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN text || ' {_BOILER}'
                          ELSE text END AS text
              FROM documents
            ), toks AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM src
            ), grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, len(t) - 7),
                       i -> {{'pos': i - 1,
                             'g': array_to_string(t[i:i+7], ' ')}})) AS u
              FROM toks
            ), rem AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, u.pos AS pos,
                       row_number() OVER (PARTITION BY u.g
                                          ORDER BY doc_id, u.pos) AS rn
                FROM grams) WHERE rn > 1
            ), cov AS (
              SELECT doc_id, list(DISTINCT idx) AS covered FROM (
                SELECT doc_id,
                       unnest(generate_series(pos, pos + 7)) AS idx
                FROM rem) GROUP BY doc_id
            )
            SELECT k.doc_id,
                   CASE WHEN c.doc_id IS NULL THEN k.text
                        ELSE coalesce(array_to_string(
                          list_transform(
                            list_filter(generate_series(1, len(k.t)),
                                        i -> NOT list_contains(c.covered,
                                                               i - 1)),
                            i -> k.t[i]), ' '), '') END AS text,
                   (CASE WHEN c.doc_id IS NULL THEN 0
                         ELSE len(c.covered) END)::BIGINT AS removed_tokens
            FROM toks k LEFT JOIN cov c USING (doc_id)
        """,
        "q_semantic_dedup": """
            WITH corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000,
                     list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
              FROM embeddings WHERE vec_id % 10 = 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        """,
    }
