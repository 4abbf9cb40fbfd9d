"""pages_report spark-submit main: the north_star battery end-to-end with
checkpoint/resume (SURVEY §7.1.6)."""

import collections
import gzip
import json

import pytest
from pyspark.sql import functions as F

from fever_spark.jobs.pages_report import build_report
from fever_spark.ops.bloom_match import build_ioc_filter
from fever_spark.sources.synth import synth_pages_df


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages") / "pages")
    synth_pages_df(spark, 20_000, partitions=6).write.parquet(d)
    return d


def test_report_battery_and_resume(spark, pages_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    rep = build_report(spark, pages_dir, ckpt, with_tokens=True, topk=10)

    # per (lang, day) HLL within bound of exact
    pages = spark.read.parquet(pages_dir).withColumn("day", F.to_date("warc_ts"))
    exact = {(r["lang"], str(r["day"])): r["x"] for r in
             pages.groupBy("lang", "day")
             .agg(F.countDistinct("url").alias("x")).collect()}
    url_cells = [c for c in rep["per_lang_day"] if c["sketch"] == "distinct_url"]
    assert len(url_cells) == len(exact)
    for c in url_cells:
        x = exact[(c["lang"], c["day"])]
        assert abs(c["estimate"] - x) / x <= 4 * 1.04 / 2 ** 7

    # top hosts = exact top hosts (Zipfian synth)
    host_counts = collections.Counter(
        r["h"] for r in pages.select(
            F.try_parse_url("url", F.lit("HOST")).alias("h")).collect())
    exact_top = [h for h, _ in sorted(host_counts.items(),
                                      key=lambda kv: (-kv[1], kv[0]))[:10]]
    assert [h["host"] for h in rep["top_hosts"]] == exact_top

    # quantiles are ordered and sane
    q = rep["page_bytes_q"]
    assert q["0.5"] <= q["0.95"] <= q["0.99"]
    assert rep["text_len_q"]["0.5"] > 0
    assert len(rep["top_tokens"]) == 10

    # cross-lang URL overlap: one entry per unordered lang pair; synth
    # urls embed the page id so langs are DISJOINT — shared estimates
    # must sit within the compounded inclusion-exclusion bound of zero
    langs = sorted({c["lang"] for c in url_cells})
    n_pairs = len(langs) * (len(langs) - 1) // 2
    assert len(rep["lang_url_overlap"]) == n_pairs
    n_urls = pages.select("url").distinct().count()
    for o in rep["lang_url_overlap"]:
        assert 0.0 <= o["jaccard"] <= 1.0
        assert abs(o["shared_est"]) <= 4 * 3 * (1.04 / 2 ** 7) * n_urls

    # resume: a second run must skip all chunks (manifest-complete) and
    # reproduce the identical report
    rep2 = build_report(spark, pages_dir, ckpt, with_tokens=True, topk=10)
    assert json.dumps(rep, sort_keys=True) == json.dumps(rep2, sort_keys=True)
    man = json.load(open(f"{ckpt}/global/manifest.json"))
    assert man["completed"] and len(man["chunks"]) >= 1


def test_report_with_ioc_file(spark, pages_dir, tmp_path):
    iocs = tmp_path / "iocs.txt"
    # one host guaranteed present
    host = spark.read.parquet(pages_dir).select(
        F.try_parse_url("url", F.lit("HOST")).alias("h")).first()["h"]
    iocs.write_text(f"{host}\nnot-present.example\n")
    rep = build_report(spark, pages_dir, str(tmp_path / "ck2"),
                       ioc_file=str(iocs))
    assert rep["ioc_matches"].get("http-host", 0) > 0


def test_report_with_gzip_ioc_list(spark, pages_dir, tmp_path):
    host = spark.read.parquet(pages_dir).select(
        F.try_parse_url("url", F.lit("HOST")).alias("h")).first()["h"]
    iocs = tmp_path / "iocs.txt.gz"
    iocs.write_bytes(gzip.compress(f"{host}\nnot-present.example\n".encode()))
    rep = build_report(spark, pages_dir, str(tmp_path / "ck"),
                       ioc_file=str(iocs))
    assert rep["ioc_matches"].get("http-host", 0) > 0


def test_report_truncated_filter_file_raises(spark, pages_dir, tmp_path):
    # a cut filter must fail, not be read back as a one-line IOC list
    data = build_ioc_filter(["evil.example.com", "bad.example"]).to_bytes()
    cut = tmp_path / "iocs.bloom"
    cut.write_bytes(data[: len(data) // 2])
    with pytest.raises(ValueError, match="corrupt Bloom filter"):
        build_report(spark, pages_dir, str(tmp_path / "ck"),
                     ioc_file=str(cut))


def test_overlap_langs_with_pipe_do_not_collide(spark, tmp_path):
    """Lang values containing a separator must not merge two pairs:
    keyed on f"{a}|{b}", langs ('a', 'b|c') and ('a|b', 'c') would collide
    into one group, merging FOUR states and corrupting both pairs'
    shared_est/jaccard. With URL-disjoint langs every pair's shared
    estimate must sit near zero."""
    pages = synth_pages_df(spark, 8_000, partitions=4)
    remapped = pages.withColumn(
        "lang",
        F.when(F.col("lang") == "en", F.lit("a"))
        .when(F.col("lang") == "de", F.lit("b|c"))
        .when(F.col("lang") == "fr", F.lit("a|b"))
        .otherwise(F.lit("c")))
    d = str(tmp_path / "pages")
    remapped.write.parquet(d)
    rep = build_report(spark, d, str(tmp_path / "ck"))
    langs = sorted({c["lang"] for c in rep["per_lang_day"]})
    assert {"a", "a|b", "b|c", "c"} <= set(langs)
    n_urls = remapped.select("url").distinct().count()
    bound = 4 * 3 * (1.04 / 2 ** 7) * n_urls
    pairs = {(o["lang_a"], o["lang_b"]) for o in rep["lang_url_overlap"]}
    assert ("a", "b|c") in pairs and ("a|b", "c") in pairs
    for o in rep["lang_url_overlap"]:
        # the collision drove shared_est to about -(half the corpus);
        # disjoint langs must stay within the inclusion-exclusion bound
        assert abs(o["shared_est"]) <= bound, o
        assert 0.0 <= o["jaccard"] <= 1.0
