"""Synthetic pages determinism + fever-semantics Bloom IOC matching.

Mirrors the reference's Bloom acceptance tests: every true IOC alerts (zero
false negatives, bloom_handler_test.go:409-427), blacklisted IOCs never
alert (bloom_handler_test.go:530-592), probe precedence matches the else-if
chain of bloom_handler.go:201-235.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fever_spark.ops.bloom_match import (
    bloom_match_events, bloom_match_pages, build_ioc_filter,
)
from fever_spark.sources.synth import synth_iocs, synth_pages, synth_pages_df


class TestSynth:
    def test_deterministic(self):
        a = synth_pages(2000)
        b = synth_pages(2000)
        pd.testing.assert_frame_equal(a, b)

    def test_schema_and_shape(self):
        p = synth_pages(1000)
        assert list(p.columns) == ["url", "warc_ts", "html", "text", "lang"]
        assert len(p) == 1000
        assert p["url"].is_unique
        assert set(p["lang"]) <= {"en", "de", "fr", "es", "zh", "ru"}

    def test_html_text_byte_identity(self):
        # north_rule: extraction preserves byte-identical text per url
        p = synth_pages(500)
        for html, text in zip(p["html"], p["text"]):
            assert html == b"<html>" + text.encode("utf-8") + b"</html>"

    def test_host_skew_is_zipfian(self):
        p = synth_pages(5000)
        hosts = p["url"].str.extract(r"https://([^/]+)/")[0]
        counts = hosts.value_counts()
        # top host should dominate (Zipf s=1.2) — forces merge skew
        assert counts.iloc[0] > 5 * counts.iloc[min(20, len(counts) - 1)]

    def test_distributed_generation_matches_driver(self, spark):
        n = 3000
        driver = synth_pages(n).sort_values("url").reset_index(drop=True)
        dist = (synth_pages_df(spark, n, partitions=7).toPandas()
                .sort_values("url").reset_index(drop=True))
        dist["html"] = dist["html"].map(bytes)
        pd.testing.assert_frame_equal(driver, dist, check_dtype=False)


@pytest.fixture(scope="module")
def pages_df(spark):
    pdf = synth_pages(4000)
    df = spark.createDataFrame(pdf)
    return df.cache()


@pytest.fixture(scope="module")
def iocs():
    return synth_iocs(synth_pages(4000))


class TestBloomMatchPages:
    def test_zero_false_negatives(self, spark, pages_df, iocs):
        active = iocs[~iocs["blacklisted"]]["ioc"].to_numpy()
        bf = build_ioc_filter(active)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_pages(pages_df, bc).cache()
        alerted_iocs = {r["ioc"] for r in alerts.select("ioc").distinct().collect()}
        # every ioc that actually occurs as a probe string of some page MUST alert
        probes = pages_df.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.col("url").alias("full"),
            F.regexp_extract(F.regexp_replace("url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), r"^([^?#]*)", 1).alias("hostpath"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
        ).toPandas()
        present = set()
        for col in probes.columns:
            present |= set(probes[col].dropna())
        must_alert = set(active) & present
        assert must_alert, "fixture must contain true positives"
        missed = must_alert - alerted_iocs
        assert not missed, f"false negatives: {missed}"

    def test_blacklist_suppression(self, spark, pages_df, iocs):
        # add blacklisted entries INTO the filter, then veto them
        all_iocs = iocs["ioc"].to_numpy()
        blacklist = list(iocs[iocs["blacklisted"]]["ioc"])
        bf = build_ioc_filter(all_iocs)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_pages(pages_df, bc, blacklist=blacklist)
        hits = alerts.filter(F.col("ioc").isin(blacklist)).count()
        assert hits == 0

    def test_url_chain_precedence(self, spark):
        # the full URL matches, so host+path must NOT emit a second alert
        # (else-if chain, bloom_handler.go:201-235); the host fires on its own
        iocs = ["https://fq.example.com/x", "fq.example.com/x",
                "fq.example.com"]
        bc = spark.sparkContext.broadcast(
            build_ioc_filter(iocs, fpp=1e-7).to_bytes())
        pages = spark.createDataFrame(
            [("https://fq.example.com/x", "2026-06-01T12:00:00Z")],
            "url string, warc_ts string")
        got = sorted((r["match_type"], r["ioc"])
                     for r in bloom_match_pages(pages, bc).collect())
        assert got == [("http-host", "fq.example.com"),
                       ("http-url", "https://fq.example.com/x")]

    def test_signature_format(self, spark, pages_df, iocs):
        active = iocs[~iocs["blacklisted"]]["ioc"].to_numpy()
        bf = build_ioc_filter(active)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        row = bloom_match_pages(pages_df, bc).first()
        assert row["signature"].startswith("BLF Possibly bad HTTP ")
        assert row["signature"].endswith(row["ioc"])


def _events_df(spark):
    rows = [
        # http: host match + url chain precedence targets
        ("http", "evil.example.com", "/mal.php", None, None, None, None),
        ("http", "good.example.com", "/benign", None, None, None, None),
        ("http", "proxy.example.com", "http://fq.example.com/x", None, None, None, None),
        ("http", "hp.example.com", "/deep/path", None, None, None, None),
        # dns query/answer
        ("dns", None, None, "bad.dns.example", "query", None, None),
        ("dns", None, None, "bad.dns.example", "answer", None, None),
        ("dns", None, None, "ok.dns.example", "query", None, None),
        ("dns", None, None, "bad.dns.example", "weird", None, None),  # invalid type
        # tls sni / fingerprint
        ("tls", None, None, None, None, "bad.sni.example", "AA:BB"),
        ("tls", None, None, None, None, "ok.sni.example", "DE:AD:BE:EF"),
        ("tls", None, None, None, None, "ok2.sni.example", "00:11"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_type", "http_host", "http_url",
                                      "dns_rrname", "dns_type", "tls_sni",
                                      "tls_fingerprint"])
    pdf["ts"] = pd.Timestamp("2026-06-01 12:00:00")
    return spark.createDataFrame(pdf)


class TestBloomMatchEvents:
    def test_fever_event_semantics(self, spark):
        iocs = [
            "evil.example.com",          # http-host
            "http://fq.example.com/x",   # full-url probe
            "hp.example.com/deep/path",  # host+path probe
            "bad.dns.example",           # dns
            "bad.sni.example",           # tls-sni
            "DE:AD:BE:EF",               # tls-fingerprint
        ]
        bf = build_ioc_filter(iocs, fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_events(_events_df(spark), bc).toPandas()

        by_type = alerts.groupby("match_type")["ioc"].apply(set).to_dict()
        assert by_type.get("http-host") == {"evil.example.com"}
        # url chain: full URL and host+path matched; path probe for
        # /mal.php did NOT match anything (not an ioc)
        assert by_type.get("http-url") == {"http://fq.example.com/x",
                                           "hp.example.com/deep/path"}
        assert by_type.get("dns-req") == {"bad.dns.example"}
        assert by_type.get("dns-resp") == {"bad.dns.example"}
        assert by_type.get("tls-sni") == {"bad.sni.example"}
        assert by_type.get("tls-fingerprint") == {"DE:AD:BE:EF"}
        # invalid dns_type row is dropped (bloom_handler.go:257-261)
        assert len(alerts[alerts["match_type"].str.startswith("dns")]) == 2

    def test_url_chain_precedence(self, spark):
        # when full URL matches, host+path must NOT emit a second alert
        # (else-if chain, bloom_handler.go:201-235)
        iocs = ["http://fq.example.com/x", "fq.example.com/x"]
        bf = build_ioc_filter(iocs, fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_events(_events_df(spark), bc).toPandas()
        url_alerts = alerts[alerts["match_type"] == "http-url"]
        assert len(url_alerts) == 1
        assert url_alerts.iloc[0]["ioc"] == "http://fq.example.com/x"

    def test_timestamp_event_preserved(self, spark):
        bf = build_ioc_filter(["evil.example.com"], fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_events(_events_df(spark), bc).toPandas()
        assert (alerts["timestamp_event"] == pd.Timestamp("2026-06-01 12:00:00")).all()


def test_pages_and_events_share_http_rule(spark, pages_df, iocs):
    """A page url and the http event carrying the same URL (host =
    try_parse_url(url, 'HOST')) give the same (match_type, ioc) multiset."""
    from collections import Counter

    # blacklisted iocs go INTO the filter, so both paths must veto them
    bc = spark.sparkContext.broadcast(
        build_ioc_filter(iocs["ioc"].to_numpy()).to_bytes())
    blacklist = list(iocs[iocs["blacklisted"]]["ioc"])
    events = pages_df.select(
        F.lit("http").alias("event_type"),
        F.try_parse_url("url", F.lit("HOST")).alias("http_host"),
        F.col("url").alias("http_url"),
        *[F.lit(None).cast("string").alias(c) for c in (
            "dns_rrname", "dns_type", "tls_sni", "tls_fingerprint")],
        F.col("warc_ts").alias("ts"))
    by_page = Counter((r["match_type"], r["ioc"]) for r in
                      bloom_match_pages(pages_df, bc, blacklist).collect())
    by_event = Counter((r["match_type"], r["ioc"]) for r in
                       bloom_match_events(events, bc, blacklist).collect())
    assert by_page and by_page == by_event


class TestBloomReloadLifecycle:
    """Spark-level filter reload-swap parity with the reference's
    TestBloomHandlerFromFile (/root/reference/processing/bloom_handler_test.go:
    429-510): save → match → overwrite the file with a DIFFERENT filter →
    reload → re-broadcast. After the swap, old IOCs must STOP matching and
    the new filter's IOCs must START; mgmt-style Add (mgmt/mgmtserver.go:
    120-139) extends the live filter; the blacklist veto survives reload."""

    def _match_set(self, spark, bf, blacklist=None):
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_events(_events_df(spark), bc,
                                    blacklist=blacklist).toPandas()
        # unpersist so each phase provably uses its own broadcast state
        bc.unpersist(blocking=True)
        return set(alerts["ioc"])

    def test_reload_swap_and_add(self, spark, tmp_path):
        from fever_spark.sketch import BloomFilter

        path = str(tmp_path / "iocs.bloom.gz")
        b1 = build_ioc_filter(["evil.example.com"], capacity=1000, fpp=1e-4)
        b1.save(path)

        # phase 1: b1 from file matches its ioc, not b2's
        loaded = BloomFilter.load(path)
        assert self._match_set(spark, loaded) == {"evil.example.com"}

        # phase 2: mgmt-style Add extends the LIVE filter, re-broadcast
        loaded.add(np.array(["bad.dns.example"], dtype=object))
        loaded.save(path)
        assert self._match_set(spark, BloomFilter.load(path)) == {
            "evil.example.com", "bad.dns.example"}

        # phase 3: overwrite file with a DIFFERENT filter (b2), reload:
        # old ioc stops matching, new one starts (go:484-508)
        b2 = build_ioc_filter(["bad.sni.example"], capacity=1000, fpp=1e-4)
        b2.save(path)
        assert self._match_set(spark, BloomFilter.load(path)) == {
            "bad.sni.example"}

        # phase 4: blacklist veto still applies after reload
        b3 = build_ioc_filter(["evil.example.com", "bad.sni.example"],
                              capacity=1000, fpp=1e-4)
        b3.save(path)
        assert self._match_set(spark, BloomFilter.load(path),
                               blacklist=["evil.example.com"]) == {
            "bad.sni.example"}


class TestStreamingBloomMatch:
    """Fever is a LIVE matcher (socket stream -> bloom probe -> alert
    forward). The Spark analog: bloom_match_events is stateless column
    algebra, so the SAME operator runs unchanged on a streaming DataFrame —
    file stream in, alert rows out via a memory sink."""

    def test_bloom_match_on_file_stream(self, spark, tmp_path):
        import time as _t
        from fever_spark.sources.synth import synth_events

        src = tmp_path / "events_in"
        src.mkdir()
        pdf = synth_events(2000)
        # two micro-batch files
        spark.createDataFrame(pdf.iloc[:1000]).write.mode("overwrite") \
            .parquet(str(src / "b0"))
        spark.createDataFrame(pdf.iloc[1000:]).write.mode("append") \
            .parquet(str(src / "b0"))

        bf = build_ioc_filter(["host3", "name7", "sni5"], fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())

        stream = (spark.readStream
                  .schema(spark.createDataFrame(pdf).schema)
                  .parquet(str(src / "b0")))
        alerts = bloom_match_events(stream, bc)
        assert alerts.isStreaming
        q = (alerts.writeStream.format("memory")
             .queryName("stream_alerts").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(60)

        got = spark.sql("SELECT * FROM stream_alerts").toPandas()
        # batch parity: the streaming result equals the batch operator's
        batch = bloom_match_events(spark.createDataFrame(pdf), bc).toPandas()
        key = ["match_type", "ioc"]
        assert (got.groupby(key).size().sort_index().to_dict()
                == batch.groupby(key).size().sort_index().to_dict())
        assert len(got) == len(batch) > 0


class TestSynthEventsDf:
    """Round-6: distributed event generation (synth_events_df) — same
    value domains as the driver generator, schema-stable, scales without
    driver-memory or task-closure blowup."""

    def test_domains_and_count(self, spark):
        from fever_spark.sources.synth import synth_events_df

        df = synth_events_df(spark, 5000, partitions=4)
        assert df.count() == 5000
        import pyspark.sql.functions as F
        types_ = {r["event_type"] for r in
                  df.select("event_type").distinct().collect()}
        assert types_ <= {"flow", "dns", "http", "tls", "alert"}
        hosts = [r["http_host"] for r in
                 df.filter(F.col("event_type") == "http")
                 .select("http_host").limit(20).collect()]
        assert hosts and all(h.startswith("host") for h in hosts)
        # non-flow events carry zeroed counters (generator invariant)
        bad = df.filter((F.col("event_type") != "flow")
                        & (F.col("bytes_toserver") != 0)).count()
        assert bad == 0

    def test_schema_matches_driver_generator(self, spark):
        from fever_spark.sources.synth import synth_events, synth_events_df

        dist = synth_events_df(spark, 100, partitions=2)
        drv = spark.createDataFrame(synth_events(100))
        assert [f.name for f in dist.schema.fields] == \
            [f.name for f in drv.schema.fields]
