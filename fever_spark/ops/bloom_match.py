"""Fever-semantics Bloom IOC matching over DataFrames.

Behavioral reference: /root/reference/processing/bloom_handler.go:165-291
(probe logic), util/alertifier.go:86-168 + util/alertifier_providers.go:12-73
(alert row synthesis), with the blacklist veto of bloom_handler.go:171-226.

Spark-first shape: the filter state is a BROADCAST byte array of raw
indicator strings (what ``bloomctl`` writes and ``pages_report``/
``run_pipeline`` load; the only broadcast format) probed by a vectorized
pandas UDF. Everything else — probe strings, match-type precedence,
blacklist veto, alert rows — is native Catalyst, so the only Python in the
hot path is the k-probe bitset lookup itself.

Match semantics reproduced exactly:
- http (events and pages, one shared rule): the host probe fires
  INDEPENDENTLY ("http-host"); the url probes are an if/else-if chain —
  full URL, else host+path, else path — emitting at most ONE "http-url"
  alert per event (bloom_handler.go:201-235).
- a null or empty probe never matches (bloom_handler.go's skip-on-empty).
- dns: rrname probe, match type "dns-req" for queries / "dns-resp" for
  answers (bloom_handler.go:239-263).
- tls: SNI first, else fingerprint (bloom_handler.go:265-288).
- a match whose ioc string is blacklisted is suppressed (go:171 etc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fever_spark.functions import urls as U
from fever_spark.ops.estimate import bloom_contains_multi
from fever_spark.sketch import BloomFilter

DEFAULT_PREFIX = "BLF"  # reference default, cmd/fever/cmds/run.go:719

# message formats from util/alertifier_providers.go:12-73
_MSG = {
    "http-host": "Possibly bad HTTP host: ",
    "http-url": "Possibly bad HTTP URL: ",
    "dns-req": "Possibly bad DNS lookup to ",
    "dns-resp": "Possibly bad DNS response for ",
    "tls-sni": "Possibly bad TLS SNI: ",
    "tls-fingerprint": "Possibly bad TLS Fingerprint: ",
}


def build_ioc_filter(iocs, capacity: int | None = None, fpp: float = 1e-7,
                     seed: int = 0) -> BloomFilter:
    """Build the IOC Bloom filter from an iterable/array of strings.
    Default fpp mirrors the reference's test fixture
    (processing/bloom_handler_test.go:282)."""
    import numpy as np

    arr = np.asarray(list(iocs) if not hasattr(iocs, "__len__") else iocs,
                     dtype=object)
    bf = BloomFilter(capacity=capacity or max(len(arr), 1), fpp=fpp, seed=seed)
    if len(arr):
        bf.update(arr)
    return bf


def _http_alert_rule(blacklist: list[str] | None):
    """fever's HTTP alert rule over the staged ``_host``/``_full``/
    ``_hostpath``/``_path`` probes, whose hits are bits 0-3 of ``_hits``.
    Returns ``bit(i)``, the "http-host" and "http-url" alert structs (host
    fires on its own; url is the else-if chain) and ``keep_alert``, the
    filter on the exploded alert ``a`` that drops empty alerts and applies
    the blacklist veto."""
    def bit(i):
        return F.col("_hits").bitwiseAND(F.lit(1 << i)) != 0

    host_ioc = F.when(bit(0), F.col("_host"))
    url_ioc = (F.when(bit(1), F.col("_full"))
               .when(bit(2), F.col("_hostpath"))
               .when(bit(3), F.col("_path")))
    http_alerts = [
        F.struct(F.lit("http-host").alias("match_type"),
                 host_ioc.alias("ioc")),
        F.struct(F.lit("http-url").alias("match_type"),
                 url_ioc.alias("ioc"))]
    not_blacklisted = (
        ~F.array_contains(F.array(*map(F.lit, blacklist)), F.col("a.ioc"))
        if blacklist else F.lit(True))
    keep_alert = (F.col("a.ioc").isNotNull()
                  & F.col("a.match_type").isNotNull()
                  & not_blacklisted)
    return bit, http_alerts, keep_alert


def make_event_matcher(bloom_bc, blacklist: list[str] | None = None,
                       prefix: str = DEFAULT_PREFIX):
    """Build the event matcher ONCE, apply it per DataFrame.

    Returns ``match(events) -> alerts`` with every Column expression —
    including the pandas-UDF probe column, whose creation cloudpickles
    the closure on each call — constructed up front. Column objects are
    plan-independent, so a per-trigger caller (the run_pipeline daemon)
    pays the ~60 py4j expression builds and the UDF pickling once per
    filter (re)load instead of once per micro-batch; applying the
    matcher is a handful of DataFrame method calls."""
    bit, http_alerts, keep_alert = _http_alert_rule(blacklist)

    is_http = F.col("event_type") == "http"
    # invalid dns_type rows are dropped (bloom_handler.go:257-261)
    is_dns = (F.col("event_type") == "dns") & F.col("dns_type").isin("query", "answer")
    is_tls = F.col("event_type") == "tls"

    probes = U.probe_columns(F.col("http_host"), F.col("http_url"))
    type_filter = F.col("event_type").isin("http", "dns", "tls")
    staged_cols = [
        F.col("ts"), F.col("dns_type"),
        F.when(is_http, probes["host"]).alias("_host"),
        F.when(is_http, probes["url"]).alias("_full"),
        F.when(is_http, probes["hostpath"]).alias("_hostpath"),
        F.when(is_http, probes["path"]).alias("_path"),
        F.when(is_dns, F.col("dns_rrname")).alias("_rrname"),
        F.when(is_tls, F.col("tls_sni")).alias("_sni"),
        F.when(is_tls, F.col("tls_fingerprint")).alias("_fp")]
    hits_col = bloom_contains_multi(
        bloom_bc, F.col("_host"), F.col("_full"), F.col("_hostpath"),
        F.col("_path"), F.col("_rrname"), F.col("_sni"), F.col("_fp"))

    dns_mt = F.when(F.col("dns_type") == "query",
                    F.lit("dns-req")).otherwise(F.lit("dns-resp"))
    # tls: SNI first, else fingerprint (go:265-288)
    tls_mt = (F.when(bit(5), F.lit("tls-sni"))
              .when(bit(6), F.lit("tls-fingerprint")))
    tls_ioc = F.when(bit(5), F.col("_sni")).when(bit(6), F.col("_fp"))

    hits_nonzero = F.col("_hits") != 0
    alerts_col = F.array(
        *http_alerts,
        F.struct(dns_mt.alias("match_type"),
                 F.when(bit(4), F.col("_rrname")).alias("ioc")),
        F.struct(tls_mt.alias("match_type"), tls_ioc.alias("ioc")))
    ts_alias = F.col("ts").alias("timestamp_event")  # original event time
    explode_col = F.explode("_alerts").alias("a")
    out_cols = [F.col("timestamp_event"),
                F.lit("alert").alias("event_type"),
                F.col("a.match_type").alias("match_type"),
                F.col("a.ioc").alias("ioc")]
    sig_cols = ["timestamp_event", "event_type", "match_type", "ioc",
                F.concat(F.lit(prefix + " "), _msg_col(),
                         F.col("ioc")).alias("signature")]

    def match(events: DataFrame) -> DataFrame:
        return (events
                .filter(type_filter)
                .select(*staged_cols)
                .withColumn("_hits", hits_col)
                .filter(hits_nonzero)  # early-out: most events match nothing
                .withColumn("_alerts", alerts_col)
                .select(ts_alias, explode_col)
                .filter(keep_alert)
                .select(*out_cols)
                .select(*sig_cols))

    return match


def bloom_match_events(events: DataFrame, bloom_bc, blacklist: list[str] | None = None,
                       prefix: str = DEFAULT_PREFIX) -> DataFrame:
    """Fever's BloomHandler over a flat events table (FIXTURES.md §3 schema:
    event_type, http_host, http_url, dns_rrname, dns_type, tls_sni,
    tls_fingerprint, ts, ...). Returns alert rows:
    (timestamp_event, event_type='alert', match_type, ioc, signature).

    ONE table scan, ONE vectorized membership UDF for all SEVEN probe
    columns (http host/url/hostpath/path, dns rrname, tls sni/fingerprint)
    → int64 bitmask, same plan shape as ``bloom_match_pages``. Non-relevant
    event types carry NULL in a probe column (tests False, near-free), so
    the Arrow round-trip count is 1 regardless of event mix.

    Per-trigger callers: build the matcher once with
    ``make_event_matcher`` and reuse it across micro-batches.
    """
    return make_event_matcher(bloom_bc, blacklist, prefix)(events)


def _msg_col():
    expr = None
    for mt, msg in _MSG.items():
        cond = F.col("match_type") == mt
        expr = F.when(cond, F.lit(msg)) if expr is None else expr.when(cond, F.lit(msg))
    return expr.otherwise(F.lit(""))


def bloom_match_pages(pages: DataFrame, bloom_bc,
                      blacklist: list[str] | None = None,
                      prefix: str = DEFAULT_PREFIX) -> DataFrame:
    """The same 4-probe matching over the Common-Crawl-style pages table:
    the url column supplies host / full-url / host+path / path probes, and
    the HTTP alert rule of the events matcher applies unchanged. Returns
    (url, warc_ts, match_type, ioc, signature).

    ONE table scan, ONE vectorized membership UDF call for all four probes
    (int64 bitmask out), then an explode over the at-most-two alert rows —
    the Arrow round-trip count doesn't grow with probe count."""
    _, http_alerts, keep_alert = _http_alert_rule(blacklist)
    probes = U.page_url_probes(F.col("url"))
    return (
        pages.select("url", "warc_ts",
                     probes["host"].alias("_host"),
                     probes["url"].alias("_full"),
                     probes["hostpath"].alias("_hostpath"),
                     probes["path"].alias("_path"))
        .withColumn("_hits", bloom_contains_multi(
            bloom_bc, F.col("_host"), F.col("_full"), F.col("_hostpath"),
            F.col("_path")))
        .filter(F.col("_hits") != 0)  # early-out: most pages match nothing
        .select("url", "warc_ts", F.explode(F.array(*http_alerts)).alias("a"))
        .filter(keep_alert)
        .select("url", "warc_ts", F.col("a.match_type").alias("match_type"),
                F.col("a.ioc").alias("ioc"))
        .select("url", "warc_ts", "match_type", "ioc",
                F.concat(F.lit(prefix + " "), _msg_col(),
                         F.col("ioc")).alias("signature")))
