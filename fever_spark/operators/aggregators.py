"""Fever aggregator parity as declarative DataFrame plans (SURVEY.md §2.5).

Each function reproduces one of the reference's hash-aggregate-with-periodic-
flush handlers as a groupBy over an (optionally event-time-windowed)
DataFrame. Fever's flush window is processing-time (flushtime, default 1m,
cmd/fever/cmds/run.go:647); the ``window_duration`` parameter here is the
event-time upgrade — pass None for the all-data (single-flush) semantics the
exact-parity tests use.

State lives in the shuffle (partial aggregation map-side, final reduce-side)
— Spark's HashAggregate does exactly the copy-and-swap partial/final handoff
fever implements by hand (flow_aggregator.go:80-109). No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fever_spark.operators.filters import (flow_quality_predicate,
                                           nonempty_predicate,
                                           proxy_port_predicate)


def _grouped(df: DataFrame, keys: list, ts_col: str | None,
             window_duration: str | None):
    cols = list(keys)
    if window_duration:
        cols = [F.window(F.col(ts_col), window_duration).alias("window")] + cols
    return df.groupBy(*cols)


def flow_aggregate(df: DataFrame, window_duration: str | None = None,
                   ts_col: str = "ts") -> DataFrame:
    """A1 FlowAggregator (processing/flow_aggregator.go:110-149): group by
    (src_ip, dest_ip, dest_port); sum both packet/byte directions, collect
    src ports, keep first timestamp."""
    return _grouped(df, ["src_ip", "dest_ip", "dest_port"], ts_col,
                    window_duration).agg(
        F.sum("pkts_toserver").alias("pkts_toserver"),
        F.sum("pkts_toclient").alias("pkts_toclient"),
        F.sum("bytes_toserver").alias("bytes_toserver"),
        F.sum("bytes_toclient").alias("bytes_toclient"),
        F.sort_array(F.collect_list("src_port")).alias("src_ports"),
        F.min(ts_col).alias("first_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def dns_aggregate(df: DataFrame, window_duration: str | None = None,
                  ts_col: str = "ts") -> DataFrame:
    """A2 DNSAggregator (processing/dns_aggregator.go:120-179): group by
    rrname; dedup sets of src/dest IPs and answer tuples — the exact
    collect_set the reference builds with manual SrcIPSet/AnswerSet maps
    (dns_aggregator.go:148-167), and what HLL replaces at 10^12 scale."""
    return _grouped(df, ["dns_rrname"], ts_col, window_duration).agg(
        F.sort_array(F.collect_set("src_ip")).alias("src_ips"),
        F.sort_array(F.collect_set("dest_ip")).alias("dest_ips"),
        F.sort_array(F.collect_set(F.struct("dns_rrtype", "dns_rdata",
                                            "dns_rcode", "dns_type"))).alias("answers"),
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("first_ts"),
    )


def pdns_aggregate(df: DataFrame, window_duration: str | None = None,
                   ts_col: str = "ts") -> DataFrame:
    """A3 PDNSCollector (processing/pdns_collector.go:123-223): per rrname,
    per distinct answer tuple, a count plus observation window stamps —
    two-level groupBy."""
    per_answer = _grouped(
        df.filter(nonempty_predicate(F.col("dns_rrname"))),
        ["dns_rrname", "dns_rrtype", "dns_rdata", "dns_rcode"], ts_col,
        window_duration).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
    )
    return per_answer


def pdns_aggregate_v2(df: DataFrame, window_duration: str | None = None,
                      ts_col: str = "ts") -> DataFrame:
    """A3 v2 answers-array path (processing/pdns_collector.go:173-223):
    EVE DNS v2 answer events carry an ANSWERS ARRAY; every element counts
    toward its own reply-detail tuple under the event's rrname. The v2
    AnswerSet key is (src_ip answering host, answer rrtype, answer rdata,
    event rcode/type) — explode the array, then one grouped count with
    first/last-seen window stamps.

    Scale shape: explode is pipelined into the scan (no extra shuffle);
    the single groupBy on the detail tuple is the only exchange, with
    map-side partial aggregation."""
    ans = (df.filter((F.col("dns_type") == "answer")
                     & nonempty_predicate(F.col("dns_rrname"))
                     & (F.size("dns_answers") > 0))
           .select("dns_rrname", F.col("src_ip").alias("answering_host"),
                   "dns_rcode", ts_col, F.explode("dns_answers").alias("a"))
           .select("dns_rrname", "answering_host", "dns_rcode", ts_col,
                   F.col("a.rrtype").alias("rrtype"),
                   F.col("a.rdata").alias("rdata")))
    return _grouped(ans, ["dns_rrname", "answering_host", "rrtype", "rdata",
                          "dns_rcode"], ts_col, window_duration).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
    )


def unicorn_flow_report(df: DataFrame, all_flows: bool = False,
                        window_duration: str | None = None,
                        ts_col: str = "ts") -> DataFrame:
    """A4 UnicornAggregator flow tuples (processing/unicorn_aggregator.go:
    145-155, 202-208): filter proto==TCP && bytes_toclient>0 (unless
    all_flows), group by src_ip/dest_ip/dest_port, count + both byte sums.
    The group key is the multi-column groupBy, not fever's '_'-joined string
    — idiomatic and shuffle-equivalent."""
    flows = df.filter(F.col("event_type") == "flow")
    if not all_flows:
        flows = flows.filter(flow_quality_predicate(
            F.col("proto"), F.col("bytes_toclient")))
    return _grouped(flows, ["src_ip", "dest_ip", "dest_port"], ts_col,
                    window_duration).agg(
        F.count(F.lit(1)).alias("count"),
        F.sum("bytes_toclient").alias("bytes_toclient"),
        F.sum("bytes_toserver").alias("bytes_toserver"),
    )


def unicorn_proxy_map(df: DataFrame, window_duration: str | None = None,
                      ts_col: str = "ts") -> DataFrame:
    """A5 Unicorn proxy map (unicorn_aggregator.go:158-165, port predicate
    :215): http events to proxy ports, counted per (dest_ip, http_host)."""
    http = df.filter((F.col("event_type") == "http")
                     & proxy_port_predicate(F.col("dest_port"))
                     & F.col("http_host").isNotNull())
    return _grouped(http, ["dest_ip", "http_host"], ts_col,
                    window_duration).agg(F.count(F.lit(1)).alias("count"))


def event_profile(df: DataFrame, payload_col: str = "props") -> DataFrame:
    """A6 EventProfiler (processing/event_profiler.go:127-134): per
    event_type, event count and total payload bytes."""
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.octet_length(F.col(payload_col))).alias("total_bytes"),
    )


def flow_profile(df: DataFrame) -> DataFrame:
    """A7 FlowProfiler (processing/flow_profiler.go:93-107): per app_proto
    (null → 'unknown'), the four directional sums."""
    return (df.filter(F.col("event_type") == "flow")
            .groupBy(F.coalesce(F.col("app_proto"), F.lit("unknown"))
                     .alias("app_proto"))
            .agg(F.sum("pkts_toserver").alias("pkts_toserver"),
                 F.sum("pkts_toclient").alias("pkts_toclient"),
                 F.sum("bytes_toserver").alias("bytes_toserver"),
                 F.sum("bytes_toclient").alias("bytes_toclient")))


def top_k(df: DataFrame, keys: list[str], k: int,
          order_col: str = "count") -> DataFrame:
    """Exact top-k per the whole frame: groupBy + count + orderBy + limit
    (the exact counterpart the CMS heavy-hitter estimate is verified
    against, SURVEY.md §2.6)."""
    return (df.groupBy(*keys).agg(F.count(F.lit(1)).alias(order_col))
            .orderBy(F.col(order_col).desc(), *keys).limit(k))
