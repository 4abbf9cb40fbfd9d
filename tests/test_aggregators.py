"""Fever aggregator-parity tests: the randomized conservation pattern of
processing/flow_aggregator_test.go:40-139 — grouped sums must exactly equal
input sums, per-port lists reconcile, dedup sets match exact distinct."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fever_spark.operators import aggregators as A
from fever_spark.operators import filters as P
from fever_spark.sources.synth import synth_events


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(synth_events(20_000)).cache()


@pytest.fixture(scope="module")
def events_pdf():
    return synth_events(20_000)


class TestFlowAggregate:
    def test_conservation(self, spark, events, events_pdf):
        agg = A.flow_aggregate(events).toPandas()
        # total sums conserved exactly (flow_aggregator_test.go invariant)
        for c in ("pkts_toserver", "pkts_toclient", "bytes_toserver", "bytes_toclient"):
            assert agg[c].sum() == events_pdf[c].sum()
        # per-key port multiplicity reconciles
        assert agg["src_ports"].map(len).sum() == len(events_pdf)
        assert agg["n_events"].sum() == len(events_pdf)

    def test_group_key_parity(self, events, events_pdf):
        agg = A.flow_aggregate(events).toPandas()
        exact = events_pdf.groupby(["src_ip", "dest_ip", "dest_port"]).size()
        assert len(agg) == len(exact)


class TestDnsAggregate:
    def test_dedup_sets_match_exact(self, events, events_pdf):
        agg = A.dns_aggregate(events.filter(F.col("event_type") == "dns"))
        got = {r["dns_rrname"]: r for r in agg.collect()}
        dns = events_pdf[events_pdf.event_type == "dns"]
        for rrname, grp in dns.groupby("dns_rrname"):
            row = got[rrname]
            assert set(row["src_ips"]) == set(grp["src_ip"])
            assert set(row["dest_ips"]) == set(grp["dest_ip"])
            answers = {(a["dns_rrtype"], a["dns_rdata"], a["dns_rcode"], a["dns_type"])
                       for a in row["answers"]}
            exact = set(map(tuple, grp[["dns_rrtype", "dns_rdata", "dns_rcode",
                                        "dns_type"]].itertuples(index=False)))
            assert answers == exact


class TestPdnsAggregate:
    def test_v1_counts_match_exact(self, spark, events_pdf):
        # a few empty rrnames beside the non-dns nulls: both are dropped
        pdf = events_pdf.copy()
        pdf.loc[pdf.index[pdf.event_type == "dns"][:5], "dns_rrname"] = ""
        got = A.pdns_aggregate(spark.createDataFrame(pdf)).toPandas()
        keys = ["dns_rrname", "dns_rrtype", "dns_rdata", "dns_rcode"]
        dns = pdf[pdf.dns_rrname.notna() & (pdf.dns_rrname != "")]
        exact = dns.groupby(keys).agg(count=("ts", "size"),
                                      first_seen=("ts", "min"),
                                      last_seen=("ts", "max"))
        got = got.set_index(keys).sort_index()
        assert len(got) == len(exact)
        assert (got["count"] == exact["count"]).all()
        assert got["count"].sum() == len(dns)
        assert (got["first_seen"] == exact["first_seen"]).all()
        assert (got["last_seen"] == exact["last_seen"]).all()


class TestUnicorn:
    def test_flow_report_filter_and_sums(self, events, events_pdf):
        rep = A.unicorn_flow_report(events).toPandas()
        flows = events_pdf[(events_pdf.event_type == "flow")
                           & (events_pdf.proto == "TCP")
                           & (events_pdf.bytes_toclient > 0)]
        assert rep["count"].sum() == len(flows)
        assert rep["bytes_toclient"].sum() == flows["bytes_toclient"].sum()

    def test_all_flows_mode(self, events, events_pdf):
        rep = A.unicorn_flow_report(events, all_flows=True).toPandas()
        assert rep["count"].sum() == (events_pdf.event_type == "flow").sum()

    def test_proxy_map(self, events, events_pdf):
        rep = A.unicorn_proxy_map(events).toPandas()
        http = events_pdf[events_pdf.event_type == "http"]
        proxy = http[http.dest_port.isin([3128, 80])
                     | http.dest_port.between(8000, 8999)]
        assert rep["count"].sum() == len(proxy)


class TestProfilers:
    def test_event_profile(self, spark, events, events_pdf):
        prof = A.event_profile(events.withColumn("props", F.col("src_ip"))) \
            .toPandas().set_index("event_type")
        counts = events_pdf.event_type.value_counts()
        for et, n in counts.items():
            assert prof.loc[et, "n_events"] == n

    def test_flow_profile_null_coalesce(self, events, events_pdf):
        prof = A.flow_profile(events).toPandas()
        assert "unknown" in set(prof["app_proto"])
        flows = events_pdf[events_pdf.event_type == "flow"]
        assert prof["bytes_toserver"].sum() == flows["bytes_toserver"].sum()


class TestWindowed:
    def test_windowed_flow_aggregate_conserves(self, events, events_pdf):
        agg = A.flow_aggregate(events, window_duration="1 minute").toPandas()
        assert agg["n_events"].sum() == len(events_pdf)
        # multiple windows actually materialize
        assert agg["window"].map(lambda w: w["start"]).nunique() > 10


class TestFilters:
    def test_ipv4_to_long(self, spark):
        df = spark.createDataFrame(
            [("1.2.3.4",), ("255.255.255.255",), ("999.1.1.1",), ("junk",), (None,)],
            "ip string")
        got = [r["v"] for r in df.select(P.ipv4_to_long(F.col("ip")).alias("v")).collect()]
        assert got == [16909060, 4294967295, None, None, None]

    def test_private_ip_predicate(self, spark):
        df = spark.createDataFrame(
            [("10.1.2.3", True), ("172.16.0.1", True), ("172.32.0.1", False),
             ("192.168.9.9", True), ("8.8.8.8", False)], "ip string, expect boolean")
        got = df.withColumn("got", P.private_ip_predicate(F.col("ip"))).collect()
        for r in got:
            assert r["got"] == r["expect"], r["ip"]

    def test_cidr_match_broadcast_and_multimatch(self, spark, events):
        ranges = P.cidr_ranges_df(spark, ["10.0.0.0/8", "10.0.0.0/28", "not-a-cidr",
                                          "2001:db8::/32"])
        assert ranges.count() == 2  # junk + v6 skipped
        alerts = P.ip_blacklist_alerts(events.limit(500), ranges)
        pdf = alerts.toPandas()
        # every src_ip is 10.0.0.x → matches /8 always, /28 iff x<16;
        # one alert per (event, network, side)
        assert (pdf["matched_side"] == "src").sum() >= 500
        assert pdf["signature"].str.startswith("IP-BLACKLIST Possibly bad traffic").all()
        # broadcast plan: no shuffle of the big side
        plan = P.cidr_match(events, ranges, "src_ip")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan

    def test_event_type_filter(self, events):
        assert A.event_profile(
            P.event_type_filter(events.withColumn("props", F.lit("x")),
                                ["flow", "dns"])).count() == 2
