"""EVE-JSON parse/projection, Suricata timestamps, alert JSON rewrite,
trigram search strings, heartbeat rows, multi-forward, alertify CLI."""

import json

import pytest
from pyspark.sql import functions as F

from fever_spark.jobs.alertify import alertify
from fever_spark.sources import eve


EVE_LINES = [
    json.dumps({"timestamp": "2026-06-01T12:00:00.123456+0000",
                "event_type": "http", "src_ip": "10.0.0.1", "src_port": 1234,
                "dest_ip": "192.0.2.5", "dest_port": 80, "proto": "TCP",
                "flow_id": "123456789",
                "http": {"hostname": "evil.example.com", "url": "/mal",
                         "http_method": "GET"},
                "unknown_field": {"passes": "through"}}),
    json.dumps({"timestamp": "2026-06-01T12:00:01.000000+0000",
                "event_type": "dns", "src_ip": "10.0.0.2",
                "dns": {"rrname": "bad.dns.example", "type": "query",
                        "rrtype": "A", "rcode": "NOERROR",
                        "answers": [{"rrname": "bad.dns.example",
                                     "rrtype": "A", "rdata": "198.51.100.1"}]}}),
    json.dumps({"timestamp": "2026-06-01T12:00:02.000000",  # zone-less
                "event_type": "tls",
                "tls": {"sni": "ok.sni.example", "fingerprint": "AA:BB"}}),
    "this is not json at all",
    json.dumps({"timestamp": "2026-06-01T12:00:03.000000+0000",
                "event_type": "flow", "proto": "TCP",
                "flow": {"bytes_toclient": 10, "bytes_toserver": 20,
                         "pkts_toclient": 1, "pkts_toserver": 2}}),
]


@pytest.fixture(scope="module")
def lines(spark):
    return spark.createDataFrame([(l,) for l in EVE_LINES], "value string")


class TestParseEve:
    def test_projection(self, lines):
        parsed = eve.parse_eve(lines).toPandas().set_index("event_type")
        assert parsed.loc["http", "http_host"] == "evil.example.com"
        assert parsed.loc["dns", "dns_rrname"] == "bad.dns.example"
        assert parsed.loc["dns", "dns_answers"][0]["rdata"] == "198.51.100.1"
        assert parsed.loc["tls", "tls_sni"] == "ok.sni.example"
        assert parsed.loc["flow", "bytes_toclient"] == 10
        assert parsed.loc["http", "flow_id"] == "123456789"

    def test_bad_line_yields_nulls_and_raw_kept(self, lines):
        parsed = eve.parse_eve(lines).toPandas()
        bad = parsed[parsed["json_line"] == "this is not json at all"]
        assert len(bad) == 1 and bad["event_type"].isna().all()
        # raw line retained for every row (JSONLine analog)
        assert (parsed["json_line"].str.len() > 0).all()

    def test_pruned_parse_equals_full_parse_on_every_subset(self, lines):
        # the schema pruner must never change VALUES — each random column
        # subset must read identically to the same columns of a full parse
        import random

        from fever_spark.sources.eve import EVE_COLUMNS

        full = eve.parse_eve(lines).orderBy("json_line").collect()
        rng = random.Random(3)
        subsets = [rng.sample(EVE_COLUMNS, rng.randrange(1, 9))
                   for _ in range(5)]
        subsets.append(["dns_answers", "bytes_toclient"])  # nested+struct
        for cols in subsets:
            got = (eve.parse_eve(lines, columns=["json_line"] + [
                c for c in cols if c != "json_line"])
                .orderBy("json_line").collect())
            want_cols = ["json_line"] + [c for c in cols if c != "json_line"]
            for g, f in zip(got, full):
                for c in want_cols:
                    assert g[c] == f[c], (c, g[c], f[c])

    def test_plan_parses_each_line_exactly_once(self, lines):
        # the measured regression this pins: per-column getField over the
        # from_json expression gets optimizer-rewritten into one pruned
        # parse PER COLUMN (25 from_json calls, ~4.5x wall); the staged
        # projection shape must keep exactly ONE from_json in the
        # OPTIMIZED plan, full and pruned alike
        for cols in (None, ["event_type", "ts", "http_host", "dns_rrname"]):
            plan = (eve.parse_eve(lines, columns=cols)
                    ._jdf.queryExecution().optimizedPlan().toString())
            assert plan.count("from_json") == 1, (cols, plan)

    def test_match_plan_has_one_python_udf_node(self, lines, spark):
        # bloom_match_events' seven probes ride ONE vectorized UDF call;
        # Catalyst filter pushdown used to re-evaluate it (2x
        # ArrowEvalPython) until the asNondeterministic guard
        from fever_spark.ops.bloom_match import (bloom_match_events,
                                                 build_ioc_filter)

        bc = spark.sparkContext.broadcast(
            build_ioc_filter(["evil.example.com"]).to_bytes())
        plan = (bloom_match_events(eve.parse_eve(lines), bc)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_timestamp_parse_with_zoneless_fallback(self, lines):
        parsed = eve.parse_eve(lines).toPandas()
        ok = parsed[parsed["event_type"].notna()]
        assert ok["ts"].notna().all()

    def test_timestamp_roundtrip(self, spark):
        df = spark.createDataFrame([("2026-06-01T12:00:00.123456+0000",)],
                                   "raw string")
        out = df.select(eve.format_suricata_ts(
            eve.parse_suricata_ts(F.col("raw"))).alias("rt")).first()
        assert out["rt"] == "2026-06-01T12:00:00.123456+0000"


class TestTrigramAndHeartbeat:
    def test_trigram_search_string(self, lines):
        parsed = eve.parse_eve(lines)
        got = parsed.withColumn("s", eve.trigram_search_string(parsed)) \
            .select("event_type", "s").toPandas().set_index("event_type")
        assert got.loc["http", "s"] == "evil.example.com|/mal|GET"
        assert got.loc["dns", "s"].startswith("bad.dns.example|")
        assert got.loc["flow", "s"] == ""

    def test_heartbeat(self, spark):
        hb = eve.heartbeat_events(spark, ["http", "alert"]).toPandas()
        assert len(hb) == 2
        row = hb.set_index("event_type")
        assert row.loc["http", "http_host"].startswith("test-20")
        assert row.loc["http", "http_host"].endswith(".vast")
        assert row.loc["alert", "http_host"] == "testalert.fever"


class TestAlertify:
    def test_alert_json_rewrite(self, spark, lines):
        alerts = alertify(lines, ["evil.example.com", "bad.dns.example"])
        pdf = alerts.toPandas()
        assert len(pdf) == 2
        for raw in pdf["alert_json"]:
            obj = json.loads(raw)  # duplicate keys: last wins, like jsonparser.Set
            assert obj["event_type"] == "alert"
            assert obj["alert"]["signature"].startswith("ALERTIFY Possibly bad")
            assert obj["_extra"]["bloom-ioc"] == obj["alert"]["ioc"]
            assert obj["timestamp_event"].startswith("2026-06-01T12:00:0")
            assert obj["timestamp"] != obj["timestamp_event"]
            # untouched fields survive the rewrite (CHANGELOG.md:146 behavior)
            if "unknown_field" in raw:
                assert obj["unknown_field"] == {"passes": "through"}

    def test_no_match_no_alert(self, spark, lines):
        assert alertify(lines, ["nothing.matches.example"]).count() == 0

    def test_alert_obj_is_nested_json(self, spark, lines):
        row = alertify(lines, ["evil.example.com"]).first()
        obj = json.loads(row["alert_json"])
        assert isinstance(obj["alert"], dict)  # not a stringified blob


class TestMalformedInput:
    """fever logs-and-skips unparseable lines (input/input_socket.go:94-101);
    parse_eve must null them out, never fail the job."""

    GARBAGE = [
        "not json at all",
        '{"event_type": "http", "http": {"hostname": "ok.example"',  # truncated
        "",
        "\x00\x01\x02 binary junk",
        "[1, 2, 3]",            # valid JSON, wrong shape
        '"just a string"',
    ]

    def test_garbage_lines_null_out(self, spark):
        from fever_spark.sources.eve import parse_eve

        good = ('{"timestamp": "2024-01-01T00:00:00.000000+0000", '
                '"event_type": "http", "src_ip": "10.0.0.1", '
                '"http": {"hostname": "ok.example", "url": "/x"}}')
        df = spark.createDataFrame(
            [(ln,) for ln in self.GARBAGE + [good]], "value string")
        parsed = parse_eve(df)
        assert parsed.count() == len(self.GARBAGE) + 1  # nothing crashes
        kept = parsed.filter(parsed.event_type.isNotNull())
        rows = kept.collect()
        assert len(rows) == 1
        assert rows[0]["http_host"] == "ok.example"

    def test_alert_pipeline_survives_garbage(self, spark):
        """End-to-end: garbage + one matching event through parse ->
        bloom match -> alertify."""
        from fever_spark.ops.bloom_match import bloom_match_events, build_ioc_filter
        from fever_spark.sources.eve import parse_eve

        good = ('{"timestamp": "2024-01-01T00:00:00.000000+0000", '
                '"event_type": "http", '
                '"http": {"hostname": "evil.example", "url": "/mal"}}')
        df = spark.createDataFrame(
            [(ln,) for ln in self.GARBAGE + [good]], "value string")
        ev = parse_eve(df).filter(F.col("event_type").isNotNull())
        bf = build_ioc_filter(["evil.example"], fpp=1e-7)
        bc = spark.sparkContext.broadcast(bf.to_bytes())
        alerts = bloom_match_events(ev, bc).collect()
        assert len(alerts) >= 1
        assert all(a["ioc"] == "evil.example" for a in alerts)


class TestPerTypeCollections:
    """S9: one partitionBy pass -> one collection dir per event type,
    unknown types routed to misc, capped-collection retention."""

    def test_split_and_misc_routing(self, spark, tmp_path):
        from fever_spark.sources.eve import per_type_collections

        df = spark.createDataFrame(
            [("dns", 1), ("dns", 2), ("http", 3), ("weird_proto", 4),
             ("flow", 5)], "event_type string, payload long")
        base = str(tmp_path / "colls")
        written = per_type_collections(df, base)
        assert written == {"dns": 2, "http": 1, "flow": 1, "misc": 1}
        import os
        assert sorted(d for d in os.listdir(base)
                      if d.startswith("_collection=")) == [
            "_collection=dns", "_collection=flow",
            "_collection=http", "_collection=misc"]
        # misc carries the unknown-typed row (reference: TypeDispatch
        # fallback, slurper_mongodb.go:276-287)
        misc = spark.read.parquet(base).filter(
            F.col("_collection") == "misc").collect()
        assert [r["payload"] for r in misc] == [4]

    def test_capped_retention_drops_oldest_keeps_newest(self, spark,
                                                        tmp_path):
        import os
        from fever_spark.sources.eve import per_type_collections

        df = spark.createDataFrame(
            [("dns", i) for i in range(200)],
            "event_type string, payload long")
        base = str(tmp_path / "capped")
        # cap so small that dns's 0.25 fraction can't hold all its parts:
        # the call itself must delete oldest-first but always keep the
        # newest part (capped collections never go empty)
        written = per_type_collections(df.repartition(4), base,
                                       max_size_bytes=4)
        cdir = os.path.join(base, "_collection=dns")
        left = [p for p in os.listdir(cdir) if p.endswith(".parquet")]
        assert len(left) == 1          # all but the newest part dropped
        remaining = spark.read.parquet(base).count()
        assert 0 < remaining < 200
        # counts reflect what SURVIVED retention, not the full write
        assert written["dns"] == remaining

    def test_append_mode_cap_evicts_prior_generation_first(self, spark,
                                                           tmp_path):
        import os
        import time
        from fever_spark.sources.eve import per_type_collections

        base = str(tmp_path / "gen")
        gen1 = spark.createDataFrame(
            [("dns", i) for i in range(50)], "event_type string, payload long")
        per_type_collections(gen1.coalesce(1), base, mode="append")
        cdir = os.path.join(base, "_collection=dns")
        first_parts = {p for p in os.listdir(cdir) if p.endswith(".parquet")}
        # ensure a strictly later mtime for generation 2
        past = time.time() - 100
        for p in first_parts:
            os.utime(os.path.join(cdir, p), (past, past))

        gen2 = spark.createDataFrame(
            [("dns", 1000 + i) for i in range(50)],
            "event_type string, payload long")
        size_one_gen = sum(os.path.getsize(os.path.join(cdir, p))
                           for p in first_parts)
        # cap dns's fraction to ~one generation: the OLDER generation's
        # parts must be evicted, the new ones kept
        per_type_collections(gen2.coalesce(1), base, mode="append",
                             max_size_bytes=int(size_one_gen / 0.25) + 8)
        left = {p for p in os.listdir(cdir) if p.endswith(".parquet")}
        assert not (left & first_parts)     # generation 1 evicted
        payloads = {r["payload"] for r in
                    spark.read.parquet(base).collect()}
        assert payloads and min(payloads) >= 1000   # newest generation kept
