"""Composed EVE streaming pipeline (jobs/run_pipeline.py): the fever
main-loop chain — parse → Bloom alerting → forwards → sketch stats — over
a drop dir, with exactly-once restart semantics."""

import json
import os

import pytest
from pyspark.sql import functions as F

from fever_spark.jobs.run_pipeline import run_pipeline
from fever_spark.sources.submitter import consume_spool

L_HTTP_EVIL = ('{"event_type": "http", "timestamp": "2026-06-01T12:00:00.0+0000",'
               ' "src_ip": "10.0.0.1",'
               ' "http": {"hostname": "evil.example.com", "url": "/x"}}')
L_HTTP_OK = ('{"event_type": "http", "timestamp": "2026-06-01T12:00:01.0+0000",'
             ' "src_ip": "10.0.0.2",'
             ' "http": {"hostname": "ok.example.org", "url": "/y"}}')
L_DNS_BAD = ('{"event_type": "dns", "timestamp": "2026-06-01T12:00:02.0+0000",'
             ' "src_ip": "10.0.0.3",'
             ' "dns": {"type": "query", "rrname": "bad.dns.example"}}')
L_FLOW = ('{"event_type": "flow", "timestamp": "2026-06-01T12:00:03.0+0000",'
          ' "src_ip": "10.0.0.4", "flow": {"bytes_toclient": 10}}')

IOCS = ["evil.example.com", "bad.dns.example"]


def _drop(path, name, lines):
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(path, name))


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k)
            for k in ("in", "out", "ckpt", "spool", "state")}


class TestRunPipeline:
    def test_end_to_end_chain(self, spark, dirs):
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL, L_HTTP_OK, L_FLOW])
        _drop(dirs["in"], "b.jsonl", [L_DNS_BAD, L_FLOW])
        summary = run_pipeline(
            spark, dirs["in"], dirs["out"], IOCS, checkpoint=dirs["ckpt"],
            spool=dirs["spool"],
            forwards={"dns_only": ["dns"], "all": []})
        assert summary["alerts"] == 2
        alerts = spark.read.parquet(os.path.join(dirs["out"], "alerts"))
        by_ioc = {r["ioc"] for r in alerts.collect()}
        assert by_ioc == {"evil.example.com", "bad.dns.example"}

        # forwards: type filter respected, all batches present
        dns_fw = spark.read.json(
            os.path.join(dirs["out"], "forward", "dns_only", "batch=*"))
        assert {r["event_type"] for r in dns_fw.collect()} == {"dns"}
        all_fw = spark.read.json(
            os.path.join(dirs["out"], "forward", "all", "batch=*"))
        assert all_fw.count() == 5

        # spool carries the alert payloads
        msgs = consume_spool(dirs["spool"], ack=False)
        rows = [r for m in msgs for r in json.loads(m["payload"])]
        assert {r["ioc"] for r in rows} == set(IOCS)

        # manifest written and matches
        man = json.load(open(os.path.join(dirs["out"],
                                          "_run_manifest.json")))
        assert man["alerts"] == 2 and man["batches"] == summary["batches"]

    def test_stats_accumulate_per_event_type(self, spark, dirs):
        _drop(dirs["in"], "a.jsonl",
              [L_HTTP_EVIL, L_HTTP_OK, L_DNS_BAD, L_FLOW, L_FLOW])
        run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                     checkpoint=dirs["ckpt"],
                     stats_state_dir=dirs["state"])
        merged = (spark.read.parquet(
            os.path.join(dirs["state"], "batch=0")))
        kinds = {(r["event_type"], r["sketch"]) for r in merged.collect()}
        # HLL src_ips for every type; CMS http_hosts rides along
        assert ("http", "src_ips") in kinds and ("dns", "src_ips") in kinds
        assert ("flow", "src_ips") in kinds

    def test_restart_is_exactly_once(self, spark, dirs):
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL])
        s1 = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                          checkpoint=dirs["ckpt"], spool=dirs["spool"])
        assert s1["alerts"] == 1
        spool_files = sorted(os.listdir(dirs["spool"]))

        # restart with NO new input: checkpoint says nothing to do, and
        # the summary reports THIS run (zero batches), not all-time totals
        s2 = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                          checkpoint=dirs["ckpt"], spool=dirs["spool"])
        assert s2["batches"] == 0 and s2["alerts"] == 0
        assert sorted(os.listdir(dirs["spool"])) == spool_files

        # a NEW file is processed incrementally (one batch, one alert in
        # the per-run summary); old alerts survive in the durable output
        _drop(dirs["in"], "b.jsonl", [L_DNS_BAD, L_HTTP_OK])
        s3 = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                          checkpoint=dirs["ckpt"], spool=dirs["spool"])
        assert s3["batches"] == 1 and s3["alerts"] == 1
        alerts = spark.read.parquet(os.path.join(dirs["out"], "alerts"))
        assert {r["ioc"] for r in alerts.collect()} == set(IOCS)

    def test_continuous_mode_returns_live_query(self, spark, dirs):
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL])
        q = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"], available_now=False)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        alerts = spark.read.parquet(os.path.join(dirs["out"], "alerts"))
        assert alerts.count() == 1

    def test_continuous_mode_stats_live_on_query(self, spark, dirs):
        # a continuous caller reads the per-type stats straight off the
        # query handle: every processed batch is already merged in
        from fever_spark.jobs.run_pipeline import default_stats_specs

        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL, L_HTTP_OK, L_FLOW])
        _drop(dirs["in"], "b.jsonl", [L_DNS_BAD, L_FLOW, L_HTTP_EVIL])
        q = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"], available_now=False,
                         max_files_per_trigger=1)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        acc = q.fever_stats_acc
        assert acc.batches_seen == 2
        assert set(acc.sketches) == {
            (t, spec.name) for t in ("http", "dns", "flow")
            for spec in default_stats_specs()}
        est = {k[0]: round(sk.estimate())
               for k, sk in acc.sketches.items() if k[1] == "src_ips"}
        assert est == {"http": 2, "dns": 1, "flow": 1}

    def test_continuous_fixed_cadence_trigger(self, spark, dirs):
        # trigger_seconds pins a processingTime trigger: the daemon polls
        # the drop dir at a fixed cadence (the deployed shape) and picks
        # up files dropped AFTER start
        import time

        os.makedirs(dirs["in"], exist_ok=True)
        q = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"], available_now=False,
                         trigger_seconds=0.2)
        try:
            _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL])
            q.processAllAvailable()
            _drop(dirs["in"], "b.jsonl", [L_DNS_BAD])
            # generous deadline: the co-tenant host swings 10x on identical
            # work, and a missed deadline here reads as a daemon bug
            deadline = time.time() + 90
            while time.time() < deadline:
                q.processAllAvailable()
                found = [p for p in q.recentProgress
                         if p.numInputRows > 0]
                if sum(p.numInputRows for p in found) >= 2:
                    break
                time.sleep(0.2)
        finally:
            q.stop()
        alerts = spark.read.parquet(os.path.join(dirs["out"], "alerts"))
        assert {r["match_type"] for r in alerts.collect()} == {
            "http-host", "dns-req"}

    def test_compact_every_bounds_sink_files(self, spark, dirs):
        # round-8: the continuous-daemon file-growth knob — per-trigger
        # batch dirs roll up into range files; alert rows and forward
        # lines are preserved exactly; file counts stay bounded
        from fever_spark.jobs.compactor import sink_file_count

        for i in range(8):
            _drop(dirs["in"], f"f{i}.jsonl",
                  [L_HTTP_EVIL, L_HTTP_OK, L_DNS_BAD])
        summary = run_pipeline(
            spark, dirs["in"], dirs["out"], IOCS, checkpoint=dirs["ckpt"],
            forwards={"all": []}, max_files_per_trigger=1,
            compact_every=2, compact_keep_last=2, compact_fanin=3)
        assert summary["batches"] == 8 and summary["alerts"] == 16
        aroot = os.path.join(dirs["out"], "alerts")
        froot = os.path.join(dirs["out"], "forward", "all")
        # compaction ran: rolls exist, old dirs gone, counts bounded
        import glob

        assert [d for d in glob.glob(os.path.join(aroot, "batch=*"))
                if "-" in os.path.basename(d)]  # range roll dirs exist
        assert len([d for d in glob.glob(os.path.join(aroot, "batch=*"))
                    if "-" not in os.path.basename(d)]) <= 3
        assert sink_file_count(aroot) <= 2 + 3 + 2
        assert sink_file_count(froot) <= 2 + 3 + 2
        # content preserved across the layout change: every alert row and
        # every forwarded raw line still reads back
        alerts = spark.read.parquet(aroot)
        assert alerts.count() == 16
        assert {r["ioc"] for r in alerts.collect()} == set(IOCS)
        fw = spark.read.json(froot + "/*")
        assert fw.count() == 24

    def test_uri_output_dir_reports_like_plain_path(self, spark, tmp_path,
                                                    monkeypatch):
        # a file:// output_dir counts the same alerts and sink files as
        # the plain path, and the manifest lands inside the output dir
        # (not in a stray ``file:`` dir under the working directory)
        monkeypatch.chdir(tmp_path)
        lines = [L_HTTP_EVIL, L_HTTP_OK, L_DNS_BAD, L_FLOW] * 3
        summaries = {}
        for kind in ("plain", "uri"):
            base = tmp_path / kind
            _drop(str(base / "in"), "a.jsonl", lines)
            out = str(base / "out")
            summaries[kind] = run_pipeline(
                spark, str(base / "in"),
                out if kind == "plain" else "file://" + out, IOCS,
                checkpoint=str(base / "ckpt"), forwards={"all": []})
            man = json.load(open(os.path.join(out, "_run_manifest.json")))
            assert man["alerts"] == summaries[kind]["alerts"]
        plain, uri = summaries["plain"], summaries["uri"]
        assert uri["alerts"] == plain["alerts"] == 6
        assert uri["sink_files"] == plain["sink_files"] == \
            {"alerts": 1, "forwards": 1}
        assert not (tmp_path / "file:").exists()

    def test_empty_drop_dir_yields_empty_summary(self, spark, dirs):
        os.makedirs(dirs["in"], exist_ok=True)
        s = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"])
        assert s["batches"] == 0 and s["alerts"] == 0
        assert os.path.exists(os.path.join(dirs["out"],
                                           "_run_manifest.json"))

    def test_no_match_no_alert_rows(self, spark, dirs):
        _drop(dirs["in"], "a.jsonl", [L_HTTP_OK, L_FLOW])
        s = run_pipeline(spark, dirs["in"], dirs["out"],
                         ["nothing.matches.example"],
                         checkpoint=dirs["ckpt"])
        assert s["alerts"] == 0

    def test_empty_forward_slice_skips_write(self, spark, dirs):
        # no tls events in the drop → the tls forward's scan+write job is
        # skipped outright (no batch dir), while the http forward lands
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL, L_HTTP_OK, L_FLOW])
        s = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"],
                         forwards={"tls_only": ["tls"],
                                   "http_only": ["http"]})
        assert not os.path.exists(
            os.path.join(dirs["out"], "forward", "tls_only"))
        http_fw = spark.read.json(
            os.path.join(dirs["out"], "forward", "http_only", "batch=*"))
        assert http_fw.count() == 2
        # the per-run summary carries the event total for throughput math
        assert s["events"] == 3 and s["batch_ids"] == [0]


class TestPerTriggerCostControls:
    """The continuous-daemon regime is many small batches, so the
    per-trigger fixed work is bounded — one parse shared by every
    consumer and single-file sinks (sink_files)."""

    def test_spool_only_stats_keeps_parse_persisted(self, spark, dirs):
        # spool with NO forwards: the spool submit is a further action
        # over the parse — the persist must stay on, or parse+match run
        # twice per trigger; and the spooled payloads must match the
        # written alerts exactly
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL, L_DNS_BAD])
        s = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"], spool=dirs["spool"],
                         stats_state_dir=dirs["state"])
        assert s["alerts"] == 2
        msgs = consume_spool(dirs["spool"], ack=False)
        rows = [r for m in msgs for r in json.loads(m["payload"])]
        assert {r["ioc"] for r in rows} == set(IOCS)

    def test_sketchctl_reads_daemon_state_dir(self, spark, dirs, capsys):
        # the daemon's stats_state_dir (bare batch=N flushes, no manifest)
        # is inspectable with sketchctl: kind comes from the state bytes,
        # partials merge across batches driver-side
        import json as _json

        from fever_spark.jobs.sketchctl import main as sketchctl

        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL, L_HTTP_OK])
        _drop(dirs["in"], "b.jsonl", [L_DNS_BAD, L_FLOW])
        run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                     checkpoint=dirs["ckpt"], stats_state_dir=dirs["state"],
                     max_files_per_trigger=1)
        rc = sketchctl(["estimate", dirs["state"], "--sketch", "src_ips"])
        out = capsys.readouterr().out
        assert rc == 0
        est = {r["event_type"]: round(r["estimate"]) for r in
               (_json.loads(ln) for ln in out.splitlines() if ln)}
        assert est == {"http": 2, "dns": 1, "flow": 1}

    def test_sink_files_bound_output_file_counts(self, spark, dirs):
        _drop(dirs["in"], "a.jsonl",
              [L_HTTP_EVIL, L_HTTP_OK, L_DNS_BAD, L_FLOW] * 8)
        s = run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"],
                         forwards={"all": []})
        # default sink_files=1: one data file per sink per batch
        assert s["sink_files"] == {"alerts": 1, "forwards": 1}

    def test_forward_carries_raw_lines(self, spark, dirs):
        # the reference's forwarders emit the ORIGINAL JSON line — byte
        # parity between drop dir and forward dir for the routed types
        _drop(dirs["in"], "a.jsonl", [L_DNS_BAD, L_HTTP_OK, L_FLOW])
        run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                     checkpoint=dirs["ckpt"],
                     forwards={"dns_only": ["dns"]})
        got = [r["value"] for r in spark.read.text(
            os.path.join(dirs["out"], "forward", "dns_only", "batch=*"))
            .collect()]
        assert got == [L_DNS_BAD]


class TestBloomFileReload:
    """Round-6: the reference's mgmt reload → live-filter swap composed
    into the daemon (mgmt/mgmtserver.go:141-158): run_pipeline in
    bloom_file mode stats the filter file per micro-batch and
    re-broadcasts when bloomctl (or anything) replaces it."""

    def test_ctl_mutation_picked_up_between_batches(self, spark, dirs):
        from fever_spark.jobs.bloomctl import main as bloomctl

        bloom = os.path.join(dirs["state"], "iocs.bloom.gz")
        os.makedirs(dirs["state"], exist_ok=True)
        assert bloomctl(["create", "--out", bloom, "--capacity", "1000",
                         "--fpp", "1e-6", "evil.example.com"]) == 0

        # batch 0: only the http IOC is in the filter
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL, L_DNS_BAD])
        s1 = run_pipeline(spark, dirs["in"], dirs["out"],
                          checkpoint=dirs["ckpt"], bloom_file=bloom)
        assert s1["alerts"] == 1 and s1["bloom_reloads"] == 1

        # control plane extends the live filter; batch 1 must use it
        assert bloomctl(["add", "--file", bloom, "bad.dns.example"]) == 0
        _drop(dirs["in"], "b.jsonl", [L_HTTP_EVIL, L_DNS_BAD])
        s2 = run_pipeline(spark, dirs["in"], dirs["out"],
                          checkpoint=dirs["ckpt"], bloom_file=bloom)
        assert s2["alerts"] == 2 and s2["bloom_reloads"] == 1

        alerts = spark.read.parquet(os.path.join(dirs["out"], "alerts"))
        assert {r["ioc"] for r in alerts.collect()} == {
            "evil.example.com", "bad.dns.example"}

    def test_unchanged_file_reloads_once(self, spark, dirs):
        from fever_spark.jobs.bloomctl import main as bloomctl

        bloom = os.path.join(dirs["state"], "iocs.bloom")
        os.makedirs(dirs["state"], exist_ok=True)
        bloomctl(["create", "--out", bloom, "evil.example.com"])
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL])
        _drop(dirs["in"], "b.jsonl", [L_HTTP_EVIL])
        s = run_pipeline(spark, dirs["in"], dirs["out"],
                         checkpoint=dirs["ckpt"], bloom_file=bloom,
                         max_files_per_trigger=1)
        # two micro-batches, one load: the stat matched, no re-broadcast
        assert s["batches"] == 2 and s["bloom_reloads"] == 1
        assert s["alerts"] == 2

    def test_missing_file_alerts_nothing_until_created(self, spark, dirs):
        from fever_spark.jobs.bloomctl import main as bloomctl

        bloom = os.path.join(dirs["state"], "later.bloom")
        os.makedirs(dirs["state"], exist_ok=True)
        _drop(dirs["in"], "a.jsonl", [L_HTTP_EVIL])
        s1 = run_pipeline(spark, dirs["in"], dirs["out"],
                          checkpoint=dirs["ckpt"], bloom_file=bloom)
        assert s1["alerts"] == 0  # tolerant: empty default filter

        bloomctl(["create", "--out", bloom, "evil.example.com"])
        _drop(dirs["in"], "b.jsonl", [L_HTTP_EVIL])
        s2 = run_pipeline(spark, dirs["in"], dirs["out"],
                          checkpoint=dirs["ckpt"], bloom_file=bloom)
        assert s2["alerts"] == 1

    def test_exactly_one_filter_source_required(self, spark, dirs):
        with pytest.raises(ValueError):
            run_pipeline(spark, dirs["in"], dirs["out"],
                         checkpoint=dirs["ckpt"])
        with pytest.raises(ValueError):
            run_pipeline(spark, dirs["in"], dirs["out"], IOCS,
                         checkpoint=dirs["ckpt"], bloom_file="x.bloom")
