"""Committed deterministic oracle fixtures.

Some correctness queries exercise inputs that are not one of the driver's
pre-registered parquet views (EVE JSON lines, fever-shaped flat events).
To give those queries REAL DuckDB oracles, the fixture files live under
``<repo>/.oracle_data/`` and are read by BOTH sides — the Spark query
(spark.read) and the oracle SQL (read_json_auto / read_parquet) — so the
two see identical bytes regardless of execution order. Content is a pure
function of (seed, n): regenerating produces the same file.
"""

from __future__ import annotations

import json
import os

import numpy as np

from fever_spark.files import write_atomic
from fever_spark.sources.synth import synth_events

ORACLE_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".oracle_data")


def fever_events_parquet(n: int = 5000, seed: int = 44) -> str:
    """Flat fever-shaped events (FIXTURES.md §3) as a single parquet file."""
    path = os.path.join(ORACLE_DATA, f"fever_events_{n}.parquet")
    if not os.path.exists(path):
        os.makedirs(ORACLE_DATA, exist_ok=True)
        pdf = synth_events(n, seed=seed)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        write_atomic(path, pdf.to_parquet(index=False))
    return path


def pages_parquet(n: int = 3000, seed: int = 42) -> str:
    """Common-Crawl-style pages (url, warc_ts, html BINARY, text, lang) as a
    single parquet file — DuckDB reads text/url directly, Spark re-derives
    text from the html bytes (q_text_extraction byte-identity gate)."""
    from fever_spark.sources.synth import synth_pages

    path = os.path.join(ORACLE_DATA, f"pages_{n}.parquet")
    if not os.path.exists(path):
        os.makedirs(ORACLE_DATA, exist_ok=True)
        pdf = synth_pages(n, seed=seed)
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        write_atomic(path, pdf.to_parquet(index=False))
    return path


def eve_jsonl(n: int = 2000, seed: int = 44) -> str:
    """EVE-shaped JSON lines (nested http/dns/tls/flow subobjects, Suricata
    timestamp strings), like the reference's socket input
    (/root/reference/input/input_socket.go:60-101)."""
    path = os.path.join(ORACLE_DATA, f"eve_lines_{n}.json")
    if not os.path.exists(path):
        os.makedirs(ORACLE_DATA, exist_ok=True)
        pdf = synth_events(n, seed=seed)
        rng = np.random.default_rng(seed + 1)
        methods = rng.choice(np.array(["GET", "POST", "HEAD"], dtype=object),
                             size=len(pdf))
        lines = []
        for i, r in enumerate(pdf.to_dict("records")):
            et = r["event_type"]
            d = {
                "timestamp": r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f") + "+0000",
                "event_type": et,
                "src_ip": r["src_ip"], "src_port": int(r["src_port"]),
                "dest_ip": r["dest_ip"], "dest_port": int(r["dest_port"]),
                "proto": r["proto"], "flow_id": r["flow_id"],
            }
            if r["app_proto"] is not None:
                d["app_proto"] = r["app_proto"]
            if et == "flow":
                d["flow"] = {k: int(r[k]) for k in
                             ("bytes_toserver", "bytes_toclient",
                              "pkts_toserver", "pkts_toclient")}
            elif et == "http":
                d["http"] = {"hostname": r["http_host"], "url": r["http_url"],
                             "http_method": str(methods[i])}
            elif et == "dns":
                d["dns"] = {"rrname": r["dns_rrname"], "rrtype": r["dns_rrtype"],
                            "rcode": r["dns_rcode"], "rdata": r["dns_rdata"],
                            "type": r["dns_type"]}
                if r["dns_type"] == "answer":
                    # v2 answers array (pdns_collector.go:173-223 consumes
                    # these); 1-3 deterministic answer tuples per event
                    n_ans = int(rng.integers(1, 4))
                    d["dns"]["version"] = 2
                    d["dns"]["answers"] = [
                        {"rrname": r["dns_rrname"],
                         "rrtype": str(rng.choice(["A", "AAAA", "CNAME"])),
                         "rdata": f"198.51.100.{int(rng.integers(1, 20))}"}
                        for _ in range(n_ans)]
            elif et == "tls":
                d["tls"] = {"sni": r["tls_sni"],
                            "fingerprint": r["tls_fingerprint"]}
            elif et == "alert":
                d["alert"] = {"action": "allowed", "category": "Misc activity",
                              "signature": "FEVER test alert"}
            lines.append(json.dumps(d, separators=(",", ":")))
        write_atomic(path, ("\n".join(lines) + "\n").encode())
    return path
