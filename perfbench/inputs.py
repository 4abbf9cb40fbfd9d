"""Seeded benchmark inputs and their exact references.

Every input is a pure function of (workload, size, seed). Inputs are made
on the driver with numpy/pandas/pyarrow (no Spark session), written under
the benchmark's work dir, and cached there keyed by (workload, size, seed):
a second run on the same seed reuses them. The exact reference for each
input is computed once, right after the input, from the generator's own
rows -- never through the sketches under test.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pandas as pd

from fever_spark.sources.synth import pages_chunk, synth_events

# crawl_curate: distinct base pages in CRAWL_FILES archives; planted
# duplicates come on top
CRAWL_FILES = 32
CRAWL_BASE = 3_000
CRAWL_RECRAWL_FRAC = 0.10   # exact re-crawls: same text under a new url
CRAWL_NEARDUP_FRAC = 0.10   # near-dups: same text with the last token changed
CRAWL_MIN_TOKENS = 20       # base pages shorter than this are not generated
CRAWL_NEARDUP_MIN_TOKENS = 40
# eve_daemon: EVE events in EVE_FILES drop files, drained EVE_FILES_PER_TRIGGER
# files per micro-batch
EVE_EVENTS = 100_000
EVE_FILES = 8
EVE_FILES_PER_TRIGGER = 2
EVE_IOCS = ["host3", "name7", "sni5"]

WARC_CHROME_TOP = (
    b"<html><head><script>var t=1;</script></head><body>"
    b"<nav><a href='/'>Home</a> <a href='/a'>About</a> "
    b"<a href='/c'>Contact</a></nav>"
    b"<div id='cookie-banner'>We use cookies. "
    b"<a href='/ok'>Accept</a></div><p>")
WARC_CHROME_BOTTOM = (b"</p><footer>Copyright 2026 Example. "
                      b"<a href='/t'>Terms</a></footer></body></html>")

SIZES = {"crawl_curate": CRAWL_BASE, "eve_daemon": EVE_EVENTS}
# part of the cache key; bumped whenever a generator's output changes
FORMAT = 2
# cached input sets kept in the work dir; the least recently used go first
KEEP_INPUTS = 6


def input_dir(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "inputs",
                        f"{workload}-{SIZES[workload]}-{seed}-f{FORMAT}")


def ensure(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, reference), generating both on first use."""
    d = input_dir(work, workload, seed)
    ref_path = os.path.join(d, "reference.json")
    if not os.path.exists(ref_path):
        _evict(os.path.dirname(d), KEEP_INPUTS - 1)
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        ref = GENERATORS[workload](tmp, seed)
        with open(os.path.join(tmp, "reference.json"), "w") as f:
            json.dump(ref, f)
        os.replace(tmp, d)
    os.utime(d)
    with open(ref_path) as f:
        return d, json.load(f)


def _evict(root: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used input sets."""
    if not os.path.isdir(root):
        return
    sets = sorted((os.path.join(root, n) for n in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for old in sets[keep:]:
        shutil.rmtree(old, ignore_errors=True)


# ------------------------------------------------------------- crawl_curate

def _warc_record(url: str, text: str) -> bytes:
    body = WARC_CHROME_TOP + text.encode() + WARC_CHROME_BOTTOM
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    return gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: " + url.encode() + b"\r\n"
        b"WARC-Date: 2026-06-01T00:00:00Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(payload)).encode()
        + b"\r\n\r\n" + payload + b"\r\n\r\n", compresslevel=1)


def gen_crawl(d: str, seed: int) -> dict:
    """Base pages plus planted duplicates, in seeded order, packed as
    per-record-gzipped WARC members over CRAWL_FILES archives. Every base page
    has >= CRAWL_MIN_TOKENS tokens, so base pages are mutually distinct
    and clear the quality filter; the curated output must therefore keep
    one document of each base page's family (the page, its re-crawl or its
    near-dup), recorded per url in ``texts.parquet``."""
    rng = np.random.default_rng(seed)
    pool = pages_chunk(np.arange(2 * CRAWL_BASE, dtype=np.int64),
                       seed=seed, n_total=2 * CRAWL_BASE)
    n_tok = pool["text"].str.count(" ") + 1
    base = pool[n_tok >= CRAWL_MIN_TOKENS].iloc[:CRAWL_BASE].reset_index(
        drop=True)
    if len(base) < CRAWL_BASE:
        raise RuntimeError("synthetic pool too small for the crawl base")
    urls, texts = list(base["url"]), list(base["text"])
    family = list(range(CRAWL_BASE))   # the base page each record copies

    long_ids = np.flatnonzero(
        (base["text"].str.count(" ") + 1 >= CRAWL_NEARDUP_MIN_TOKENS)
        .to_numpy())
    n_near = int(CRAWL_BASE * CRAWL_NEARDUP_FRAC)
    n_re = int(CRAWL_BASE * CRAWL_RECRAWL_FRAC)
    near = rng.choice(long_ids, size=n_near, replace=False)
    recrawl = rng.choice(np.setdiff1d(np.arange(CRAWL_BASE), near),
                         size=n_re, replace=False)
    for j, i in enumerate(recrawl):
        urls.append(f"https://mirror{j % 7}.example.net/recrawl/{j}")
        texts.append(texts[i])
        family.append(int(i))
    for j, i in enumerate(near):
        toks = texts[i].split(" ")
        toks[-1] = f"zq{j}x"
        urls.append(f"https://mirror{j % 7}.example.net/neardup/{j}")
        texts.append(" ".join(toks))
        family.append(int(i))

    order = rng.permutation(len(urls))
    wdir = os.path.join(d, "warc")
    os.makedirs(wdir)
    handles = [open(os.path.join(wdir, f"crawl-{i:02d}.warc.gz"), "wb")
               for i in range(CRAWL_FILES)]
    try:
        for k, i in enumerate(order):
            handles[k % CRAWL_FILES].write(_warc_record(urls[i], texts[i]))
    finally:
        for h in handles:
            h.close()
    pd.DataFrame({"url": urls, "text": texts, "family": family}).to_parquet(
        os.path.join(d, "texts.parquet"), index=False)
    return {"records": len(urls), "base": CRAWL_BASE,
            "recrawls": n_re, "neardups": n_near}


# --------------------------------------------------------------- eve_daemon

def _eve_lines(ev: pd.DataFrame) -> list[str]:
    """EVE JSON lines in the shape fever's input socket carries."""
    ts = ev["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f").str[:-5] + "+0000"
    cols = {c: ev[c].tolist() for c in ev.columns}
    out = []
    for i in range(len(ev)):
        e = {"event_type": cols["event_type"][i], "timestamp": ts.iat[i],
             "src_ip": cols["src_ip"][i], "dest_ip": cols["dest_ip"][i],
             "src_port": int(cols["src_port"][i]),
             "dest_port": int(cols["dest_port"][i]),
             "proto": cols["proto"][i], "flow_id": cols["flow_id"][i]}
        t = e["event_type"]
        if t == "http":
            e["http"] = {"hostname": cols["http_host"][i],
                         "url": cols["http_url"][i]}
        elif t == "dns":
            e["dns"] = {"rrname": cols["dns_rrname"][i],
                        "type": cols["dns_type"][i],
                        "rrtype": cols["dns_rrtype"][i]}
        elif t == "tls":
            e["tls"] = {"sni": cols["tls_sni"][i],
                        "fingerprint": cols["tls_fingerprint"][i]}
        elif t == "flow":
            e["flow"] = {k: int(cols[k][i]) for k in
                         ("bytes_toserver", "bytes_toclient",
                          "pkts_toserver", "pkts_toclient")}
        out.append(json.dumps(e, separators=(",", ":")))
    return out


def gen_eve(d: str, seed: int) -> dict:
    ev = synth_events(EVE_EVENTS, seed=seed)
    drop = os.path.join(d, "drop")
    os.makedirs(drop)
    lines = _eve_lines(ev)
    for i, idx in enumerate(np.array_split(np.arange(len(lines)), EVE_FILES)):
        with open(os.path.join(drop, f"eve-{i:02d}.json"), "w") as f:
            f.write("\n".join(lines[j] for j in idx) + "\n")
    iocs = set(EVE_IOCS)
    t = ev["event_type"]
    dns_hit = (t == "dns") & ev["dns_rrname"].isin(iocs)
    http_hosts = ev.loc[t == "http", "http_host"].value_counts()
    return {
        "events": int(len(ev)),
        "distinct_src_ip": {k: int(v) for k, v in
                            ev.groupby("event_type")["src_ip"].nunique()
                            .items()},
        "http_host_counts": {k: int(v) for k, v in http_hosts.items()},
        "ioc_matches": {
            "http-host": int(((t == "http") & ev["http_host"].isin(iocs)).sum()),
            "dns-req": int((dns_hit & (ev["dns_type"] == "query")).sum()),
            "dns-resp": int((dns_hit & (ev["dns_type"] == "answer")).sum()),
            "tls-sni": int(((t == "tls") & ev["tls_sni"].isin(iocs)).sum())},
    }


GENERATORS = {"crawl_curate": gen_crawl, "eve_daemon": gen_eve}
