"""Deterministic synthetic data: the Common-Crawl-style ``pages`` table and
the ``iocs`` indicator list (FIXTURES.md §1-2, BASELINE.json input_hint).

Schema: pages(url string, warc_ts timestamp, html binary, text string,
lang string). Same seed + row count ⇒ byte-identical table. Generation is
pure numpy/pyarrow on the driver for small scales and distributed via
``spark.range`` + mapInPandas for bench scales, producing IDENTICAL rows for
a given (seed, n) — the distributed path partitions the same id space.

Design notes for the workload shape:
- hosts are Zipfian over ~n/50 distinct values → forces merge-key skew
  (the salted merge level must absorb it, SURVEY.md §7.4.5);
- text is a Zipfian token sequence → CMS heavy-hitter targets;
- text length is log-normal → KLL/t-digest quantile targets;
- html = b"<html>" + text + b"</html>" → byte-identity extraction checks
  (north_rule "extraction preserves byte-identical text per url").
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = np.array(["en", "de", "fr", "es", "zh", "ru"], dtype=object)
LANG_W = np.array([0.45, 0.15, 0.12, 0.12, 0.09, 0.07])
EPOCH_START = np.datetime64("2026-06-01T00:00:00")
SPAN_DAYS = 7
VOCAB_SIZE = 5000
_TS_SPAN_US = SPAN_DAYS * 86400 * 1_000_000


def _zipf_weights(k: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, k + 1, dtype=np.float64), s)
    return w / w.sum()


def _vocab() -> np.ndarray:
    rng = np.random.default_rng(777)
    lengths = rng.integers(2, 10, size=VOCAB_SIZE)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(rng.choice(letters, size=ln)) for ln in lengths],
                    dtype=object)


_VOCAB = None


def vocab() -> np.ndarray:
    global _VOCAB
    if _VOCAB is None:
        _VOCAB = _vocab()
    return _VOCAB


_BLOCK = 4096


def _gen_block(seed: int, block_id: int, n_total: int) -> pd.DataFrame:
    """Generate one aligned block of _BLOCK rows, fully vectorized. Rows are
    a pure function of (seed, block_id, n_total), so any chunking of the id
    space reproduces identical rows — the distributed path relies on this."""
    n_hosts = max(20, n_total // 50)
    host_w = _zipf_weights(n_hosts)
    tok_w = _zipf_weights(VOCAB_SIZE, s=1.1)
    voc = vocab()
    rng = np.random.default_rng((seed << 24) ^ block_id)
    n = _BLOCK
    rids = block_id * _BLOCK + np.arange(n, dtype=np.int64)

    host_ids = rng.choice(n_hosts, size=n, p=host_w)
    langs = LANGS[rng.choice(len(LANGS), size=n, p=LANG_W)]
    n_tok = np.maximum(3, rng.lognormal(3.6, 0.8, size=n).astype(np.int64))
    tok_ids = rng.choice(VOCAB_SIZE, size=int(n_tok.sum()), p=tok_w)
    bounds = np.cumsum(n_tok)[:-1]
    texts = np.array([" ".join(t) for t in np.split(voc[tok_ids], bounds)],
                     dtype=object)
    path_ids = rng.integers(0, 200, size=n)
    ts_us = rng.integers(0, _TS_SPAN_US, size=n)

    urls = np.array([f"https://host{h}.example.org/p/{p}/{r}"
                     for h, p, r in zip(host_ids, path_ids, rids)], dtype=object)
    htmls = np.array([b"<html>" + t.encode("utf-8") + b"</html>" for t in texts],
                     dtype=object)
    return pd.DataFrame({
        "rid": rids,
        "url": urls,
        "warc_ts": pd.to_datetime(EPOCH_START) + pd.to_timedelta(ts_us, unit="us"),
        "html": htmls,
        "text": texts,
        "lang": langs,
    })


def pages_chunk(ids: np.ndarray, seed: int = 42, n_total: int | None = None) -> pd.DataFrame:
    """Generate the pages rows for the given global row ids (deterministic
    per id, independent of chunking)."""
    ids = np.asarray(ids, dtype=np.int64)
    if len(ids) == 0:
        return pd.DataFrame({"url": pd.Series(dtype=object),
                             "warc_ts": pd.Series(dtype="datetime64[us]"),
                             "html": pd.Series(dtype=object),
                             "text": pd.Series(dtype=object),
                             "lang": pd.Series(dtype=object)})
    n_total = n_total if n_total is not None else int(ids.max()) + 1
    parts = []
    for block_id in np.unique(ids // _BLOCK):
        block = _gen_block(seed, int(block_id), n_total)
        wanted = ids[(ids // _BLOCK) == block_id]
        parts.append(block[block["rid"].isin(wanted)])
    out = pd.concat(parts, ignore_index=True).drop(columns=["rid"])
    return out


def synth_pages(n: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side generation (tests, small scales)."""
    return pages_chunk(np.arange(n, dtype=np.int64), seed=seed, n_total=n)


def synth_pages_df(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Distributed generation: spark.range drives the id space, each task
    generates its slice — rows identical to synth_pages(n, seed)."""
    from pyspark.sql import types as T

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ])

    def gen(batches):
        for pdf in batches:
            out = pages_chunk(pdf["id"].to_numpy(), seed=seed, n_total=n)
            out["html"] = out["html"].map(bytes)
            yield out

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, schema=schema)


def synth_iocs(pages: pd.DataFrame, n_extra: int = 200, seed: int = 43) -> pd.DataFrame:
    """Indicator list mixing the four probe shapes of the reference's Bloom
    matcher (host, full URL, host+path, bare path —
    /root/reference/processing/bloom_handler.go:169-235), drawn partly from
    `pages` (guaranteed true positives) and partly disjoint (FP probes),
    plus blacklist veto entries like "/" (cmd/fever/cmds/run.go:721)."""
    rng = np.random.default_rng(seed)
    urls = pages["url"].to_numpy()
    picks = rng.choice(len(urls), size=min(len(urls), 50), replace=False)
    rows = []
    for i in picks:
        url = urls[i]
        rest = url.split("://", 1)[1]
        host, _, path = rest.partition("/")
        path = "/" + path
        shape = rng.integers(0, 4)
        if shape == 0:
            rows.append((host, "host", False))
        elif shape == 1:
            rows.append((url, "url", False))
        elif shape == 2:
            rows.append((host + path, "hostpath", False))
        else:
            rows.append((path, "path", False))
    for j in range(n_extra):
        rows.append((f"absent{j}.invalid", "host", False))
    rows.append(("/", "path", True))
    rows.append(("/index.html", "path", True))
    out = pd.DataFrame(rows, columns=["ioc", "kind", "blacklisted"])
    return out.drop_duplicates(subset=["ioc"]).reset_index(drop=True)


def synth_events(n: int, seed: int = 44) -> pd.DataFrame:
    """Fever-shaped flat event table (FIXTURES.md §3 / types/entry.go:16-46):
    flow/dns/http/tls/alert events with the Entry fields the reference's
    aggregators consume. Deterministic; vectorized."""
    rng = np.random.default_rng(seed)
    types_ = rng.choice(np.array(["flow", "dns", "http", "tls", "alert"], dtype=object),
                        size=n, p=[0.5, 0.2, 0.15, 0.1, 0.05])
    src_ip = np.char.add("10.0.0.", rng.integers(1, 60, size=n).astype(str)).astype(object)
    dest_ip = np.char.add("192.0.2.", rng.integers(1, 40, size=n).astype(str)).astype(object)
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(EPOCH_START) + pd.to_timedelta(
            rng.integers(0, 3600 * 1_000_000, size=n), unit="us"),
        "event_type": types_,
        "src_ip": src_ip,
        "dest_ip": dest_ip,
        "src_port": rng.integers(1024, 65536, size=n).astype(np.int32),
        "dest_port": rng.choice(np.array([80, 443, 3128, 8080, 8443, 53, 22]),
                                size=n).astype(np.int32),
        "proto": rng.choice(np.array(["TCP", "UDP"], dtype=object), size=n, p=[0.8, 0.2]),
        "app_proto": rng.choice(np.array(["http", "tls", "dns", None], dtype=object), size=n),
        "bytes_toserver": rng.integers(0, 10_000, size=n),
        "bytes_toclient": rng.integers(0, 100_000, size=n),
        "pkts_toserver": rng.integers(0, 100, size=n),
        "pkts_toclient": rng.integers(0, 200, size=n),
        "http_host": np.char.add("host", rng.integers(0, 30, size=n).astype(str)).astype(object),
        "http_url": np.char.add("/path/", rng.integers(0, 50, size=n).astype(str)).astype(object),
        "dns_rrname": np.char.add("name", rng.integers(0, 80, size=n).astype(str)).astype(object),
        "dns_rrtype": rng.choice(np.array(["A", "AAAA", "CNAME"], dtype=object), size=n),
        "dns_rcode": rng.choice(np.array(["NOERROR", "NXDOMAIN"], dtype=object), size=n),
        "dns_rdata": np.char.add("198.51.100.", rng.integers(1, 30, size=n).astype(str)).astype(object),
        "dns_type": rng.choice(np.array(["query", "answer"], dtype=object), size=n),
        "tls_sni": np.char.add("sni", rng.integers(0, 40, size=n).astype(str)).astype(object),
        "tls_fingerprint": np.char.add("fp:", rng.integers(0, 40, size=n).astype(str)).astype(object),
        "flow_id": rng.integers(1, max(2, n // 4), size=n).astype(str),
    })
    # non-flow events don't carry counters; non-dns don't carry rrnames, etc.
    flow = pdf["event_type"] == "flow"
    for c in ("bytes_toserver", "bytes_toclient", "pkts_toserver", "pkts_toclient"):
        pdf.loc[~flow, c] = 0
    pdf.loc[pdf["event_type"] != "dns", ["dns_rrname", "dns_rrtype", "dns_rcode",
                                         "dns_rdata", "dns_type"]] = None
    pdf.loc[pdf["event_type"] != "http", ["http_host", "http_url"]] = None
    pdf.loc[pdf["event_type"] != "tls", ["tls_sni", "tls_fingerprint"]] = None
    return pdf


def synth_events_df(spark, n: int, seed: int = 44,
                    partitions: int | None = None):
    """Distributed synth_events: spark.range drives the id space and each
    Arrow batch renders its slice with the SAME generator, seeded by
    (seed + first id of the slice). Value domains are identical to
    synth_events — hostN/nameN/sniN IOC probes still fire — but rows are
    NOT byte-identical to the driver version (independent per-slice rng
    streams). Use this above ~100k events: the driver version builds the
    whole frame in driver memory and ships ~10 MB task closures."""
    from pyspark.sql import types as T

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    s, i, l = T.StringType(), T.IntegerType(), T.LongType()
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType())]
        + [T.StructField(c, s) for c in
           ("event_type", "src_ip", "dest_ip")]
        + [T.StructField("src_port", i), T.StructField("dest_port", i)]
        + [T.StructField(c, s) for c in ("proto", "app_proto")]
        + [T.StructField(c, l) for c in
           ("bytes_toserver", "bytes_toclient",
            "pkts_toserver", "pkts_toclient")]
        + [T.StructField(c, s) for c in
           ("http_host", "http_url", "dns_rrname", "dns_rrtype",
            "dns_rcode", "dns_rdata", "dns_type", "tls_sni",
            "tls_fingerprint", "flow_id")])

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield synth_events(len(ids), seed=seed + int(ids[0]))

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        gen, schema=schema)
