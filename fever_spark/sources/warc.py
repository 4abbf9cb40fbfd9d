"""WARC (ISO 28500) reader: raw Common-Crawl-style archives → pages rows.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages"; this module is the step BEFORE that table exists — parsing the
crawler's native WARC output into (url, warc_ts, html, text) rows with a
real, spec-driven parser (no external warc library needed: a WARC record
is a header block, CRLF CRLF, a Content-Length-delimited payload, CRLF
CRLF).

Every reader shares one decode path: ``_input_file`` (pyarrow.fs, so
local paths and file://, s3://, hdfs:// URIs alike), one gzip-member
walk from offset 0 (``_gunzip_members``), ``_records`` (members joined,
parsed once, one WARC type — a record may span members), ``_body`` (HTTP
response decoding) and ``_map_rows`` (the task loop and the warc_date →
warc_ts step). Readers differ only in how they plan their input — whole
files shuffled by path (_read_records), CDX captures, a file stream —
and how they build rows. One archive is one task: Common Crawl ships a
crawl as tens of thousands of ~1 GB per-record-gzipped archives, so
per-file fan-out already fills a cluster, and the CDX fetch covers
targeted reads inside one archive.
Malformed records are skipped, never fatal — the fever input discipline
(input/input_socket.go:94-101 logs-and-skips) applied to archives: bad
Content-Length values (including negative — which would otherwise
re-parse the same bytes forever), folded headers, chunked
transfer-encoding, gzip/deflate content-encoding, and non-UTF-8 bodies
are all handled or tolerated, never crash-the-job.
"""

from __future__ import annotations

import html as _htmllib
import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_warc", "read_wet", "read_cdx", "fetch_cdx_records",
           "warc_to_pages", "html_to_text", "stream_warc_to_pages"]

_CRLF2 = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"
_GZ_CHUNK = 1 << 18


def _input_file(path: str):
    """The one file opener: a seekable handle on a local path or a
    file://, s3://, hdfs:// URI, resolved through pyarrow.fs the way
    executors resolve it on a cluster."""
    import pyarrow.fs as pafs

    fs, fpath = pafs.FileSystem.from_uri(path)
    return fs.open_input_file(fpath)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress (possibly multi-member) gzip; pass through plain bytes.
    The one loop over gzip members (how Common Crawl concatenates
    per-record compression): members are joined from offset 0 until
    trailing garbage or a bad member, whose bytes are dropped."""
    if data[:2] != b"\x1f\x8b":
        return data
    pos = 0
    n = len(data)
    mv = memoryview(data)
    out = []
    while pos < n and data.startswith(_GZ_MAGIC, pos):
        # feed zlib in bounded chunks: handing it the whole remaining
        # buffer makes every member COPY the tail into ``unused_data``, an
        # O(members × buffer) memcpy measured 10× slower than the parse
        # itself on many-member archives
        d = zlib.decompressobj(47)  # gzip wrapper
        member, end = [], pos
        try:
            while end < n and not d.eof:
                member.append(d.decompress(mv[end:end + _GZ_CHUNK]))
                end = min(end + _GZ_CHUNK, n)
            member.append(d.flush())
        except zlib.error:
            break
        out += member
        end -= len(d.unused_data)
        if end <= pos:
            break
        pos = end
    return b"".join(out)


def parse_warc_records(data: bytes) -> list[dict]:
    """All records of one (decompressed) WARC stream as dicts with keys
    type, url, date, content_type, payload. Spec-driven: header block →
    CRLFCRLF → Content-Length payload → CRLFCRLF. Records that fail to
    parse are skipped, and the cursor only ever moves FORWARD — a
    negative or garbage Content-Length must not re-parse the same bytes
    (the infinite-loop shape a malicious record would otherwise cause)."""
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(_CRLF2, pos)
        if head_end < 0:
            break
        head = data[pos:head_end]
        if not head.startswith(b"WARC/"):
            # not a record start: skip to the next marker, strictly forward
            nxt = data.find(b"WARC/", pos + 1)
            if nxt < 0:
                break
            pos = nxt
            continue
        # unfold continuation lines (ISO 28500 inherits RFC-style folding)
        head = head.replace(b"\r\n ", b" ").replace(b"\r\n\t", b" ")
        headers = {}
        for line in head.split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            length = -1
        if length < 0:
            pos = head_end + 4  # skip the bad record, keep moving forward
            continue
        body_start = head_end + 4
        body_end = body_start + length
        if body_end > n:
            break  # truncated archive
        records.append({
            "type": headers.get(b"warc-type", b"").decode("ascii", "replace"),
            "url": headers.get(b"warc-target-uri", b"").decode("utf-8",
                                                               "replace"),
            "date": headers.get(b"warc-date", b"").decode("ascii", "replace"),
            "content_type": headers.get(b"content-type", b"")
            .decode("ascii", "replace"),
            "block_digest": headers.get(b"warc-block-digest", b"")
            .decode("ascii", "replace"),
            "payload_digest": headers.get(b"warc-payload-digest", b"")
            .decode("ascii", "replace"),
            "payload": data[body_start:body_end],
        })
        pos = body_end + 4  # skip the record-terminating CRLFCRLF
    return records


def _dechunk(body: bytes) -> bytes:
    """Undo HTTP/1.1 chunked transfer framing; tolerant of truncation."""
    out = []
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        size_tok = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        chunk = body[eol + 2:eol + 2 + size]
        out.append(chunk)
        if len(chunk) < size:
            break  # truncated
        pos = eol + 2 + size + 2  # skip chunk + its CRLF
    return b"".join(out) if out else body


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope of an application/http payload,
    undoing chunked transfer-encoding and gzip/deflate content-encoding
    when the captured response used them (wget/heritrix WARCs commonly
    do; Common Crawl's are already identity-encoded)."""
    sep = payload.find(_CRLF2)
    if sep < 0:
        return payload
    head = payload[:sep].decode("latin-1", "replace").lower()
    body = payload[sep + 4:]
    if "transfer-encoding" in head and "chunked" in head:
        body = _dechunk(body)
    if "content-encoding" in head:
        if "gzip" in head:
            body = _gunzip_members(body)
        elif "deflate" in head:
            for wbits in (-zlib.MAX_WBITS, zlib.MAX_WBITS):
                try:
                    body = zlib.decompress(body, wbits)
                    break
                except zlib.error:
                    continue
    return body


def _digest_ok(data: bytes, digest: str):
    """Check a WARC digest header value ("sha1:<BASE32>", ISO 28500 /
    RFC 4648 base32) against ``data``. None when the record carries no
    digest or an algorithm we don't compute — absence of evidence, not a
    failure."""
    if not digest:
        return None
    algo, _, val = digest.partition(":")
    if algo.strip().lower() != "sha1" or not val:
        return None
    import base64
    import hashlib

    want = base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")
    return want.rstrip("=") == val.strip().upper().rstrip("=")


_TAG_BLOCKS = re.compile(rb"(?is)<(script|style)[^>]*>.*?</\1>")
_TAGS = re.compile(rb"(?s)<[^>]*>")
_WS = re.compile(r"\s+")


def html_to_text(raw: bytes) -> str:
    """Real-world HTML → text: drop script/style blocks, strip tags,
    unescape entities, collapse whitespace — with the UTF-8 decode
    replacement-tolerant (crawl bodies are routinely latin-1 / truncated
    UTF-8; a strict decode would abort the job). This regex stripper is
    the keep-everything baseline AND the fallback of the boilerplate-aware
    extractor (sources/boilerplate.extract_main_text, the warc_to_pages
    default) behind the same bytes→str signature; the CORPUS-CONTRACT
    extractor with its byte-identity gate remains
    functions/text.extract_text over the synth envelope."""
    b = _TAGS.sub(b" ", _TAG_BLOCKS.sub(b" ", raw))
    return _WS.sub(" ", _htmllib.unescape(b.decode("utf-8",
                                                   "replace"))).strip()


def _records(data: bytes, warc_type: str) -> list[dict]:
    """The ``warc_type`` records of one archive (or fetched byte range):
    gzip members joined first, then ONE parse of the joined stream — a
    record may span members, and a member-by-member parse would lose
    it."""
    return [r for r in parse_warc_records(_gunzip_members(data))
            if r["type"] == warc_type]


def _body(r: dict) -> bytes:
    """A response record's body: HTTP envelope stripped and decoded when
    the block is an HTTP message, the block as stored otherwise."""
    if "application/http" in r["content_type"]:
        return _http_body(r["payload"])
    return r["payload"]


def _map_rows(df: DataFrame, rows, schema: str) -> DataFrame:
    """The one task loop: ``rows(pdf)`` yields tuples in ``schema`` order
    for each Arrow batch of ``df``; the raw ``warc_date`` column then
    becomes ``warc_ts``. try_to_timestamp: one malformed WARC-Date nulls
    out instead of aborting the scan under ANSI mode (skip-malformed
    discipline)."""
    columns = [f.split(" ")[0] for f in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(list(rows(pdf)), columns=columns)

    return (df.mapInPandas(run, schema=schema)
            .withColumn("warc_ts", F.try_to_timestamp("warc_date"))
            .drop("warc_date"))


def _read_records(spark: SparkSession, path: str, warc_type: str,
                  build_row, schema: str) -> DataFrame:
    """Shared scaffold for the whole-file readers: file listing → path
    shuffle → per-file record parse inside the task → rows of
    ``build_row(record, path)`` for records of ``warc_type``.

    Parallelism is PATH-driven, not byte-driven: ``binaryFile`` packs
    files into ~``spark.sql.files.maxPartitionBytes`` (128 MB) splits, so
    a directory of sub-128 MB archives — every test corpus, and plenty of
    real WET/CDX segment layouts — would collapse onto ONE task if the
    content rode the scan. Instead only the (tiny) path strings shuffle,
    into min(n_files, 4×parallelism) partitions, and each task reads its
    files through ``_input_file``. One archive is the indivisible unit
    (a record may span gzip members, so only a parse of the joined
    stream keeps every record); fan-out WITHIN one archive is
    fetch_cdx_records' offset-range split over the captures it names."""
    files = spark.read.format("binaryFile").load(path).select("path")
    n_files = files.count()  # metadata-only: content column never read
    n_parts = max(1, min(n_files,
                         spark.sparkContext.defaultParallelism * 4))

    def rows(pdf: pd.DataFrame):
        for path_ in pdf["path"]:
            with _input_file(path_) as fh:
                data = fh.read()
            for r in _records(data, warc_type):
                yield build_row(r, path_)

    return _map_rows(files.repartition(n_parts), rows, schema)


def read_warc(spark: SparkSession, path: str,
              verify_digests: bool = False) -> DataFrame:
    """WARC archive files → one row per **response** record:
    (url, content_type, html binary, warc_file, warc_ts).

    ``verify_digests=True`` adds ``block_digest_ok`` / ``payload_digest_ok``
    boolean columns checking the record's own WARC-Block-Digest /
    WARC-Payload-Digest (sha1:base32) against the stored bytes — null when
    a record carries no digest. Corrupt rows are FLAGGED, never dropped:
    the caller decides (filter, quarantine, count), matching the module's
    never-fatal discipline. The block digest covers the record block as
    stored; the payload digest covers the HTTP entity body after the
    header envelope, before transfer/content decoding (warcio
    semantics)."""
    def row(r, path_):
        body = _body(r)
        if not verify_digests:
            return (r["url"], r["date"], r["content_type"], body, path_)
        raw = r["payload"]
        # the payload digest covers the HTTP entity only when the record
        # block IS an HTTP message; for any other content-type it covers
        # the whole block — splitting at a chance CRLFCRLF inside a binary
        # payload would flag a healthy record corrupt
        if "application/http" in r["content_type"]:
            sep = raw.find(_CRLF2)
            entity = raw[sep + 4:] if sep >= 0 else raw
        else:
            entity = raw
        return (r["url"], r["date"], r["content_type"], body, path_,
                _digest_ok(raw, r["block_digest"]),
                _digest_ok(entity, r["payload_digest"]))

    schema = ("url string, warc_date string, content_type string, "
              "html binary, warc_file string")
    if verify_digests:
        schema += ", block_digest_ok boolean, payload_digest_ok boolean"
    return _read_records(spark, path, "response", row, schema)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET archives (Common Crawl's pre-extracted text: WARC files whose
    ``conversion`` records carry plain UTF-8 text) → (url, warc_ts, text).
    Same parser, different record filter — the fast path when the crawl
    provider already ran extraction."""
    def row(r, path_):
        return (r["url"], r["date"], r["payload"].decode("utf-8", "replace"))

    return _read_records(spark, path, "conversion", row,
                         "url string, warc_date string, text string") \
        .select("url", "warc_ts", "text")


def warc_to_pages(warc_df: DataFrame, extractor=None) -> DataFrame:
    """Response records → the pages-table shape (url, warc_ts, html,
    text), extracting text in one Arrow pass — never a strict JVM decode,
    which aborts the job on the non-UTF-8 bytes every real crawl contains.

    ``extractor`` is any bytes→str callable; the default is the
    boilerplate-aware block extractor (sources/boilerplate.py — the
    jusText/Boilerpipe-class pass the C4/RefinedWeb pipelines run before
    dedup), which itself degrades to the plain tag-stripper
    (``html_to_text``) on pages with no content-classified block and on
    parser failure. Pass ``html_to_text`` explicitly for raw stripping."""
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fever_spark.sources.boilerplate import extract_main_text
        fn = extractor or extract_main_text
        for pdf in batches:
            pdf = pdf[["url", "warc_ts", "html"]].copy()
            pdf["text"] = [fn(bytes(b)) for b in pdf["html"]]
            yield pdf

    return warc_df.mapInPandas(
        extract, schema="url string, warc_ts timestamp, html binary, "
                        "text string")


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDXJ index lines (the Common Crawl URL index: ``<surt> <timestamp>
    <json>`` per line) → one row per capture with the JSON fields lifted
    to columns (url, mime, status, digest, length, offset, filename) —
    the lookup side for targeted WARC fetches (offset+length into the
    named archive member). Plain line splits + from_json: fully
    splittable text input, whole-stage codegen, no Python."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    meta = F.from_json(
        parts[2], "url string, mime string, status string, digest string, "
                  "length string, offset string, filename string")
    return (lines
            .filter(F.length(F.trim(F.col("value"))) > 0)
            .select(parts[0].alias("surt"),
                    F.try_to_timestamp(parts[1], F.lit("yyyyMMddHHmmss"))
                    .alias("capture_ts"),
                    meta.alias("m"))
            # try_cast, not cast: under ANSI mode a malformed numeric field
            # in ONE index line would otherwise fail the whole scan —
            # malformed captures must null out (and be skipped at fetch)
            .select("surt", "capture_ts", "m.url", "m.mime",
                    F.col("m.status").try_cast("int").alias("status"),
                    "m.digest",
                    F.col("m.length").try_cast("long").alias("length"),
                    F.col("m.offset").try_cast("long").alias("offset"),
                    F.col("m.filename").alias("warc_filename")))


def _cdx_fetch_plan(cdx_df: DataFrame, range_bytes: int) -> DataFrame:
    """The partitioned fetch list behind fetch_cdx_records, exposed so the
    fan-out behavior is testable: captures keyed by (warc_filename,
    floor(offset / range_bytes)) so ONE archive's ranges spread over many
    tasks while each task still reads its sub-range in offset order.
    Captures that cannot be fetched — null filename OR null offset/length
    (a malformed CDX line read_cdx couldn't cast) — are dropped here, up
    front, so a single bad index line never fails a task (the
    skip-malformed-never-fatal discipline of the whole module)."""
    return (cdx_df
            .select("warc_filename", "offset", "length")
            .filter(F.col("warc_filename").isNotNull()
                    & F.col("offset").isNotNull()
                    & F.col("length").isNotNull())
            .withColumn("range_id",
                        F.floor(F.col("offset") / F.lit(int(range_bytes))))
            .repartition(F.col("warc_filename"), F.col("range_id")))


def fetch_cdx_records(spark: SparkSession, cdx_df: DataFrame,
                      warc_dir: str,
                      range_bytes: int = 64 << 20) -> DataFrame:
    """Targeted fetches: read ONLY the byte ranges the CDX index names —
    seek ``offset``, read ``length`` from the named archive member,
    decompress that one gzip member, parse the single record. This is why
    Common Crawl gzips per record: a million-capture fetch list touches
    exactly its records' bytes, never whole archives.

    Skew-proof fan-out: the fetch list is partitioned by
    ``(warc_filename, floor(offset / range_bytes))`` — a fetch list
    dominated by a SINGLE archive (the common case when re-fetching one
    crawl segment) splits into ~filesize/range_bytes tasks instead of
    serializing on one executor, and each task's reads stay offset-ordered
    within its 64 MB (default) sub-range, so per-task IO is still
    sequential-ish.

    ``warc_dir`` is the directory holding the archives named by
    ``warc_filename``: a local path or any URI pyarrow.fs resolves
    (file://, s3://, hdfs://), like every other reader here; on a cluster
    it must be readable from executors. Captures with a null filename or
    null offset/length, and captures of a missing archive, are skipped,
    never fatal."""
    import os

    if ":" not in warc_dir:
        # pyarrow.fs takes absolute paths and URIs: anchor a relative dir
        # at the driver's working directory
        warc_dir = os.path.abspath(warc_dir)

    def rows(pdf: pd.DataFrame):
        for fname, grp in pdf.groupby("warc_filename"):
            try:
                fh = _input_file(os.path.join(warc_dir, fname))
            except OSError:
                continue  # missing archive: skip its captures
            with fh:
                grp = grp.sort_values("offset")
                for offset, length in zip(grp["offset"], grp["length"]):
                    fh.seek(int(offset))
                    for r in _records(fh.read(int(length)), "response"):
                        yield r["url"], r["date"], _body(r)

    return _map_rows(_cdx_fetch_plan(cdx_df, range_bytes), rows,
                     "url string, warc_date string, html binary")


# --------------------------------------------------------------- streaming

_BINARYFILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length long, content binary")


def stream_warc_to_pages(spark: SparkSession, watch_dir: str,
                         extractor=None,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """The LIVING-CRAWL ingest source: watch a directory the crawler drops
    ``.warc(.gz)`` archives into and emit (url, warc_ts, text) rows as a
    STREAMING DataFrame — attach ``.writeStream`` (e.g. parquet/Iceberg
    append + checkpoint) to accrete the pages table continuously.

    Exactly-once by construction: the file stream source tracks processed
    files in the checkpoint, so a restarted query never re-parses an
    archive it already committed — the streaming counterpart of
    jobs/ingest.py's replay-safe batch accretion. Parallelism is one task
    per file per micro-batch (``max_files_per_trigger`` bounds batch
    size); parsing + extraction reuse the exact batch-path kernels
    (_records / _body / the boilerplate-aware extractor), so stream and
    batch produce identical rows for identical archives (tested)."""
    reader = (spark.readStream.format("binaryFile")
              .schema(_BINARYFILE_SCHEMA))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    files = reader.load(watch_dir).select("content")

    def rows(pdf: pd.DataFrame):
        from fever_spark.sources.boilerplate import extract_main_text

        fn = extractor or extract_main_text
        for content in pdf["content"]:
            for r in _records(bytes(content), "response"):
                yield r["url"], r["date"], fn(_body(r))

    return _map_rows(files, rows, "url string, warc_date string, text string")
