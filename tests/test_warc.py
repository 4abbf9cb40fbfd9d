"""WARC reader: spec-driven record parsing (plain + multi-member gzip),
response filtering, HTTP envelope stripping, pages-table conversion,
malformed-record tolerance."""

import gzip

from pyspark.sql import functions as F

from fever_spark.sources.warc import (parse_warc_records, read_warc,
                                      warc_to_pages)


def _record(rtype, url, date, payload,
            ctype=b"application/http; msgtype=response"):
    head = (b"WARC/1.0\r\n"
            b"WARC-Type: " + rtype + b"\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: " + date + b"\r\n"
            b"Content-Type: " + ctype + b"\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n")
    return head + payload + b"\r\n\r\n"


def _http(body: bytes) -> bytes:
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)


def _archive():
    return (
        _record(b"request", b"http://a.example/x",
                b"2026-02-01T00:00:00Z", b"GET /x HTTP/1.1")
        + _record(b"response", b"http://a.example/x",
                  b"2026-02-01T00:00:01Z",
                  _http(b"<html><body>Alpha page body</body></html>"))
        + _record(b"response", b"http://b.example/y",
                  b"2026-02-01T00:00:02Z",
                  _http(b"<html><body>Beta page body</body></html>"))
    )


class TestWarcParsing:
    def test_record_level_parse(self):
        recs = parse_warc_records(_archive())
        assert [r["type"] for r in recs] == ["request", "response",
                                             "response"]
        assert recs[1]["url"] == "http://a.example/x"
        assert recs[1]["payload"].startswith(b"HTTP/1.1 200")

    def test_malformed_garbage_between_records_resyncs(self):
        data = (_archive()[:40] + b"GARBAGE NO HEADER END"
                + _record(b"response", b"http://c.example/z",
                          b"2026-02-01T00:00:03Z", _http(b"<html>ok</html>")))
        recs = parse_warc_records(data)
        assert any(r["url"] == "http://c.example/z" for r in recs)

    def test_truncated_tail_kept_records_survive(self):
        full = _archive()
        recs = parse_warc_records(full[: len(full) - 30])  # cut last record
        assert len(recs) == 2                # request + first response


class TestWarcSpark:
    def test_plain_and_multimember_gzip(self, spark, tmp_path):
        (tmp_path / "a.warc").write_bytes(_archive())
        # multi-member gzip: each record its own member (the Common Crawl
        # layout)
        members = b"".join(gzip.compress(r) for r in [
            _record(b"response", b"http://g.example/1",
                    b"2026-02-02T00:00:00Z", _http(b"<html>one</html>")),
            _record(b"response", b"http://g.example/2",
                    b"2026-02-02T00:00:01Z", _http(b"<html>two</html>")),
        ])
        (tmp_path / "b.warc.gz").write_bytes(members)
        df = read_warc(spark, str(tmp_path))
        rows = {r["url"]: r for r in df.collect()}
        assert set(rows) == {"http://a.example/x", "http://b.example/y",
                             "http://g.example/1", "http://g.example/2"}
        assert bytes(rows["http://a.example/x"]["html"]).startswith(b"<html>")
        assert rows["http://g.example/2"]["warc_ts"] is not None

    def test_many_small_archives_fan_out(self, spark, tmp_path):
        """Parallelism must be path-driven: binaryFile would pack a
        directory of small archives into ONE ~128MB split, serializing the
        parse. The reader shuffles paths instead — 12 small files must
        land on >1 task."""
        for i in range(12):
            (tmp_path / f"f{i:02d}.warc").write_bytes(_record(
                b"response", f"http://m.example/p{i}".encode(),
                b"2026-02-01T00:00:00Z", _http(b"<html>tiny</html>")))
        df = read_warc(spark, str(tmp_path))
        pids = (df.select(F.spark_partition_id().alias("pid"))
                .distinct().count())
        assert pids > 1
        assert df.count() == 12

    def test_warc_to_pages_extracts_text(self, spark, tmp_path):
        (tmp_path / "a.warc").write_bytes(_archive())
        pages = warc_to_pages(read_warc(spark, str(tmp_path)))
        assert pages.columns == ["url", "warc_ts", "html", "text"]
        got = {r["url"]: r["text"] for r in pages.collect()}
        assert "Alpha page body" in got["http://a.example/x"]
        assert "<html>" not in got["http://a.example/x"]


class TestWet:
    def test_wet_conversion_records(self, spark, tmp_path):
        from fever_spark.sources.warc import read_wet

        rec = _record(b"conversion", b"http://w.example/t",
                      b"2026-02-03T00:00:00Z",
                      "extracted text café here".encode(),
                      ctype=b"text/plain")
        other = _record(b"response", b"http://w.example/r",
                        b"2026-02-03T00:00:01Z", _http(b"<html>x</html>"))
        (tmp_path / "c.warc").write_bytes(rec + other)
        got = read_wet(spark, str(tmp_path)).collect()
        assert len(got) == 1
        assert got[0]["url"] == "http://w.example/t"
        assert got[0]["text"] == "extracted text café here"
        assert got[0]["warc_ts"] is not None


class TestGzipMemberSpan:
    def test_record_spanning_members_kept(self, spark, tmp_path):
        """Members are joined before the parse: records cut across two
        gzip members (here mid-way through a response and a conversion
        record) still come back from read_warc and read_wet."""
        from fever_spark.sources.warc import read_wet

        conversion = _record(b"conversion", b"http://w.example/t",
                             b"2026-02-03T00:00:00Z", b"wet text here",
                             ctype=b"text/plain")
        data = _archive() + conversion
        cuts = [data.index(b"Alpha"), len(data) - len(conversion) // 2]
        parts = [data[:cuts[0]], data[cuts[0]:cuts[1]], data[cuts[1]:]]
        (tmp_path / "s.warc.gz").write_bytes(
            b"".join(gzip.compress(p) for p in parts))
        warc = {r["url"]: bytes(r["html"])
                for r in read_warc(spark, str(tmp_path)).collect()}
        assert warc == {
            "http://a.example/x": b"<html><body>Alpha page body</body></html>",
            "http://b.example/y": b"<html><body>Beta page body</body></html>"}
        wet = [(r["url"], r["text"])
               for r in read_wet(spark, str(tmp_path)).collect()]
        assert wet == [("http://w.example/t", "wet text here")]


class TestWarcRobustness:
    def test_negative_content_length_terminates(self):
        """CONFIRMED infinite-loop shape before the fix: a negative
        Content-Length moved the cursor backwards forever."""
        bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: http://evil.example/\r\n"
               b"Content-Length: -300\r\n\r\npayload\r\n\r\n")
        recs = parse_warc_records(bad + _record(
            b"response", b"http://ok.example/", b"2026-02-01T00:00:00Z",
            _http(b"<html>fine</html>")))
        assert [r["url"] for r in recs] == ["http://ok.example/"]

    def test_truncated_gzip_archive_keeps_whole_members(self, spark,
                                                        tmp_path):
        """A .warc.gz cut mid-member (a crawler killed mid-write) keeps
        the records of its complete members instead of failing the
        read."""
        members = [gzip.compress(_record(
            b"response", f"http://cut.example/{i}".encode(),
            b"2026-02-01T00:00:00Z", _http(b"<html>%d</html>" % i)))
            for i in range(3)]
        data = b"".join(members)
        (tmp_path / "cut.warc.gz").write_bytes(data[:-20])
        got = sorted(r["url"] for r in
                     read_warc(spark, str(tmp_path)).collect())
        assert got == ["http://cut.example/0", "http://cut.example/1"]

    def test_folded_header_unfolds(self):
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: http://long.example/a\r\n very/long/path\r\n"
               b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
        [r] = parse_warc_records(rec)
        assert r["url"] == "http://long.example/a very/long/path"

    def test_chunked_and_gzip_bodies_decoded(self):
        import gzip as _gz
        from fever_spark.sources.warc import _http_body

        chunked = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                   b"5\r\n<html\r\na\r\n>ok</html>\r\n0\r\n\r\n")
        assert _http_body(chunked) == b"<html>ok</html>"
        gz_body = _gz.compress(b"<html>zipped</html>")
        gz = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz_body)
        assert _http_body(gz) == b"<html>zipped</html>"

    def test_real_world_html_and_bad_utf8(self, spark, tmp_path):
        """DOCTYPE + attributes + script blocks + latin-1 bytes: the
        pages conversion must extract readable text, never crash."""
        from fever_spark.sources.warc import read_warc, warc_to_pages

        body = (b"<!DOCTYPE html><html lang=\"en\"><head>"
                b"<script>var x = '<nope>';</script>"
                b"<style>p { color: red }</style></head>"
                b"<body><p>Caf\xe9 content &amp; more</p></body></html>")
        (tmp_path / "r.warc").write_bytes(_record(
            b"response", b"http://real.example/p",
            b"2026-02-05T00:00:00Z", _http(body)))
        [row] = warc_to_pages(read_warc(spark, str(tmp_path))).collect()
        assert "content & more" in row["text"]
        assert "nope" not in row["text"] and "color" not in row["text"]
        assert "�" in row["text"]     # latin-1 byte replaced, no crash

    def test_html_to_text_unit(self):
        from fever_spark.sources.warc import html_to_text

        assert html_to_text(b"<html><body>Alpha page body</body></html>") \
            == "Alpha page body"


class TestCdx:
    def test_cdx_index_lines(self, spark, tmp_path):
        from fever_spark.sources.warc import read_cdx

        lines = [
            ('com,example)/page1 20260401000000 {"url": "http://example.com/'
             'page1", "mime": "text/html", "status": "200", "digest": "ABC",'
             ' "length": "1234", "offset": "5678", "filename": "crawl-00.war'
             'c.gz"}'),
            ('com,example)/page2 20260401010203 {"url": "http://example.com/'
             'page2", "mime": "text/html", "status": "404", "digest": "DEF",'
             ' "length": "99", "offset": "9999", "filename": "crawl-01.warc.'
             'gz"}'),
            "",
        ]
        (tmp_path / "idx.cdx").write_text("\n".join(lines))
        got = {r["surt"]: r for r in
               read_cdx(spark, str(tmp_path / "idx.cdx")).collect()}
        assert set(got) == {"com,example)/page1", "com,example)/page2"}
        r = got["com,example)/page1"]
        assert r["url"] == "http://example.com/page1"
        assert (r["status"], r["length"], r["offset"]) == (200, 1234, 5678)
        assert r["warc_filename"] == "crawl-00.warc.gz"
        assert r["capture_ts"] is not None
        # 200s only — the standard fetch-list filter
        from pyspark.sql import functions as F
        ok = read_cdx(spark, str(tmp_path / "idx.cdx")) \
            .filter(F.col("status") == 200).count()
        assert ok == 1


class TestCdxFetch:
    @staticmethod
    def _indexed_archive(spark, tmp_path):
        """A per-record-gzipped archive of 6 responses + a CDX with REAL
        offsets/lengths naming two of them (p1, p4)."""
        import gzip
        import json as _json
        from fever_spark.sources.warc import read_cdx

        members, offsets = [], []
        pos = 0
        for i in range(6):
            m = gzip.compress(_record(
                b"response", f"http://t.example/p{i}".encode(),
                b"2026-04-02T00:00:00Z",
                _http(f"<html>body {i}</html>".encode())))
            offsets.append((pos, len(m)))
            members.append(m)
            pos += len(m)
        (tmp_path / "a-00.warc.gz").write_bytes(b"".join(members))
        with open(tmp_path / "i.cdx", "w") as f:
            for i in (1, 4):     # fetch list: only two captures
                off, ln = offsets[i]
                f.write(f"com,t)/p{i} 20260402000000 " + _json.dumps({
                    "url": f"http://t.example/p{i}", "mime": "text/html",
                    "status": "200", "digest": f"D{i}", "length": str(ln),
                    "offset": str(off), "filename": "a-00.warc.gz"}) + "\n")
        return read_cdx(spark, str(tmp_path / "i.cdx"))

    def test_targeted_range_fetch(self, spark, tmp_path):
        """Fetch a subset of an archive through its index, compare
        bodies."""
        from fever_spark.sources.warc import fetch_cdx_records

        idx = self._indexed_archive(spark, tmp_path)
        got = {r["url"]: bytes(r["html"]) for r in
               fetch_cdx_records(spark, idx, str(tmp_path)).collect()}
        assert set(got) == {"http://t.example/p1", "http://t.example/p4"}
        assert got["http://t.example/p1"] == b"<html>body 1</html>"
        assert got["http://t.example/p4"] == b"<html>body 4</html>"

    def test_uri_warc_dir_matches_plain_path(self, spark, tmp_path,
                                             monkeypatch):
        """``warc_dir`` resolves like every other reader's path: a file://
        URI, and a path relative to the driver's working directory, fetch
        the same rows as the absolute path."""
        from fever_spark.sources.warc import fetch_cdx_records

        idx = self._indexed_archive(spark, tmp_path)

        def rows(warc_dir):
            return sorted((r["url"], r["warc_ts"], bytes(r["html"])) for r in
                          fetch_cdx_records(spark, idx, warc_dir).collect())

        plain = rows(str(tmp_path))
        assert len(plain) == 2
        assert rows("file://" + str(tmp_path)) == plain
        monkeypatch.chdir(tmp_path.parent)
        assert rows(tmp_path.name) == plain

    def test_missing_archive_skipped(self, spark, tmp_path):
        import json as _json
        from fever_spark.sources.warc import fetch_cdx_records, read_cdx

        with open(tmp_path / "i.cdx", "w") as f:
            f.write("com,x)/p 20260402000000 " + _json.dumps({
                "url": "http://x/p", "mime": "text/html", "status": "200",
                "digest": "D", "length": "10", "offset": "0",
                "filename": "nope.warc.gz"}) + "\n")
        idx = read_cdx(spark, str(tmp_path / "i.cdx"))
        assert fetch_cdx_records(spark, idx, str(tmp_path)).count() == 0

    def test_null_offset_capture_skipped_not_fatal(self, spark, tmp_path):
        """A capture with a present filename but null offset/length (a
        malformed CDX line the cast nulled) must be skipped like a missing
        archive — not raise on int(NaN) and fail the whole task."""
        import gzip
        import json as _json
        from fever_spark.sources.warc import fetch_cdx_records, read_cdx

        m = gzip.compress(_record(
            b"response", b"http://ok.example/p", b"2026-04-02T00:00:00Z",
            _http(b"<html>good</html>")))
        (tmp_path / "a.warc.gz").write_bytes(m)
        with open(tmp_path / "i.cdx", "w") as f:
            f.write("com,ok)/p 20260402000000 " + _json.dumps({
                "url": "http://ok.example/p", "status": "200",
                "length": str(len(m)), "offset": "0",
                "filename": "a.warc.gz"}) + "\n")
            f.write("com,bad)/p 20260402000001 " + _json.dumps({
                "url": "http://bad.example/p", "status": "200",
                "length": "not-a-number", "offset": "also-bad",
                "filename": "a.warc.gz"}) + "\n")
        idx = read_cdx(spark, str(tmp_path / "i.cdx"))
        got = fetch_cdx_records(spark, idx, str(tmp_path)).collect()
        assert [r["url"] for r in got] == ["http://ok.example/p"]

    def test_single_archive_fetch_list_fans_out(self, spark, tmp_path):
        """Skew split: a fetch list dominated by ONE archive must spread
        over >1 task via (warc_filename, floor(offset/range_bytes))
        partitioning, with results identical to any other range size."""
        import gzip
        import json as _json
        from fever_spark.sources.warc import (_cdx_fetch_plan,
                                              fetch_cdx_records, read_cdx)

        members, pos = [], 0
        with open(tmp_path / "i.cdx", "w") as f:
            for i in range(24):
                m = gzip.compress(_record(
                    b"response", f"http://one.example/p{i}".encode(),
                    b"2026-04-02T00:00:00Z",
                    _http(f"<html>body {i} {'x' * 200}</html>".encode())))
                f.write(f"com,one)/p{i} 20260402000000 " + _json.dumps({
                    "url": f"http://one.example/p{i}", "status": "200",
                    "length": str(len(m)), "offset": str(pos),
                    "filename": "one-big.warc.gz"}) + "\n")
                members.append(m)
                pos += len(m)
        (tmp_path / "one-big.warc.gz").write_bytes(b"".join(members))
        idx = read_cdx(spark, str(tmp_path / "i.cdx"))

        # the partitioned fetch list spreads the single archive's captures
        # over multiple tasks when ranges are smaller than the archive.
        # AQE coalesces this kilobyte-scale shuffle back to one partition
        # (right at test scale, irrelevant at 100 TB) — turn it off to
        # observe the hash partitioning the key produces.
        small = 1024  # ~3 captures per range at ~350 B/member
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            pids = (_cdx_fetch_plan(idx, range_bytes=small)
                    .select(F.spark_partition_id().alias("pid"))
                    .distinct().count())
            assert pids > 1
            # ...and over exactly one with the archive-sized default
            one = (_cdx_fetch_plan(idx, range_bytes=64 << 20)
                   .select(F.spark_partition_id().alias("pid"))
                   .distinct().count())
            assert one == 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

        got_small = {r["url"]: bytes(r["html"]) for r in fetch_cdx_records(
            spark, idx, str(tmp_path), range_bytes=small).collect()}
        got_big = {r["url"]: bytes(r["html"]) for r in fetch_cdx_records(
            spark, idx, str(tmp_path)).collect()}
        assert got_small == got_big
        assert len(got_small) == 24
        assert got_small["http://one.example/p7"].startswith(b"<html>body 7")


class TestStreamingWarc:
    def test_stream_matches_batch_and_is_exactly_once(self, spark, tmp_path):
        """Drop archives into a watched dir: the stream emits the same
        rows the batch path produces, and a file processed in one
        micro-batch is never re-emitted in the next."""
        from fever_spark.sources.warc import (read_warc,
                                              stream_warc_to_pages,
                                              warc_to_pages)

        watch = tmp_path / "drop"
        watch.mkdir()
        out = str(tmp_path / "pages")
        ckpt = str(tmp_path / "ckpt")

        def archive(name, urls):
            (watch / name).write_bytes(b"".join(
                _record(b"response", u.encode(), b"2026-02-01T00:00:00Z",
                        _http(b"<html><body><p>Streamed article body "
                              b"with plenty of words to classify as "
                              b"content for " + u.encode() +
                              b".</p></body></html>"))
                for u in urls))

        archive("a.warc", ["http://s.example/1", "http://s.example/2"])
        stream = stream_warc_to_pages(spark, str(watch))
        assert stream.isStreaming
        q = (stream.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            got1 = spark.read.parquet(out)
            assert got1.count() == 2

            archive("b.warc", ["http://s.example/3"])
            q.processAllAvailable()
            got2 = spark.read.parquet(out)
            # exactly-once: only the NEW file's rows appended
            assert got2.count() == 3
            assert got2.select("url").distinct().count() == 3
        finally:
            q.stop()
            q.awaitTermination(10)

        # stream rows == batch rows for the same archives
        batch = warc_to_pages(read_warc(spark, str(watch))) \
            .select("url", "warc_ts", "text")
        b = {r["url"]: (r["warc_ts"], r["text"]) for r in batch.collect()}
        s = {r["url"]: (r["warc_ts"], r["text"]) for r in
             spark.read.parquet(out).collect()}
        assert b == s


class TestWarcDigests:
    def _digested_record(self, url, body, corrupt=False):
        import base64
        import hashlib

        payload = _http(body)
        entity = body
        block = base64.b32encode(hashlib.sha1(payload).digest()).decode()
        pay = base64.b32encode(hashlib.sha1(entity).digest()).decode()
        if corrupt:
            block = ("A" if block[0] != "A" else "B") + block[1:]
        head = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url + b"\r\n"
                b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"WARC-Block-Digest: sha1:" + block.encode() + b"\r\n"
                b"WARC-Payload-Digest: sha1:" + pay.encode() + b"\r\n"
                b"Content-Length: " + str(len(payload)).encode()
                + b"\r\n\r\n")
        return head + payload + b"\r\n\r\n"

    def test_digests_verified_flagged_not_dropped(self, spark, tmp_path):
        from fever_spark.sources.warc import read_warc

        (tmp_path / "d.warc").write_bytes(
            self._digested_record(b"http://ok.example/", b"<html>good</html>")
            + self._digested_record(b"http://bad.example/",
                                    b"<html>tampered</html>", corrupt=True)
            + _record(b"response", b"http://nodigest.example/",
                      b"2026-02-01T00:00:00Z", _http(b"<html>nd</html>")))
        got = {r["url"]: r for r in
               read_warc(spark, str(tmp_path), verify_digests=True)
               .collect()}
        assert len(got) == 3                      # flagged, never dropped
        assert got["http://ok.example/"]["block_digest_ok"] is True
        assert got["http://ok.example/"]["payload_digest_ok"] is True
        assert got["http://bad.example/"]["block_digest_ok"] is False
        assert got["http://bad.example/"]["payload_digest_ok"] is True
        assert got["http://nodigest.example/"]["block_digest_ok"] is None

    def test_default_read_unchanged(self, spark, tmp_path):
        from fever_spark.sources.warc import read_warc

        (tmp_path / "d.warc").write_bytes(self._digested_record(
            b"http://ok.example/", b"<html>good</html>"))
        df = read_warc(spark, str(tmp_path))
        assert "block_digest_ok" not in df.columns
        assert df.count() == 1

    def test_non_http_payload_digest_covers_whole_block(self, spark,
                                                        tmp_path):
        """Regression: for a response record that is NOT application/http,
        the WARC payload digest covers the whole block — a chance CRLFCRLF
        inside a binary payload must not shift the digested range and
        flag a healthy record corrupt."""
        import base64
        import hashlib

        from fever_spark.sources.warc import read_warc

        # binary payload with an embedded CRLFCRLF
        payload = b"\x89PNG\x00\x01\r\n\r\n\x02binary tail bytes\x00"
        digest = base64.b32encode(hashlib.sha1(payload).digest()).decode()
        head = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: http://bin.example/img\r\n"
                b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
                b"Content-Type: image/png\r\n"
                b"WARC-Block-Digest: sha1:" + digest.encode() + b"\r\n"
                b"WARC-Payload-Digest: sha1:" + digest.encode() + b"\r\n"
                b"Content-Length: " + str(len(payload)).encode()
                + b"\r\n\r\n")
        (tmp_path / "bin.warc").write_bytes(head + payload + b"\r\n\r\n")
        [r] = read_warc(spark, str(tmp_path), verify_digests=True).collect()
        assert r["block_digest_ok"] is True
        assert r["payload_digest_ok"] is True
        assert bytes(r["html"]) == payload        # body passed through whole
