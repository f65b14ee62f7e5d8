"""WARC source connector (sources/warc.py): framing, HTTP splitting, gzip,
and pages-table equivalence with a crawl on top."""

from __future__ import annotations

import gzip
import io

import pytest

from bbcrawl_spark.sources import warc
from bbcrawl_spark.sources.boardsite import make_board_site

DATE = "2024-01-01T00:00:00Z"
_CRLF = b"\r\n"


def build_warc(
    records: list[tuple[str, str, bytes, dict[str, str] | None]],
    gzipped: bool = False,
) -> bytes:
    """``(uri, iso_date, body, http_headers)`` tuples -> a valid WARC byte
    stream of ``response`` records (per-record gzip members when
    ``gzipped``, like Common Crawl)."""
    members: list[bytes] = []
    for uri, date, body, http_headers in records:
        hdr_lines = [b"HTTP/1.1 200 OK"]
        for k, v in (http_headers or {}).items():
            hdr_lines.append(f"{k}: {v}".encode("latin-1"))
        http = _CRLF.join(hdr_lines) + _CRLF + _CRLF + body
        warc_head = _CRLF.join(
            [
                b"WARC/1.0",
                b"WARC-Type: response",
                f"WARC-Target-URI: {uri}".encode(),
                f"WARC-Date: {date}".encode(),
                b"Content-Type: application/http; msgtype=response",
                f"Content-Length: {len(http)}".encode(),
            ]
        )
        members.append(warc_head + _CRLF + _CRLF + http + _CRLF + _CRLF)
    return b"".join(gzip.compress(m) if gzipped else m for m in members)


def _parse(data: bytes):
    """The records of plain or gzipped WARC bytes, through the streaming
    parser the ingest uses (gzip read member by member, never whole)."""
    f = io.BytesIO(data)
    if data[:2] == b"\x1f\x8b":
        f = gzip.GzipFile(fileobj=f)
    return warc.parse_warc_stream(f)


class TestFraming:
    def test_roundtrip_plain_and_gzip(self):
        recs = [
            ("http://a.ex/1", DATE, b"<html>one</html>", {"Content-Type": "text/html"}),
            ("http://a.ex/2", DATE, b"\x00\xffbinary", {"Content-Type": "image/gif"}),
        ]
        for gz in (False, True):
            data = build_warc(recs, gzipped=gz)
            got = list(_parse(data))
            assert [r["uri"] for r in got] == ["http://a.ex/1", "http://a.ex/2"]
            bodies = [warc.http_response_parts(r["block"])[2] for r in got]
            assert bodies == [b"<html>one</html>", b"\x00\xffbinary"]

    def test_non_warc_raises(self):
        with pytest.raises(ValueError, match="not a WARC record"):
            list(_parse(b"HTTP/1.1 200 OK\r\n\r\n"))

    def test_truncated_record_fails_loudly(self):
        # A partial segment download must raise, not yield a silently short
        # final page body (or desync the header loop into the payload).
        recs = [("http://a.ex/1", DATE, b"X" * 100, {"Content-Type": "text/html"})]
        data = build_warc(recs)
        with pytest.raises(ValueError, match="truncated WARC record"):
            list(_parse(data[:-60]))
        # same contract through the gzip path (truncate the DECOMPRESSED
        # stream semantics by rebuilding a gzip of the cut bytes)
        with pytest.raises(ValueError, match="truncated WARC record"):
            list(_parse(gzip.compress(data[:-60])))

    def test_gzip_never_decompressed_whole(self, monkeypatch):
        # Scale pin: a ~1 GB CC segment decompresses to ~4-5 GB — the parser
        # must stream per-member (GzipFile), never gzip.decompress the file.
        recs = [
            (f"http://a.ex/{i}", DATE, f"<html>{i}</html>".encode(), None)
            for i in range(5)
        ]
        data = build_warc(recs, gzipped=True)

        def _boom(*a, **k):  # pragma: no cover - failure path
            raise AssertionError("whole-file gzip.decompress called")

        monkeypatch.setattr(gzip, "decompress", _boom)
        got = list(_parse(data))
        assert [r["uri"] for r in got] == [f"http://a.ex/{i}" for i in range(5)]

    def test_parse_is_record_at_a_time(self):
        # Lazy iteration: records before a corrupt tail are yielded before
        # the parser ever touches (and errors on) the bad bytes — the
        # O(record) peak-memory contract in iterator form.
        recs = [("http://a.ex/1", DATE, b"<html>1</html>", None),
                ("http://a.ex/2", DATE, b"<html>2</html>", None)]
        data = build_warc(recs) + b"GARBAGE-NOT-A-RECORD\r\n\r\n"
        it = _parse(data)
        assert next(it)["uri"] == "http://a.ex/1"
        assert next(it)["uri"] == "http://a.ex/2"
        with pytest.raises(ValueError, match="not a WARC record"):
            next(it)

    def test_multi_member_gzip_equals_plain(self):
        # per-record gzip members (Common Crawl framing) parse identically
        # to the uncompressed stream
        recs = [
            (f"http://a.ex/{i}", DATE, b"x" * (100 + i), {"Content-Type": "text/html"})
            for i in range(4)
        ]
        plain = list(_parse(build_warc(recs)))
        gzipped = list(_parse(build_warc(recs, gzipped=True)))
        assert plain == gzipped

    def test_http_parts_headers_and_status(self):
        block = (
            b"HTTP/1.1 301 Moved\r\nLocation: http://b.ex/\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n\r\nbody"
        )
        status, hdrs, body = warc.http_response_parts(block)
        assert status == 301
        assert hdrs["content-type"] == "text/html; charset=utf-8"
        assert body == b"body"

    def test_chunked_body_dechunked(self):
        block = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n"
        )
        assert warc.http_response_parts(block)[2] == b"Wikipedia"


class TestReadWarcPages:
    def test_pages_shape_and_redirect_hops(self, spark, tmp_path):
        # two fetches of /r: a 302 hop then the 200 — n_redirects must be 1
        raw = build_warc(
            [("http://a.ex/x", DATE, b"<html>x</html>",
              {"Content-Type": "text/html; charset=utf-8"})]
        )
        hop = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://a.ex/r\r\n"
            b"WARC-Date: 2024-01-01T00:00:01Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
        )
        http302 = b"HTTP/1.1 302 Found\r\nLocation: http://a.ex/r2\r\n\r\n"
        rec302 = hop + f"Content-Length: {len(http302)}".encode() + b"\r\n\r\n" + http302 + b"\r\n\r\n"
        final = build_warc(
            [("http://a.ex/r", "2024-01-01T00:00:02Z", b"<html>r</html>",
              {"Content-Type": "text/html"})]
        )
        (tmp_path / "f.warc").write_bytes(raw + rec302 + final)
        df = warc.read_warc_pages(spark, str(tmp_path))
        rows = {r["url"]: r for r in df.collect()}
        assert set(rows) == {"http://a.ex/x", "http://a.ex/r"}
        assert bytes(rows["http://a.ex/x"]["html"]) == b"<html>x</html>"
        assert rows["http://a.ex/x"]["n_redirects"] == 0
        assert rows["http://a.ex/r"]["n_redirects"] == 1
        assert rows["http://a.ex/x"]["content_type"].startswith("text/html")
        assert rows["http://a.ex/x"]["warc_ts"] is not None

    def test_crawl_over_warc_equals_crawl_over_parquet(self, spark, tmp_path):
        """The connector's whole point: a crawl over WARC-ingested pages is
        byte-identical to the same crawl over the parquet pages table."""
        from bbcrawl_spark import oracle
        from bbcrawl_spark.operators.robots import parse_robots_txt
        from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver

        site = make_board_site(hosts=1, boards=2, threads=2, pages_per_thread=2)
        recs = [
            (url, DATE, body, {"Content-Type": site.content_types.get(url, "text/html; charset=utf-8")})
            for url, body in sorted(site.pages.items())
        ]
        (tmp_path / "site.warc.gz").write_bytes(build_warc(recs, gzipped=True))
        pages_df = warc.read_warc_pages(spark, str(tmp_path))
        pages_path = str(tmp_path / "pages_pq")
        pages_df.write.parquet(pages_path)

        robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
        want = oracle.crawl_oracle(
            pages=site.pages, seeds=site.seeds, budget=2,
            robots=robots, excludes=set(site.excludes), max_rounds=20,
        )
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages_path, warehouse_root=str(tmp_path / "wh"),
            seeds=site.seeds, budget=2, max_rounds=20,
            excludes=tuple(site.excludes), robots=site.robots,
        ))
        drv.run()
        got = [(r["round"], r["url"]) for r in drv.crawl_order().orderBy("rank").collect()]
        assert got == want.crawl_order
        texts = {r["url"]: r["text"] for r in drv.fetched_texts().collect()}
        assert texts == want.texts


class TestStreamingFromPaths:
    """Workers stream each segment from its path — no file content crosses
    the binaryFile scan, peak memory is O(read buffer + one Arrow batch)."""

    def _write_mixed_dir(self, tmp_path, n_plain=3, n_gz=4):
        plain = [
            (f"http://p.ex/{i}", DATE, f"<html>p{i}</html>".encode(),
             {"Content-Type": "text/html"})
            for i in range(n_plain)
        ]
        gz = [
            (f"http://g.ex/{i}", DATE, f"<html>g{i}</html>".encode(),
             {"Content-Type": "text/html"})
            for i in range(n_gz)
        ]
        (tmp_path / "a.warc").write_bytes(build_warc(plain))
        (tmp_path / "b.warc.gz").write_bytes(build_warc(gz, gzipped=True))
        return {u for u, *_ in plain} | {u for u, *_ in gz}

    def test_paths_mode_equals_content_mode(self, spark, tmp_path):
        urls = self._write_mixed_dir(tmp_path)
        by_path = warc.read_warc_pages(spark, str(tmp_path))
        assert {r["url"] for r in by_path.collect()} == urls

    def test_content_column_pruned_from_scan(self, spark, tmp_path):
        # Scale pin: the binaryFile scan must read ONLY the path column —
        # if `content` appears in the ReadSchema the whole ~1 GB segment
        # ships through the scan.
        self._write_mixed_dir(tmp_path)
        df = warc.read_warc_pages(spark, str(tmp_path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re
        scans = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
        assert scans, plan
        assert all("content" not in s for s in scans), scans

    def test_many_records_cross_batch_boundary(self, spark, tmp_path):
        # >512 records in one file exercises the bounded-batch flush path;
        # every record must still come out exactly once.
        n = 700
        recs = [
            (f"http://m.ex/{i}", DATE, f"<html>{i}</html>".encode(), None)
            for i in range(n)
        ]
        (tmp_path / "big.warc.gz").write_bytes(build_warc(recs, gzipped=True))
        df = warc.read_warc_pages(spark, str(tmp_path))
        got = {r["url"] for r in df.collect()}
        assert got == {f"http://m.ex/{i}" for i in range(n)}
        assert df.count() == n

    def test_opener_seam(self, spark, tmp_path):
        # A custom opener (the fsspec/Hadoop integration surface) is used
        # for every listed file.
        self._write_mixed_dir(tmp_path)
        import json
        seen_log = tmp_path / "seen.jsonl"

        def logging_opener(p):
            with open(seen_log, "a") as fh:
                fh.write(json.dumps(p) + "\n")
            return warc.open_warc_stream(p)

        df = warc.read_warc_pages(spark, str(tmp_path), opener=logging_opener)
        assert df.count() == 7
        opened = {json.loads(l) for l in seen_log.read_text().splitlines()}
        assert {p.rsplit("/", 1)[-1] for p in opened} == {"a.warc", "b.warc.gz"}

    def test_open_warc_stream_file_uri_and_gzip_magic(self, tmp_path):
        recs = [("http://u.ex/1", DATE, b"<html>u</html>", None)]
        f1 = tmp_path / "x.warc"
        f1.write_bytes(build_warc(recs))
        f2 = tmp_path / "y.warc.gz"
        f2.write_bytes(build_warc(recs, gzipped=True))
        for p in (str(f1), f"file://{f1}", str(f2), f"file://{f2}"):
            fobj = warc.open_warc_stream(p)
            try:
                got = list(warc.parse_warc_stream(fobj))
            finally:
                fobj.close()
            assert [r["uri"] for r in got] == ["http://u.ex/1"]

    def test_crawl_over_streamed_warc_matches_oracle(self, spark, tmp_path):
        # e2e: the streamed-ingest pages table drives a crawl byte-identical
        # to the sequential oracle.
        from bbcrawl_spark import oracle
        from bbcrawl_spark.operators.robots import parse_robots_txt
        from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver

        site = make_board_site(hosts=1, boards=2, threads=2, pages_per_thread=2)
        recs = [
            (url, DATE, body,
             {"Content-Type": site.content_types.get(url, "text/html; charset=utf-8")})
            for url, body in sorted(site.pages.items())
        ]
        (tmp_path / "site.warc.gz").write_bytes(build_warc(recs, gzipped=True))
        pages_df = warc.read_warc_pages(spark, str(tmp_path))
        pages_path = str(tmp_path / "pages_pq")
        pages_df.write.parquet(pages_path)

        robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
        want = oracle.crawl_oracle(
            pages=site.pages, seeds=site.seeds, budget=2,
            robots=robots, excludes=set(site.excludes), max_rounds=20,
        )
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages_path, warehouse_root=str(tmp_path / "wh"),
            seeds=site.seeds, budget=2, max_rounds=20,
            excludes=tuple(site.excludes), robots=site.robots,
        ))
        drv.run()
        got = [(r["round"], r["url"]) for r in drv.crawl_order().orderBy("rank").collect()]
        assert got == want.crawl_order
        texts = {r["url"]: r["text"] for r in drv.fetched_texts().collect()}
        assert texts == want.texts

