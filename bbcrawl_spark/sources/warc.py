"""WARC source — Common-Crawl-native ingest into the pages table.

The engine's ``input_hint`` is an Iceberg/parquet table of
"Common-Crawl-style web pages"; Common Crawl itself ships WARC files
(ISO 28500: ``WARC/1.x`` records framed by headers + Content-Length +
``\\r\\n\\r\\n``, usually one gzip member per record). This module turns a
directory of ``.warc`` / ``.warc.gz`` files into exactly the pages
DataFrame the crawl loop consumes, with the HTTP response payload split
into (html bytes, Content-Type, Content-Disposition, redirect count).

Scale shape: ``spark.read.format("binaryFile")`` lists files into tasks
(one file per row — Common Crawl segments are ~1 GB each, thousands per
dump, so file-level parallelism is the natural partitioning at 100 TB) and
``mapInPandas`` explodes each file's records Arrow-batch-wise. Parsing is
pure bytes work in the Python worker; no driver-side loops, no collect.

The parser is intentionally dependency-free (no warcio in this
environment): WARC framing is a dozen lines of byte splitting, and the
HTTP-response splitting handles the two encodings Common Crawl actually
contains (identity + chunked).
"""

from __future__ import annotations

import datetime
import gzip
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "parse_warc_stream",
    "http_response_parts",
    "open_warc_stream",
    "read_warc_pages",
]

_CRLF = b"\r\n"


def http_response_parts(block: bytes) -> tuple[int, dict[str, str], bytes]:
    """Split a raw HTTP/1.x response into (status, lower-cased headers,
    body). De-chunks ``Transfer-Encoding: chunked`` bodies; anything else is
    taken verbatim (Common Crawl stores identity bodies)."""
    head, _, body = block.partition(_CRLF + _CRLF)
    lines = head.split(_CRLF)
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = 0
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        if _:
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1"
            )
    if headers.get("transfer-encoding", "").lower() == "chunked":
        out = bytearray()
        rest = body
        while rest:
            size_line, _, rest = rest.partition(_CRLF)
            try:
                n = int(size_line.split(b";")[0], 16)
            except ValueError:
                break
            if n == 0:
                break
            out += rest[:n]
            rest = rest[n + 2 :]  # skip chunk + its trailing CRLF
        body = bytes(out)
    return status, headers, body


def parse_warc_stream(f) -> Iterator[dict]:
    """Yield one dict per WARC record from a binary file object, reading
    record-at-a-time: header lines via ``readline`` until the blank line,
    then exactly ``Content-Length`` block bytes. Peak memory is O(record),
    never O(file) — the streaming form a ~1 GB Common-Crawl segment needs
    (its ~4-5 GB decompressed would otherwise sit whole in the worker)."""
    while True:
        line = f.readline()
        if not line:
            return
        # skip inter-record blank lines
        if line in (_CRLF, b"\n"):
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(f"not a WARC record: {line[:40]!r}")
        hdrs: dict[str, str] = {}
        while True:
            ln = f.readline()
            if not ln or ln in (_CRLF, b"\n"):
                break
            k, _, v = ln.partition(b":")
            if _:
                hdrs[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1"
                )
        length = int(hdrs.get("content-length", "0"))
        block = f.read(length)
        if len(block) != length:
            # A truncated .warc/.warc.gz (partial segment download) must
            # fail loudly here: a silently short final record would feed a
            # short page body downstream, and the desynced header loop
            # would then blame the payload with a misleading "not a WARC
            # record" error mid-file.
            raise ValueError(
                f"truncated WARC record: Content-Length {length} but only "
                f"{len(block)} bytes available (uri={hdrs.get('warc-target-uri', '')!r})"
            )
        yield {
            "type": hdrs.get("warc-type", ""),
            "uri": hdrs.get("warc-target-uri", ""),
            "date": hdrs.get("warc-date", ""),
            "headers": hdrs,
            "block": block,
        }


def _warc_date_to_ts(date: str) -> datetime.datetime | None:
    try:
        return datetime.datetime.fromisoformat(date.replace("Z", "+00:00"))
    except ValueError:
        return None


def open_warc_stream(path: str):
    """Default opener for :func:`read_warc_pages`: open a
    local ``.warc`` / ``.warc.gz`` file (plain path or the ``file:`` URI
    Spark's FileIndex emits) as a record-streamable binary file object.
    Gzip is detected by magic bytes and wrapped in a streaming
    ``GzipFile`` — at no point does the whole compressed segment (let
    alone its ~4-5× decompressed form) sit in memory; peak is
    O(buffer + one record).

    On a real cluster with object-store segments, pass
    ``opener=lambda p: fsspec.open(p, "rb").open()`` (or a
    Hadoop-FS-backed equivalent) to ``read_warc_pages`` — the seam is the
    whole integration surface.
    """
    p = path
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(p).path)
    buf = io.BufferedReader(open(p, "rb"), buffer_size=1 << 20)
    if buf.peek(2)[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=buf)
    return buf


_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string, content_type string, n_redirects int, "
    "content_disposition string, _status int"
)
_PAGES_COLS = [
    "url", "warc_ts", "html", "text", "lang", "content_type",
    "n_redirects", "content_disposition", "_status",
]


def _record_rows(records: Iterator[dict]) -> Iterator[dict]:
    """WARC records -> pages-table row dicts (``response`` records only)."""
    for rec in records:
        if rec["type"] != "response" or not rec["uri"]:
            continue
        status, http_hdrs, body = http_response_parts(rec["block"])
        yield {
            "url": rec["uri"],
            "warc_ts": _warc_date_to_ts(rec["date"]),
            "html": body,
            "text": "",
            "lang": "",
            "content_type": http_hdrs.get("content-type", ""),
            "n_redirects": 0,
            "content_disposition": http_hdrs.get("content-disposition"),
            "_status": status,
        }


def _records_df(spark: SparkSession, path: str, opener) -> DataFrame:
    """WARC ingest core: list files with ``binaryFile``, keep only the
    ``path`` column, and let each worker stream its files' ``response``
    records into pages rows (``_record_rows``) in bounded Arrow batches
    (peak O(read buffer + one batch))."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)
    _open = opener or open_warc_stream

    # Emit bounded Arrow batches, never a whole segment's records at once:
    # flush on row count OR accumulated payload bytes, whichever trips
    # first (CC segments mix many small pages with the odd 100 MB binary).
    max_rows, max_bytes = 512, 64 << 20

    def _explode_paths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                f = _open(p)
                try:
                    rows: list[dict] = []
                    pending = 0
                    for row in _record_rows(parse_warc_stream(f)):
                        rows.append(row)
                        pending += len(row["html"])
                        if len(rows) >= max_rows or pending >= max_bytes:
                            yield pd.DataFrame(rows, columns=_PAGES_COLS)
                            rows, pending = [], 0
                    if rows:
                        yield pd.DataFrame(rows, columns=_PAGES_COLS)
                finally:
                    f.close()

    return files.select("path").mapInPandas(_explode_paths, _PAGES_SCHEMA)


def read_warc_pages(spark: SparkSession, path: str, opener=None) -> DataFrame:
    """Read ``.warc`` / ``.warc.gz`` files under ``path`` into the pages
    table shape the crawl loop consumes:

    ``(url, warc_ts, html, text, lang, content_type, n_redirects,
    content_disposition)``

    Only ``response`` records become rows. ``n_redirects`` counts this
    URL's 3xx ``response`` records within the input (the redirect-hop
    evidence the P6 gate consumes); the final row carries the last 200
    body. ``text``/``lang`` are empty — the engine derives text itself
    (byte-identical contract).

    The ``binaryFile`` scan is pruned to the ``path`` column only (no file
    CONTENT crosses the scan — plan-pinned), and each worker opens its
    files itself via ``opener`` (default :func:`open_warc_stream`), so peak
    memory per task is O(read buffer + one record) instead of one whole
    ~1 GB compressed segment. Pass an ``opener`` for filesystems that plain
    ``open`` cannot reach, such as object stores.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    recs = _records_df(spark, path, opener)
    # redirect-hop evidence: count this url's 3xx records; keep the last
    # 200 row per url (WARC order within a crawl = fetch order; ties broken
    # by warc_ts then content hash for determinism)
    hops = (
        recs.filter((F.col("_status") >= 300) & (F.col("_status") < 400))
        .groupBy("url")
        .agg(F.count("*").cast("int").alias("_hops"))
    )
    pages = (
        recs.filter(F.col("_status") < 300)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy(
                    F.col("warc_ts").desc_nulls_last(), F.xxhash64("html")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_status")
    )
    return (
        pages.join(hops, "url", "left")
        .withColumn("n_redirects", F.coalesce(F.col("_hops"), F.lit(0)))
        .drop("_hops")
    )

