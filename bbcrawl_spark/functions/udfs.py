"""Arrow-batched pandas UDFs + column-expression builders.

Per the engine contract (BASELINE.json input_hint): *vectorized
pandas/Arrow UDFs only, no per-row Python UDFs*. Everything that CAN be a
JVM-side builtin stays one (``xxhash64``, ``parse_url``, ``regexp_extract``,
``format_string``, ``lpad``); Python appears only where Spark genuinely
lacks the semantics — Go-quirk URL resolution and HTML DOM extraction.

UDF batch sizing: HTML blobs are large, so ``plans/session.py`` caps Arrow
batches by bytes (``spark.sql.execution.arrow.maxBytesPerBatch`` = 16m) as
well as rows (``maxRecordsPerBatch`` = 10000): HTML batches stay
memory-bounded on executors while narrow hash columns batch at full size.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import extract
from ..htmlkit import decode_html, parse_html


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side table (rules, budgets, excludes) as a local
    relation. Built through Arrow it plans as ``LocalTableScan``, whose
    broadcast runs no Spark job; ``createDataFrame`` of a Python list plans
    ``Scan ExistingRDD`` and launches a job per broadcast."""
    st = DataType.fromDDL(schema)
    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in st.names]
    # an explicit Arrow schema: pyarrow cannot infer a struct column from
    # tuples, and the Spark schema fixes the field order
    return spark.createDataFrame(pa.table(cols, schema=to_arrow_schema(st)), st)


# ---------------------------------------------------------------------------
# Column-expression builders (pure JVM, no Python)
# ---------------------------------------------------------------------------


def host_of(url: Column | str) -> Column:
    """Host (no port) of a URL — JVM-side. Politeness partitioning key."""
    url = F.col(url) if isinstance(url, str) else url
    return F.lower(F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit("")))


def canonicalize_col(url: Column | str) -> Column:
    """JVM-side canonical URL (F13): lowercase scheme://host, default ports
    dropped, fragment dropped, empty path -> '/', query kept.

    Column-expression twin of ``urlkit.canonicalize`` — parity pinned by
    tests/test_functions.py.
    """
    url = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    return F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def url_hash_col(url: Column | str) -> Column:
    """Seen-set key: xxhash64(canonicalize(url)) — JVM-side, matches
    ``urlkit.url_hash`` exactly (seed 42)."""
    return F.xxhash64(canonicalize_col(url))


# ---------------------------------------------------------------------------
# pandas UDF (Arrow-batched; wraps the pure extraction core)
# ---------------------------------------------------------------------------

#: default when the pages table carries no Content-Type column
CT_DEFAULT = "text/html; charset=utf-8"


#: the loop reads only the resolved url of a link (``l.abs_url``)
LINK_SCHEMA = ArrayType(StructType([StructField("abs_url", StringType())]))


EXTRACTED_FILE_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("link", StringType()),
            StructField("abs_url", StringType()),
            StructField("out_name", StringType()),
            StructField("dir_rel", StringType()),
            StructField("post_id", StringType()),
            StructField("att_id", IntegerType()),
            StructField("element_index", IntegerType()),
            StructField("err", StringType()),
        ]
    )
)


def _rows(files) -> list[dict]:
    return [
        {
            "kind": f.kind,
            "link": f.link,
            "abs_url": f.abs_url,
            "out_name": f.out_name,
            "dir_rel": f.dir_rel,
            "post_id": f.post_id,
            "att_id": f.att_id,
            "element_index": f.element_index,
            "err": f.err,
        }
        for f in files
    ]


#: fused per-page extraction result: ONE decode + ONE parse feeds all three
#: consumers (text sink, frontier link growth, crawler-family downloads)
PAGE_EXTRACT_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("links", LINK_SCHEMA),
        StructField("files", EXTRACTED_FILE_SCHEMA),
    ]
)


def make_extract_fused_udf(
    crawler: str = "",
    headernames: bool = False,
    tags: tuple[str, ...] = extract.SRC_TAGS,
    attrs: list[tuple[str, str]] | None = None,
    want_links: bool = True,
):
    """Fused page extraction: decode + parse each fetched page ONCE, then run
    the text / link / download walks over the same tree.

    Parsing dominates extraction CPU, so one struct-returning UDF consumed by
    three selects (text sink, frontier link growth, crawler-family downloads)
    keeps a single Python stage and a single parse per page.

    ``crawler`` selects the downloads walk ('' / 'file' -> none here — the
    file crawler derives downloads from the frontier row itself, see
    plans/round.py); ``want_links=False`` skips the link walk when the crawl
    follows no links.
    """

    def _files(doc, u, p) -> list[dict]:
        if crawler == "vb-attachments":
            return _rows(
                extract.extract_vb_attachments_from_doc(doc, u, headernames=headernames)
            )
        if crawler == "src":
            return _rows(extract.extract_srcs_from_doc(doc, u, int(p), tags, attrs))
        return []

    def _links(doc, u) -> list[dict]:
        return [{"abs_url": l.abs_url} for l in extract.extract_links_from_doc(doc, u)]

    @pandas_udf(PAGE_EXTRACT_SCHEMA)
    def extract_fused(
        html: pd.Series, url: pd.Series, page_num: pd.Series, content_type: pd.Series
    ) -> pd.DataFrame:
        texts: list[str] = []
        links: list[list] = []
        files: list[list] = []
        for b, u, p, ct in zip(html, url, page_num, content_type):
            if b is None:
                texts.append("")
                links.append([])
                files.append([])
                continue
            doc = parse_html(decode_html(bytes(b), ct or CT_DEFAULT))
            texts.append(extract.extract_text_from_doc(doc))
            links.append(_links(doc, u) if want_links else [])
            files.append(_files(doc, u, p))
        return pd.DataFrame({"text": texts, "links": links, "files": files})

    return extract_fused


# F9: Content-Disposition filename — pure column expressions with exact
# NameFromHeader parity (downloader.go:121-143, 319-340):
#   * header value split on ';', each field whitespace-trimmed,
#   * the FIRST field starting with 'filename="' is the match,
#   * the field must split on '=' into exactly 2 parts (an '=' inside the
#     name is malformed), value = all leading/trailing '"' trimmed,
#   * a '/' in the value rejects it (os.PathSeparator check).
# Python twin: extract.header_filename (parity pinned in tests).


def header_filename_raw_field_col(header: Column | str) -> Column:
    """The matched ``filename="...`` field UNTRIMMED, NULL when absent.
    Reference error parity: the malformed-filename message formats the raw
    field (downloader.go:133 uses ``field``, not ``trimmedfield``), leading
    whitespace included."""
    header = F.col(header) if isinstance(header, str) else header
    fields = F.split(F.coalesce(header, F.lit("")), ";")
    matches = F.filter(fields, lambda f: F.trim(f).startswith('filename="'))
    return F.get(matches, 0)


def header_filename_field_col(header: Column | str) -> Column:
    """The matched (trimmed) ``filename="...`` field, NULL when the header
    is NULL/empty or carries no such field — drives the reference's two
    distinct error messages."""
    return F.trim(header_filename_raw_field_col(header))


def header_filename_col(header: Column | str) -> Column:
    """The extracted filename; '' when absent or malformed."""
    first = header_filename_field_col(header)
    parts = F.split(first, "=")
    raw = F.regexp_replace(F.regexp_replace(F.get(parts, 1), '^"+', ""), '"+$', "")
    return (
        F.when(first.isNull(), F.lit(""))
        .when(F.size(parts) != 2, F.lit(""))
        .when(raw.contains("/"), F.lit(""))
        .otherwise(raw)
    )
