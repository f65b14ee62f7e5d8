"""The round's inputs and frontier rows: the pages table's one projection
(optional columns filled with their defaults when it is read) and the
frontier-row builders of the engine and the oracle."""

from __future__ import annotations

from itertools import combinations

import pytest

from bbcrawl_spark import extract, oracle
from bbcrawl_spark.functions.udfs import CT_DEFAULT
from bbcrawl_spark.plans.round import (
    CrawlConfig,
    CrawlDriver,
    complete_headernames,
    frontier_from_urls,
)

OPTIONAL = {
    "content_type": ("string", "text/html; charset=iso-8859-1", CT_DEFAULT),
    "n_redirects": ("int", 3, 0),
    "content_disposition": ("string", 'attachment; filename="a.zip"', None),
}
ROWS = [("http://h.ex/att/1", b"<p>one</p>"), ("http://h.ex/t/2", b"<p>two</p>")]
SUBSETS = [c for k in range(len(OPTIONAL) + 1) for c in combinations(OPTIONAL, k)]


def _pages(spark, tmp_path, present) -> CrawlDriver:
    """A driver over a pages table with ``url, html`` and the ``present``
    optional columns, each holding its non-default sample value."""
    path = str(tmp_path / "pages.parquet")
    ddl = ", ".join(
        ["url string", "html binary", *(f"{c} {OPTIONAL[c][0]}" for c in present)]
    )
    rows = [(*r, *(OPTIONAL[c][1] for c in present)) for r in ROWS]
    spark.createDataFrame(rows, ddl).write.parquet(path)
    cfg = CrawlConfig(pages_path=path, warehouse_root=str(tmp_path / "wh"), seeds=[])
    return CrawlDriver(spark, cfg)


@pytest.mark.parametrize("present", SUBSETS, ids=lambda p: "+".join(p) or "none")
def test_pages_projection_fills_defaults(spark, tmp_path, present):
    """Whatever optional columns the table has, the driver reads one shape:
    a present column passes through, an absent one takes its default."""
    got = _pages(spark, tmp_path, present)._pages
    assert got.dtypes == [
        ("url", "string"), ("html", "binary"),
        *((c, t) for c, (t, _, _) in OPTIONAL.items()),
    ]
    want = [
        (*r, *(v if c in present else d for c, (_, v, d) in OPTIONAL.items()))
        for r in ROWS
    ]
    assert [tuple(r) for r in got.orderBy("url").collect()] == want


@pytest.mark.parametrize("with_cd", [True, False], ids=["header", "no_header"])
def test_header_completion_over_filled_pages(spark, tmp_path, with_cd):
    """A table without ``content_disposition`` completes no header name and
    reports each one as missing, as the twin does for an absent header."""
    drv = _pages(spark, tmp_path, ("content_disposition",) if with_cd else ())
    url = ROWS[0][0]
    downloads = spark.createDataFrame(
        [(url, "1-2", "")], "abs_url string, out_name string, err string"
    )
    (got,) = complete_headernames(downloads, drv._pages).collect()
    header = OPTIONAL["content_disposition"][1] if with_cd else None
    assert (got["out_name"], got["err"]) == extract.complete_headername("1-2", header)


LINK_URLS = [
    "http://h.ex/t/1/page3",
    "http://h.ex/t/1/",
    "HTTP://H.Ex/a/b",
    "http://h.ex:80/a?b=1#frag",
    "https://h.ex/%7Euser/page0",
    "http://127.0.0.1:8080/x/page12",
]


@pytest.fixture(scope="module")
def engine_rows(spark):
    """Engine frontier rows for ``LINK_URLS`` (seed i, priority 10 + i),
    discovered in round 4."""
    df = spark.createDataFrame(
        [(u, i, 10 + i) for i, u in enumerate(LINK_URLS)],
        "url string, seed_id long, priority int",
    )
    return {r["url"]: r for r in frontier_from_urls(df, 4).collect()}


@pytest.mark.parametrize("url", LINK_URLS)
def test_frontier_row_builders_agree(engine_rows, url):
    """``frontier_from_urls`` and the oracle's ``entry_for`` build the same
    frontier row for one discovered link."""
    i = LINK_URLS.index(url)
    want = oracle.entry_for(url, i, 10 + i, 4)
    got = engine_rows[url]
    assert list(got.asDict()) == [
        "url", "url_hash", "host", "priority", "page_num", "seed_id", "discovered_in",
    ]
    assert tuple(got) == (
        want.url, want.url_hash, want.host, want.priority, want.page_num,
        want.seed_id, want.discovered_in,
    )
