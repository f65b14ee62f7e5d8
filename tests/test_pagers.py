"""Pager golden sequences — every case from the reference test suite
(/root/reference/libcrawl/pagers_test.go:49-61) plus query/vb4 semantics
(pagers.go:36-48, 223-248). FIXTURES.md §A."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from bbcrawl_spark import pagers
from bbcrawl_spark.pagers import CutterPagerSpec, QueryPagerSpec, VB4PagerSpec

# (blueprint addr, printf-format of expected url, flags) — verbatim from
# pagers_test.go:50-60
CUTTER_GOLDEN = [
    ("http://www.example.net/1/test", "http://www.example.net/%d/test",
     dict(start=1, end=100, cut=(24, 1))),
    ("http://www.example.net/1/test", "http://www.example.net/%d/test",
     dict(start=1, end=100, cut=(-6, 1))),
    ("http://www.example.net/666/test", "http://www.example.net/%d/test",
     dict(start=1, end=100, cut=(24, 3))),
    ("http://www.example.net/666/test", "http://www.example.net/%d/test",
     dict(start=1, end=100, cut=(-8, 3))),
    ("http://www.example.net/1/test", "http://www.example.net/%05d/test",
     dict(start=1, end=100, cut=(24, 1), digits=5)),
    ("http://www.example.net/1", "http://www.example.net/%d",
     dict(start=1, end=100, cut=(24, 1))),
    ("http://www.example.net/1", "http://www.example.net/%d",
     dict(start=1, end=100, cut=(-1, 1))),
    ("http://www.example.net/page/", "http://www.example.net/page%d/",
     dict(start=1, end=100, cut=(28, 0))),
    ("http://www.example.net/1", "http://www.example.net/%05d",
     dict(start=1, end=100, cut=(24, 1), digits=5)),
    ("http://www.example.net/1/", "http://www.example.net/%d/",
     dict(start=1, end=100, cut=(24, 1))),
    ("http://www.example.net/1/", "http://www.example.net/%d/",
     dict(start=1, end=100, cut=(24, 1), startpage="http://www.example.net")),
]


def _expected_urls(fmt: str, flags: dict) -> list[str]:
    urls = []
    if flags.get("startpage"):
        urls.append(flags["startpage"])
    digits = flags.get("digits", 0)
    for p in range(flags["start"], flags["end"] + 1):
        if digits:
            urls.append(fmt % p)  # %05d handled by printf-format itself
        else:
            urls.append(fmt % p)
    return urls


def _urls(spec) -> list[str]:
    return [u for _, _, u in pagers.pager_sequence(spec)]


def _table_rows(spark, spec) -> list[tuple]:
    """(ord, page_num, url) of the seed table the entry queries build."""
    rows = entry_mod._pager_rows(spark, spec).orderBy("ord").collect()
    return [(r["ord"], r["page_num"], r["url"]) for r in rows]


class TestCutterGolden:
    @pytest.mark.parametrize("addr,fmt,flags", CUTTER_GOLDEN)
    def test_spark_sequence(self, spark, addr, fmt, flags):
        spec = CutterPagerSpec(url=addr, **flags)
        assert [u for _, _, u in _table_rows(spark, spec)] == _expected_urls(fmt, flags)

    @pytest.mark.parametrize("addr,fmt,flags", CUTTER_GOLDEN)
    def test_oracle_sequence(self, addr, fmt, flags):
        spec = CutterPagerSpec(url=addr, **flags)
        assert _urls(spec) == _expected_urls(fmt, flags)

    def test_step_and_adjust(self):
        # step multiplies the substituted number (pagers.go:125: page*step);
        # adjust shifts PageNum only (pagers.go:133-135)
        spec = CutterPagerSpec(
            url="http://h/1/x", start=1, end=4, cut=(10, 1), step=10, adjust=5
        )
        rows = pagers.pager_sequence(spec)
        assert [u for _, _, u in rows] == [
            "http://h/10/x", "http://h/20/x", "http://h/30/x", "http://h/40/x"
        ]
        assert [pn for _, pn, _ in rows] == [6, 7, 8, 9]

    def test_startpage_page_num(self):
        # while crawling the startpage the Go pager reports start-1+adjust
        spec = CutterPagerSpec(
            url="http://h/1/", start=1, end=2, cut=(10, 1), startpage="http://h"
        )
        rows = pagers.pager_sequence(spec)
        assert rows[0] == (0, 0, "http://h")
        assert [pn for _, pn, _ in rows[1:]] == [1, 2]

    def test_validation_errors(self):
        with pytest.raises(ValueError, match="cannot be 0"):
            CutterPagerSpec(url="http://h/1", start=1, end=2, cut=(0, 1))
        with pytest.raises(ValueError, match="end must not be smaller"):
            CutterPagerSpec(url="http://h/1", start=5, end=2, cut=(9, 1))
        with pytest.raises(ValueError, match="digits"):
            CutterPagerSpec(url="http://h/1", start=1, end=100, cut=(9, 1), digits=2)
        with pytest.raises(ValueError, match="negative amount"):
            CutterPagerSpec(url="http://h/1", start=1, end=2, cut=(9, -1))
        with pytest.raises(ValueError, match="out of range"):
            CutterPagerSpec(url="http://h/1", start=1, end=2, cut=(99, 1))


class TestQueryPager:
    def test_sequence_sorted_keys(self):
        # Go url.Values.Encode sorts keys: existing params stay, page var set
        spec = QueryPagerSpec(
            url="http://h/forum?z=9&a=1", start=2, end=4, name="page"
        )
        urls = _urls(spec)
        assert urls == [
            "http://h/forum?a=1&page=2&z=9",
            "http://h/forum?a=1&page=3&z=9",
            "http://h/forum?a=1&page=4&z=9",
        ]

    def test_no_existing_query(self):
        spec = QueryPagerSpec(url="http://h/t", start=1, end=2)
        assert _urls(spec) == [
            "http://h/t?page=1",
            "http://h/t?page=2",
        ]

    def test_page_var_replaced(self):
        # query.Set replaces any pre-existing value of the page var
        spec = QueryPagerSpec(url="http://h/t?page=77&b=2", start=1, end=1)
        assert _urls(spec) == [
            "http://h/t?b=2&page=1"
        ]

    def test_escaped_values(self):
        spec = QueryPagerSpec(url="http://h/t?q=a b", start=1, end=1)
        assert _urls(spec) == [
            "http://h/t?page=1&q=a+b"
        ]

    def test_oracle_matches_spark(self, spark):
        spec = QueryPagerSpec(url="http://h/f?x=1", start=3, end=7, name="p")
        assert _table_rows(spark, spec) == pagers.pager_sequence(spec)


class TestVB4Pager:
    def test_page1_bare(self):
        spec = VB4PagerSpec(url="http://h/threads/42-topic", start=1, end=3)
        assert _urls(spec) == [
            "http://h/threads/42-topic",
            "http://h/threads/42-topic/page2",
            "http://h/threads/42-topic/page3",
        ]

    def test_trailing_slash_no_double(self):
        spec = VB4PagerSpec(url="http://h/t/", start=2, end=3)
        assert _urls(spec) == [
            "http://h/t/page2",
            "http://h/t/page3",
        ]

    def test_start_after_one(self):
        spec = VB4PagerSpec(url="http://h/t", start=5, end=6)
        assert _urls(spec) == [
            "http://h/t/page5",
            "http://h/t/page6",
        ]

    def test_oracle_matches_spark(self, spark):
        spec = VB4PagerSpec(url="http://h/t", start=1, end=5)
        assert _table_rows(spark, spec) == pagers.pager_sequence(spec)


class TestPagerValidationTable:
    """Every SetOptions / SetUrl error branch, one row each."""

    @pytest.mark.parametrize(
        "kw,msg",
        [
            (dict(start=-1, end=2, cut=(9, 1)), "start not set or set to an illegal value"),
            (dict(start=5, end=4, cut=(9, 1)), "end must not be smaller than start"),
            (dict(start=1, end=2, cut=(9, 1), step=0), "step set to an illegal value"),
            (dict(start=1, end=2, cut=(9,)), "cut needs 2 integers"),
            (dict(start=1, end=2, cut=(0, 1)), "cut: first argument cannot be 0"),
            (dict(start=1, end=2, cut=(9, -1)), "negative amount of characters"),
            (dict(start=1, end=10, cut=(9, 1), digits=1), "not enough space"),
            (dict(start=1, end=2, cut=(11, 1)), "cutoff index out of range"),
            (dict(start=1, end=2, cut=(-99, 1)), "cutoff index out of range"),
            (dict(url="ftp://h/1", start=1, end=2, cut=(9, 1)), "unsupported url scheme"),
        ],
    )
    def test_cutter(self, kw, msg):
        kw.setdefault("url", "http://h/1")
        with pytest.raises(ValueError, match=msg):
            CutterPagerSpec(**kw)

    @pytest.mark.parametrize(
        "kw,msg",
        [
            (dict(url="http://h/b", start=0, end=2), "Start page not set"),
            (dict(url="http://h/b", start=3, end=2), "End page not set"),
            (dict(url="http://h/b", start=1, end=2, name=""), "Page identifier not set"),
            (dict(url="/b?x=1", start=1, end=2), '"/b" is not an absolute URL'),
        ],
    )
    def test_query(self, kw, msg):
        with pytest.raises(ValueError, match=msg):
            QueryPagerSpec(**kw)

    @pytest.mark.parametrize(
        "kw,msg",
        [
            (dict(url="http://h/t", start=0, end=2), "Start page not set"),
            (dict(url="http://h/t", start=3, end=2), "End page not set"),
            (dict(url="ftp://h/t", start=1, end=2), "unsupported url scheme"),
        ],
    )
    def test_vb4(self, kw, msg):
        with pytest.raises(ValueError, match=msg):
            VB4PagerSpec(**kw)


class TestPageUrlTable:
    @pytest.mark.parametrize(
        "url,name,page,want",
        [
            ("http://h/b?z=1&a=2", "page", 2, "http://h/b?a=2&page=2&z=1"),
            ("http://h/b?z=1&a=2", "p", 2, "http://h/b?a=2&p=2&z=1"),
            ("http://h/b?page=9&x=1", "page", 3, "http://h/b?page=3&x=1"),
            ("http://h/b?k=2&k=1", "page", 1, "http://h/b?k=2&k=1&page=1"),
            ("http://h/b?q=a+b", "page", 1, "http://h/b?page=1&q=a+b"),
            ("http://h/b?q=%7E", "page", 1, "http://h/b?page=1&q=~"),
            ("http://h/b?x=1?y=2", "page", 1, "http://h/b?page=1&x=1%3Fy%3D2"),
        ],
    )
    def test_query(self, url, name, page, want):
        assert QueryPagerSpec(url=url, start=1, end=9, name=name).page_url(page) == want

    @pytest.mark.parametrize(
        "cut,digits,page,want",
        [
            ((-3, 1), 0, 5, "http://h/t/5/x"),
            ((-3, 1), 3, 5, "http://h/t/005/x"),
            ((12, 0), 0, 7, "http://h/t/71/x"),  # zero-width cut inserts
            ((12, 3), 0, 2, "http://h/t/2"),  # cut runs to the end
        ],
    )
    def test_cutter(self, cut, digits, page, want):
        spec = CutterPagerSpec(url="http://h/t/1/x", start=1, end=9, cut=cut, digits=digits)
        assert spec.page_url(page) == want

    @pytest.mark.parametrize(
        "url,page,want",
        [
            ("http://h/t/5", 1, "http://h/t/5"),
            ("http://h/t/5", 3, "http://h/t/5/page3"),
            ("http://h/t/5/", 2, "http://h/t/5/page2"),
        ],
    )
    def test_vb4(self, url, page, want):
        assert VB4PagerSpec(url=url, start=1, end=9).page_url(page) == want


SPECS = [
    QueryPagerSpec(url="http://h/b?z=1&a=x+y", start=3, end=7),
    QueryPagerSpec(url="http://h/b", start=1, end=4, name="p"),
    CutterPagerSpec(url="http://h/t/1/x", start=0, end=5, cut=(-3, 1), step=3, digits=2),
    CutterPagerSpec(url="http://h/t/1/x", start=2, end=4, cut=(12, 1), startpage="http://h/t/", adjust=2),
    VB4PagerSpec(url="http://h/t/5", start=1, end=4),
    VB4PagerSpec(url="http://h/t/5/", start=3, end=6),
]


class TestSeedTableMatchesSequence:
    """The Spark seed table carries exactly the oracle sequence: same ord,
    page_num and url, seed_id 0 on every row, and the declared types."""

    @pytest.mark.parametrize("spec", SPECS, ids=[f"seed{i}" for i in range(1, len(SPECS) + 1)])
    def test_rows(self, spark, spec):
        df = entry_mod._pager_rows(spark, spec)
        assert df.dtypes == [
            ("seed_id", "bigint"), ("ord", "bigint"), ("page_num", "int"), ("url", "string")
        ]
        assert _table_rows(spark, spec) == pagers.pager_sequence(spec)
        assert {r["seed_id"] for r in df.collect()} == {0}
