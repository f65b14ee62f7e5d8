"""Pagination-aware link priority: the pure-Python twin against
hand-derived scores, and the JVM column against the twin."""

from __future__ import annotations

import pytest

from bbcrawl_spark.operators import priority

#: (page, link, score): 0 next-page sibling, 1 same host, 2 cross host
CASES = [
    ("http://f.ex/t/1", "http://f.ex/t/1/page2", 0),
    ("http://f.ex/t/1/page2", "http://f.ex/t/1", 0),  # back to page 1
    ("http://f.ex/t/1/page10", "http://f.ex/t/1/page9", 0),
    ("http://f.ex/t/1/page2", "http://f.ex/t/2/page2", 1),
    ("http://f.ex/t/1", "http://F.EX/t/1/page2", 0),  # host compare is case-free
    ("http://f.ex:81/t/1", "http://f.ex/t/1/page2", 0),  # port is not the host
    ("https://f.ex/t/1", "http://f.ex/t/1/page2", 0),  # scheme is ignored
    ("http://f.ex/t/1/page2", "http://f.ex/t/1/page2?x=1", 0),
    ("http://f.ex/t/1/page2#a", "http://f.ex/t/1/page2#b", 1),
    ("http://f.ex/t/page", "http://f.ex/t/page2", 1),  # 'page' alone is no suffix
    ("http://f.ex/b?sort=a&page=1", "http://f.ex/b?sort=a&page=2", 0),
    ("http://f.ex/b?page=1", "http://f.ex/b?page=2&sort=a", 1),
    ("http://f.ex/b?page=1", "http://f.ex/c?page=2", 1),
    ("http://f.ex/b?mypage=1", "http://f.ex/b?mypage=2", 1),
    ("http://f.ex/b", "/relative/link", 2),
    ("http://a.ex/x", "http://b.ex/x", 2),
]


@pytest.mark.parametrize("page,link,score", CASES)
def test_python_score(page, link, score):
    assert priority.priority_score_py(page, link) == score


@pytest.fixture(scope="module")
def col_scores(spark):
    df = spark.createDataFrame([(p, l) for p, l, _ in CASES], "page string, link string")
    rows = df.select(
        "page", "link", priority.priority_score_col("page", "link").alias("s")
    ).collect()
    return {(r["page"], r["link"]): r["s"] for r in rows}


@pytest.mark.parametrize("page,link,score", CASES)
def test_col_matches_python(col_scores, page, link, score):
    assert col_scores[(page, link)] == priority.priority_score_py(page, link)
