"""robots.txt parsing, REP pattern translation and the prefix / full-REP
gates: pure-Python twins against hand-derived verdicts, and the Spark gates
against the twins."""

from __future__ import annotations

import pytest

from bbcrawl_spark.operators import robots

TWO_GROUPS = "User-agent: bot\nDisallow: /x\n\nUser-agent: *\nDisallow: /y"


class TestParseRobotsTxt:
    @pytest.mark.parametrize(
        "txt,agent,want",
        [
            ("User-agent: *\nDisallow: /a\nDisallow: /b", "*", ["/a", "/b"]),
            (TWO_GROUPS, "bot", ["/x"]),
            (TWO_GROUPS, "other", ["/y"]),
            ("User-agent: a\nUser-agent: b\nDisallow: /z", "a", ["/z"]),
            ("User-agent: a\nUser-agent: b\nDisallow: /z", "b", ["/z"]),
            ("Disallow: /q", "*", []),  # a rule outside any agent group
            ("# c\nUser-agent: * # all\nDisallow: /p # private", "*", ["/p"]),
            ("USER-AGENT: *\nDISALLOW: /cap", "*", ["/cap"]),
            ("", "*", []),
            ("User-agent: bot\nDisallow: /x", "*", []),
            ("User-agent: *\nAllow: /a\nDisallow: /b", "*", ["/b"]),
            (
                "User-agent: bot\nDisallow: /1\nUser-agent: *\nDisallow: /2\n"
                "User-agent: bot\nDisallow: /3",
                "bot",
                ["/1"],  # first matching group wins
            ),
            ("User-agent: *\r\nDisallow: /crlf\r\n", "*", ["/crlf"]),
            ("User-agent:*\nDisallow:/tight", "*", ["/tight"]),
        ],
    )
    def test_disallows(self, txt, agent, want):
        assert robots.parse_robots_txt(txt, agent) == want


class TestParseRobotsRules:
    @pytest.mark.parametrize(
        "txt,agent,want",
        [
            ("User-agent: *\nAllow: /a/b\nDisallow: /a", "*", [("/a/b", True), ("/a", False)]),
            ("User-agent: *\nAllow:\nDisallow: /x", "*", [("/x", False)]),
            ("User-agent: a\nAllow: /x\nUser-agent: b\nDisallow: /y", "a", [("/x", True)]),
            ("User-agent: a\nAllow: /x\nUser-agent: b\nDisallow: /y", "b", [("/y", False)]),
            ("User-agent: *\nCrawl-delay: 3\nUser-agent: b\nDisallow: /y", "*", []),
        ],
    )
    def test_rules(self, txt, agent, want):
        assert robots.parse_robots_rules(txt, agent) == want


class TestParseCrawlDelay:
    DELAYS = "User-agent: bot\nCrawl-delay: 1\nUser-agent: *\nCrawl-delay: 9"

    @pytest.mark.parametrize(
        "txt,agent,want",
        [
            ("User-agent: *\nCrawl-delay: 2", "*", 2.0),
            ("User-agent: *\nCrawl-delay: 0.5", "*", 0.5),
            ("User-agent: *\nCrawl-delay: abc", "*", None),
            ("User-agent: *\nDisallow: /x", "*", None),
            (DELAYS, "bot", 1.0),
            (DELAYS, "*", 9.0),
            (DELAYS, "other", 9.0),
            ("Crawl-delay: 5", "*", None),
        ],
    )
    def test_delay(self, txt, agent, want):
        assert robots.parse_crawl_delay(txt, agent) == want


class TestRobotsRegex:
    @pytest.mark.parametrize(
        "pattern,want",
        [
            ("/a", "^/a"),
            ("/a$", "^/a$"),
            ("/*.pdf$", "^/.*\\.pdf$"),
            ("/a*b", "^/a.*b"),
            ("/$x", "^/\\$x"),  # only a trailing '$' anchors
            ("/a?b", "^/a\\?b"),
        ],
    )
    def test_translation(self, pattern, want):
        assert robots.robots_regex(pattern) == want


FULL_RULES = {
    "h": [
        ("/shop", False),
        ("/shop/public", True),
        ("/*.pdf$", False),
        ("/p", True),
        ("/p", False),
        ("/a*z", False),
    ]
}

#: (url, allowed) under FULL_RULES: longest match wins, Allow wins ties
FULL_CASES = [
    ("http://h/shop/x", False),
    ("http://h/shop/public/x", True),
    ("http://h/doc.pdf", False),
    ("http://h/doc.pdf?x=1", False),  # the query is not part of the path
    ("http://h/doc.pdfx", True),
    ("http://h/p", True),
    ("http://h/pq", True),
    ("http://other/shop", True),
    ("http://H/shop", False),
    ("http://h", True),
    ("http://h/abcz", False),
    ("http://h/az/shop", False),
]

PREFIX_RULES = {"h": ["/private", "/tmp/"]}

PREFIX_CASES = [
    ("http://h/private", False),
    ("http://h/privateer", False),
    ("http://h/tmp", True),
    ("http://h/tmp/x", False),
    ("http://h:8080/private", False),
    ("http://other/private", True),
    ("http://h", True),
]


class TestAllowedTwins:
    @pytest.mark.parametrize("url,allowed", FULL_CASES)
    def test_full_rep(self, url, allowed):
        assert robots.robots_allowed_full_py(url, FULL_RULES) is allowed

    @pytest.mark.parametrize("url,allowed", PREFIX_CASES)
    def test_prefix(self, url, allowed):
        assert robots.robots_allowed_py(url, PREFIX_RULES) is allowed


@pytest.fixture(scope="module")
def spark_kept(spark):
    """URLs each Spark gate keeps, one job per gate."""
    full_rules = spark.createDataFrame(
        [(h, p, a, len(p), robots.robots_regex(p)) for h, rs in FULL_RULES.items() for p, a in rs],
        "host string, pattern string, allow boolean, plen int, rx string",
    )
    prefix_rules = spark.createDataFrame(
        [(h, p) for h, ps in PREFIX_RULES.items() for p in ps],
        "host string, disallow_prefix string",
    )
    full = spark.createDataFrame([(u,) for u, _ in FULL_CASES], "url string")
    prefix = spark.createDataFrame([(u,) for u, _ in PREFIX_CASES], "url string")
    return {
        "full": {r["url"] for r in robots.robots_gate_full(full, full_rules).collect()},
        "prefix": {r["url"] for r in robots.robots_gate(prefix, prefix_rules).collect()},
    }


class TestSparkGatesMatchTwins:
    @pytest.mark.parametrize("url,allowed", FULL_CASES)
    def test_full_rep(self, spark_kept, url, allowed):
        assert (url in spark_kept["full"]) is robots.robots_allowed_full_py(url, FULL_RULES)

    @pytest.mark.parametrize("url,allowed", PREFIX_CASES)
    def test_prefix(self, spark_kept, url, allowed):
        assert (url in spark_kept["prefix"]) is robots.robots_allowed_py(url, PREFIX_RULES)
