"""robots.txt parsing, REP pattern translation and the RFC 9309 gate:
the pure-Python twin against hand-derived verdicts, and the Spark gate
against the twin."""

from __future__ import annotations

import pytest

from bbcrawl_spark.operators import robots

TWO_GROUPS = "User-agent: bot\nDisallow: /x\n\nUser-agent: *\nDisallow: /y"


class TestParseRobotsTxt:
    @pytest.mark.parametrize(
        "txt,agent,want",
        [
            ("User-agent: *\nDisallow: /a\nDisallow: /b", "*", [("/a", False), ("/b", False)]),
            (TWO_GROUPS, "bot", [("/x", False)]),
            (TWO_GROUPS, "other", [("/y", False)]),
            ("User-agent: a\nUser-agent: b\nDisallow: /z", "a", [("/z", False)]),
            ("User-agent: a\nUser-agent: b\nDisallow: /z", "b", [("/z", False)]),
            ("Disallow: /q", "*", []),  # a rule outside any agent group
            ("# c\nUser-agent: * # all\nDisallow: /p # private", "*", [("/p", False)]),
            ("USER-AGENT: *\nDISALLOW: /cap", "*", [("/cap", False)]),
            ("", "*", []),
            ("User-agent: bot\nDisallow: /x", "*", []),
            ("User-agent: *\nAllow: /a\nDisallow: /b", "*", [("/a", True), ("/b", False)]),
            (
                "User-agent: bot\nDisallow: /1\nUser-agent: *\nDisallow: /2\n"
                "User-agent: bot\nDisallow: /3",
                "bot",
                [("/1", False)],  # first matching group wins
            ),
            ("User-agent: *\r\nDisallow: /crlf\r\n", "*", [("/crlf", False)]),
            ("User-agent:*\nDisallow:/tight", "*", [("/tight", False)]),
            ("User-agent: *\nAllow: /a/b\nDisallow: /a", "*", [("/a/b", True), ("/a", False)]),
            ("User-agent: *\nAllow:\nDisallow: /x", "*", [("/x", False)]),
            ("User-agent: a\nAllow: /x\nUser-agent: b\nDisallow: /y", "a", [("/x", True)]),
            ("User-agent: a\nAllow: /x\nUser-agent: b\nDisallow: /y", "b", [("/y", False)]),
            ("User-agent: *\nCrawl-delay: 3\nUser-agent: b\nDisallow: /y", "*", []),
            # product tokens compare case-insensitively (RFC 9309 §2.2.1)
            ("User-agent: Googlebot\nDisallow: /g", "googlebot", [("/g", False)]),
            ("User-agent: googlebot\nDisallow: /g", "GoogleBot", [("/g", False)]),
            # paths stay case-sensitive
            ("User-agent: *\nDisallow: /Private", "*", [("/Private", False)]),
        ],
    )
    def test_rules(self, txt, agent, want):
        assert robots.parse_robots_txt(txt, agent) == want


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
            (DELAYS, "BOT", 1.0),
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

#: Disallow-only rules: plain prefix matching
PREFIX_RULES = {"h": [("/private", False), ("/tmp/", False)]}

PREFIX_CASES = [
    ("http://h/private", False),
    ("http://h/privateer", False),
    ("http://h/tmp", True),
    ("http://h/tmp/x", False),
    ("http://h:8080/private", False),
    ("http://other/private", True),
    ("http://h", True),
]

#: ordinary robots.txt lines a literal prefix matcher misreads
WILDCARD_RULES = {"h": [("/tmp/*", False), ("/a", False), ("/a/ok", True)]}

WILDCARD_CASES = [
    ("http://h/tmp/x", False),  # '*' is a wildcard, not a literal
    ("http://h/tmp/", False),  # '*' also matches the empty sequence
    ("http://h/tmp", True),
    ("http://h/a/no", False),
    ("http://h/a/ok/1", True),  # the Allow carve-out
]

CASE_SETS = {
    "full": (FULL_RULES, FULL_CASES),
    "prefix": (PREFIX_RULES, PREFIX_CASES),
    "wildcard": (WILDCARD_RULES, WILDCARD_CASES),
}


def _body(rules: list[tuple[str, bool]]) -> str:
    """A robots.txt body that parses back to ``rules``."""
    return "User-agent: *\n" + "".join(
        f"{'Allow' if a else 'Disallow'}: {p}\n" for p, a in rules
    )


class TestAllowedTwins:
    @pytest.mark.parametrize("url,allowed", FULL_CASES)
    def test_full_rep(self, url, allowed):
        assert robots.robots_allowed_py(url, FULL_RULES) is allowed

    @pytest.mark.parametrize("url,allowed", PREFIX_CASES)
    def test_prefix(self, url, allowed):
        assert robots.robots_allowed_py(url, PREFIX_RULES) is allowed

    @pytest.mark.parametrize("url,allowed", WILDCARD_CASES)
    def test_wildcard(self, url, allowed):
        assert robots.robots_allowed_py(url, WILDCARD_RULES) is allowed

    @pytest.mark.parametrize("name", sorted(CASE_SETS))
    def test_body_round_trips(self, name):
        for rules in CASE_SETS[name][0].values():
            assert robots.parse_robots_txt(_body(rules)) == rules


@pytest.fixture(scope="module")
def spark_kept(spark):
    """URLs the Spark gate keeps per case set, one job each; the rules table
    comes from robots_table over rendered bodies keyed by uppercased hosts."""
    kept = {}
    for name, (rules, cases) in CASE_SETS.items():
        table = robots.robots_table(
            spark, {h.upper(): _body(rs) for h, rs in rules.items()}
        )
        frontier = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        kept[name] = {r["url"] for r in robots.robots_gate(frontier, table).collect()}
    return kept


class TestSparkGatesMatchTwins:
    @pytest.mark.parametrize("url,allowed", FULL_CASES)
    def test_full_rep(self, spark_kept, url, allowed):
        assert (url in spark_kept["full"]) is robots.robots_allowed_py(url, FULL_RULES)

    @pytest.mark.parametrize("url,allowed", PREFIX_CASES)
    def test_prefix(self, spark_kept, url, allowed):
        assert (url in spark_kept["prefix"]) is robots.robots_allowed_py(url, PREFIX_RULES)

    @pytest.mark.parametrize("url,allowed", WILDCARD_CASES)
    def test_wildcard(self, spark_kept, url, allowed):
        assert (url in spark_kept["wildcard"]) is robots.robots_allowed_py(
            url, WILDCARD_RULES
        )
