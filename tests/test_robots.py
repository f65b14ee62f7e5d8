"""robots.txt parsing, REP pattern translation and the RFC 9309 gate:
the pure-Python twin against hand-derived verdicts, and the Spark gate
against the twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bbcrawl_spark.operators import robots

from .conftest import spark_jobs

TWO_GROUPS = "User-agent: bot\nDisallow: /x\n\nUser-agent: *\nDisallow: /y"

#: agent 'a' is named by two groups split by another agent's group
MERGED_TXT = (
    "User-agent: a\nDisallow: /x\nUser-agent: b\nDisallow: /y\n"
    "User-agent: a\nDisallow: /z\nCrawl-delay: 3"
)


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
                [("/1", False), ("/3", False)],  # matching groups merge (§2.2.1)
            ),
            (MERGED_TXT, "a", [("/x", False), ("/z", False)]),
            (MERGED_TXT, "b", [("/y", False)]),
            (
                "User-agent: *\nDisallow: /1\nUser-agent: b\nDisallow: /2\n"
                "User-agent: *\nDisallow: /3",
                "other",
                [("/1", False), ("/3", False)],  # every '*' group merges
            ),
            # a group naming the agent, even an empty one, shadows '*'
            ("User-agent: a\nDisallow:\nUser-agent: *\nDisallow: /", "a", []),
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
            (MERGED_TXT, "a", 3.0),  # from the second group naming 'a'
            (MERGED_TXT, "b", None),
            (
                "User-agent: a\nCrawl-delay: 2\nUser-agent: a\nCrawl-delay: 7",
                "a",
                2.0,  # the first delay of the merged groups
            ),
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

#: the user agent the case-set bodies are parsed for
AGENT = "BbCrawl"

#: bodies whose agent groups are split: the rules below are what RFC 9309
#: §2.2.1 merges them into for AGENT (host h) and for any agent (host g)
MERGED_BODIES = {
    "h": "User-agent: bbcrawl\nDisallow: /a\nAllow: /a/ok\n\n"
    "User-agent: other\nDisallow: /\n\n"
    "User-agent: *\nDisallow: /b\n\n"
    "User-agent: BBCRAWL\nDisallow: /c\nAllow: /c/x\n",
    "g": "User-agent: *\nDisallow: /1\n\nUser-agent: other\nDisallow: /2\n\n"
    "User-agent: *\nDisallow: /3\n",
}
MERGED_RULES = {
    "h": [("/a", False), ("/a/ok", True), ("/c", False), ("/c/x", True)],
    "g": [("/1", False), ("/3", False)],
}

MERGED_CASES = [
    ("http://h/a/1", False),
    ("http://h/a/ok", True),
    ("http://h/c/1", False),  # from the second group naming the agent
    ("http://h/c/x", True),
    ("http://h/b", True),  # the '*' group does not apply
    ("http://h/", True),  # nor does the other agent's group
    ("http://g/1", False),
    ("http://g/2", True),
    ("http://g/3", False),  # from the second '*' group
]

CASE_SETS = {
    "full": (FULL_RULES, FULL_CASES),
    "prefix": (PREFIX_RULES, PREFIX_CASES),
    "wildcard": (WILDCARD_RULES, WILDCARD_CASES),
    "merged": (MERGED_RULES, MERGED_CASES),
}


def _body(rules: list[tuple[str, bool]]) -> str:
    """A robots.txt body that parses back to ``rules``."""
    return "User-agent: *\n" + "".join(
        f"{'Allow' if a else 'Disallow'}: {p}\n" for p, a in rules
    )


#: per case set, the robots.txt body of each host
BODIES = {
    name: {h: _body(rs) for h, rs in rules.items()}
    for name, (rules, _) in CASE_SETS.items()
} | {"merged": MERGED_BODIES}


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

    @pytest.mark.parametrize("url,allowed", MERGED_CASES)
    def test_merged(self, url, allowed):
        assert robots.robots_allowed_py(url, MERGED_RULES) is allowed

    @pytest.mark.parametrize("name", sorted(CASE_SETS))
    def test_body_round_trips(self, name):
        for h, rules in CASE_SETS[name][0].items():
            assert robots.parse_robots_txt(BODIES[name][h], AGENT) == rules


@pytest.fixture(scope="module")
def spark_kept(spark):
    """URLs the Spark gate keeps per case set, one job each; the rules table
    comes from robots_table over each set's bodies keyed by uppercased
    hosts."""
    kept = {}
    for name, (_, cases) in CASE_SETS.items():
        table = robots.robots_table(
            spark, {h.upper(): b for h, b in BODIES[name].items()}, AGENT
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

    @pytest.mark.parametrize("url,allowed", MERGED_CASES)
    def test_merged(self, spark_kept, url, allowed):
        assert (url in spark_kept["merged"]) is robots.robots_allowed_py(
            url, MERGED_RULES
        )


class TestGatePlan:
    """The gate is one map-side pass: a broadcast left anti join to the
    local rules dim on a per-row Disallow verdict, with no shuffle."""

    @pytest.fixture
    def gated(self, spark):
        rules = robots.robots_table(spark, BODIES["full"])
        frontier = spark.range(64).select(
            F.concat(
                F.when(F.col("id") % 2 == 0, F.lit("http://h/shop/"))
                .otherwise(F.lit("http://h/shop/public/")),
                F.col("id").cast("string"),
            ).alias("url")
        )
        return robots.robots_gate(frontier, rules)

    def test_plan_is_one_map_side_pass(self, gated):
        plan = gated._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Aggregate" not in plan, plan
        assert plan.count("Range (") == 1, plan  # the frontier is read once
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert "LocalTableScan" in plan, plan  # the rules side

    def test_size_estimate_at_most_the_frontier(self, spark):
        # a left outer join is sized as the product of its sides, which
        # flipped the build side of the round's pages join downstream
        rules = robots.robots_table(spark, BODIES["full"])
        frontier = spark.range(64).select(
            F.concat(F.lit("http://h/shop/"), F.col("id").cast("string")).alias("url")
        )

        def size(df):
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            return int(stats.sizeInBytes())

        assert size(robots.robots_gate(frontier, rules)) <= size(frontier)

    def test_count_runs_three_jobs(self, spark, gated):
        # the aggregate + anti-join gate this replaced ran 5
        with spark_jobs(spark) as jobs:
            assert gated.count() == 32  # the /shop/public carve-out
        assert jobs() <= 3
