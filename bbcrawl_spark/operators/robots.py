"""robots.txt gating (P7/J5) per RFC 9309 — graft operator required by the
north_rule (the reference does no robots handling).

One implementation: ``_group`` walks a body once for the rules and
Crawl-delay applying to a user agent (``parse_robots_txt`` and
``parse_crawl_delay`` project it); ``robots_table`` builds the tiny
``(host, rules)`` dim, one row per host, as a local relation;
``robots_gate`` broadcast-anti-joins it against the frontier and keeps a
url whose longest matching rule is an Allow (Allow wins ties) or that
matches no rule, with ``*`` any sequence and a trailing ``$`` the end of the path —
a per-row verdict, so the gate is one map-side pass;
``robots_allowed_py`` is its twin for the oracle. Hosts and user agents
compare case-insensitively (§2.2.1); path patterns are case-sensitive.
``crawl_delay_budgets`` maps Crawl-delay to per-host politeness budgets
(``rank_fetch_slots(host_budgets=...)``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import host_of, local_table

__all__ = [
    "parse_robots_txt",
    "parse_crawl_delay",
    "robots_regex",
    "robots_table",
    "robots_gate",
    "robots_allowed_py",
    "crawl_delay_budgets",
]

def _group(
    txt: str, user_agent: str
) -> tuple[list[tuple[str, bool]], float | None]:
    """(rules, crawl_delay) for ``user_agent`` (RFC 9309 §2.2.1): the
    groups naming the agent merged in file order, else every ``*`` group
    merged. A group is a run of User-agent lines plus the records after
    it; any Allow, Disallow or Crawl-delay record closes the run. An empty
    value is no rule; the delay is the first parseable one merged."""
    want = user_agent.lower()
    merged: dict[str, tuple[list, list]] = {want: ([], []), "*": ([], [])}
    named: set[str] = set()
    agents: set[str] = set()
    in_group = False
    for raw in txt.splitlines():
        key, _, val = raw.split("#", 1)[0].partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_group:
                agents, in_group = set(), False
            agents.add(val.lower())
            named |= agents & merged.keys()
        elif key in ("allow", "disallow", "crawl-delay"):
            in_group = True
            for rules, delays in (merged[a] for a in agents & merged.keys()):
                if key != "crawl-delay":
                    if val:
                        rules.append((val, key == "allow"))
                else:
                    try:
                        delays.append(float(val))
                    except ValueError:
                        pass
    rules, delays = merged[want if want in named else "*"]
    return rules, (delays[0] if delays else None)


def parse_robots_txt(txt: str, user_agent: str = "*") -> list[tuple[str, bool]]:
    """(pattern, allow) rules applying to ``user_agent``, in file order."""
    return _group(txt, user_agent)[0]


def parse_crawl_delay(txt: str, user_agent: str = "*") -> float | None:
    """``Crawl-delay:`` seconds applying to ``user_agent``; None when absent
    or unparseable."""
    return _group(txt, user_agent)[1]


def robots_regex(pattern: str) -> str:
    """REP path pattern -> anchored regex: ``*`` = any char sequence, a
    TRAILING ``$`` = end-of-path anchor, everything else literal. The same
    translation feeds the Spark rules table, the Python twin and the DuckDB
    oracle VALUES so the twins cannot drift."""
    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    return (
        "^" + ".*".join(re.escape(part) for part in body.split("*"))
        + ("$" if anchored_end else "")
    )


def robots_table(
    spark: SparkSession, robots_txts: dict[str, str], user_agent: str = "*"
) -> DataFrame:
    """Rules dim ``(host, rules array<struct<plen, allow, rx>>)`` from raw
    robots.txt bodies, one row per lowercased host with rules: plen is the
    RFC 9309 specificity key (pattern length), rx the anchored regex. A
    local relation, so its broadcast is a ``LocalTableScan`` and runs no
    Spark job."""
    by_host: dict[str, list[tuple[int, bool, str]]] = {}
    for host, txt in robots_txts.items():
        for pat, allow in parse_robots_txt(txt, user_agent):
            by_host.setdefault(host.lower(), []).append(
                (len(pat), allow, robots_regex(pat))
            )
    return local_table(
        spark, list(by_host.items()),
        "host string, rules array<struct<plen int, allow boolean, rx string>>",
    )


def _path_or_root(url: F.Column) -> F.Column:
    """URL path, with BOTH null and '' normalized to '/'. ``F.parse_url``
    yields the empty string (not NULL) for a pathless ``http://host``, so a
    bare coalesce never fires and 'Disallow: /' would miss such URLs —
    ``nullif`` folds '' into the NULL branch, matching the pure-Python twin
    (``u.path or '/'``) and the DuckDB oracle."""
    return F.coalesce(
        F.nullif(F.parse_url(url, F.lit("PATH")), F.lit("")), F.lit("/")
    )


def robots_gate(
    frontier: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Keep frontier rows whose most specific matching rule is an Allow (or
    that match no rule).

    One map-side pass: a broadcast left anti join drops each url whose
    host's rules array gives a Disallow verdict, a per-row expression —
    ``array_max`` over the rules whose ``rx`` matches the path picks the
    longest match with Allow winning ties (struct order is lexicographic,
    ``plen`` first, and true > false); no match is NULL, which allows.
    All JVM-side: no aggregation, no shuffle, one read of the frontier,
    and sized at most the frontier (a left join's product-of-sides
    estimate flipped the build side of the pages join downstream).
    """
    dim = rules.select(F.col("host").alias("_rh"), F.col("rules").alias("_rules"))
    # the path is a column below the join, so it is parsed once per url,
    # not once per rule inside the lambda
    best = F.array_max(
        F.filter("_rules", lambda x: F.regexp_like(F.col("_path"), x["rx"]))
    )
    allowed = F.coalesce(best["allow"], F.lit(True))
    disallowed = (host_of(F.col(url_col)) == F.col("_rh")) & ~allowed
    return (
        frontier.withColumn("_path", _path_or_root(F.col(url_col)))
        .join(F.broadcast(dim), disallowed, "left_anti")
        .drop("_path")
    )


def robots_allowed_py(
    url: str, rules: dict[str, list[tuple[str, bool]]]
) -> bool:
    """Pure-Python twin of ``robots_gate``; ``rules`` is keyed by lowercase
    host."""
    from .. import urlkit

    u = urlkit.parse_url(url)
    path = u.path or "/"
    best: tuple[int, bool] | None = None
    for pat, allow in rules.get(u.hostname().lower(), []):
        if re.match(robots_regex(pat), path):
            key = (len(pat), allow)
            if best is None or key > best:
                best = key
    return best is None or best[1]


def crawl_delay_budgets(
    spark: SparkSession,
    robots_txts: dict[str, str],
    default_budget: int,
    round_seconds: float,
    user_agent: str = "*",
) -> DataFrame | None:
    """Map Crawl-delay to this engine's batch politeness: a host asking for
    D seconds between fetches gets at most ``round_seconds // D`` fetches
    per round (never more than the default budget). The result is the tiny
    local ``(host, budget)`` dim ``rank_fetch_slots(host_budgets=...)``
    consumes, host lowercased; hosts without a delay are omitted and keep
    the default, and None means no host has one. A delay longer than the
    round yields budget 0: that host is never scheduled, and its urls stay
    deferred in the frontier until the crawl ends."""
    rows = []
    for host, txt in robots_txts.items():
        d = parse_crawl_delay(txt, user_agent)
        if d is not None and d > 0:
            rows.append((host.lower(), min(default_budget, int(round_seconds // d))))
    return local_table(spark, rows, "host string, budget int") if rows else None
