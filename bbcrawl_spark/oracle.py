"""Sequential pure-Python crawl oracle.

Mirrors the reference's strictly-sequential crawl loop
(``/root/reference/libcrawl/api.go:101-114``: pager order in, one page at a
time) generalized to the graft's round semantics, using the *same* pure
functions as the Spark engine (urlkit, extract, priority twin, robots twin).
The Spark round job (plans/round.py) must reproduce this oracle's crawl
order, seen set, and extracted text **exactly** — that equivalence is the
north_star correctness gate, asserted in tests/test_crawl_e2e.py.

Round contract (shared, normative — plans/round.py implements the same):

1. candidates = frontier rows of round r; round 0's frontier is the seeds,
   deduped by url_hash as in step 6
2. drop: url ∈ excludes (exact string, P1), robots-disallowed (P7),
   url_hash ∈ seen (P2/J1). Steps 1 and 6 keep every frontier unique by
   url_hash and disjoint from seen: the engine runs no seen gate, and this
   check is the reference that catches a break of that invariant
3. per host, order by (priority, page_num, url_hash); first `budget` rows
   are *scheduled*, the rest are *deferred* to round r+1 unchanged (W1)
4. seen ∪= scheduled url_hashes (an attempted fetch is "seen")
5. fetched = scheduled ∩ pages (exact url); for each fetched page extract
   links (doc order), resolve (F3), canonicalize+hash (F13), score (W3);
   page_num of a discovered link = trailing '/pageN' number else 0
6. new frontier = deferred ∪ extracted links not in seen, deduped by
   url_hash keeping min (priority, page_num, discovered_in, seed_id, url)
7. global crawl order within round r = scheduled sorted by
   (priority, page_num, url_hash) (W2); rounds concatenate
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import extract, urlkit
from .htmlkit import decode_html
from .operators.priority import priority_score_py
from .operators.robots import robots_allowed_py

_PAGE_SUFFIX_RE = re.compile(r"/page([0-9]+)$")


def link_page_num(url: str) -> int:
    m = _PAGE_SUFFIX_RE.search(urlkit.parse_url(url).path)
    return int(m.group(1)) if m else 0


@dataclass
class FrontierEntry:
    url: str
    url_hash: int
    host: str
    priority: int
    page_num: int
    seed_id: int
    discovered_in: int

    def order_key(self):
        return (self.priority, self.page_num, self.url_hash)

    def dedup_key(self):
        # url completes the total order (twin of the round-loop dedup window)
        return (self.priority, self.page_num, self.discovered_in, self.seed_id, self.url)


@dataclass
class OracleResult:
    crawl_order: list[tuple[int, str]] = field(default_factory=list)  # (round, url)
    seen: set[int] = field(default_factory=set)
    texts: dict[str, str] = field(default_factory=dict)  # url -> extracted text
    rounds: int = 0
    metrics: list[dict] = field(default_factory=list)


def entry_for(
    url: str, seed_id: int, priority: int, discovered_in: int,
    page_num: int | None = None,
) -> FrontierEntry:
    """page_num: pager-emitted PageNum for seeds (None/-1 -> derive from
    the '/pageN' suffix like a discovered link)."""
    canon = urlkit.canonicalize(url)
    return FrontierEntry(
        url=url,
        url_hash=urlkit.xxhash64(canon),
        host=urlkit.parse_url(url).hostname().lower(),
        priority=priority,
        page_num=link_page_num(url) if page_num is None or page_num < 0 else page_num,
        seed_id=seed_id,
        discovered_in=discovered_in,
    )


def _dedup(entries) -> list[FrontierEntry]:
    """Steps 1 and 6: one entry per url_hash, the min ``dedup_key``."""
    best: dict[int, FrontierEntry] = {}
    for e in sorted(entries, key=FrontierEntry.dedup_key):
        best.setdefault(e.url_hash, e)
    return list(best.values())


def crawl_oracle(
    pages: dict[str, bytes],
    seeds: list[tuple],  # (url, seed_id, priority[, page_num])
    budget: int,
    robots: dict[str, list[tuple[str, bool]]] | None = None,  # parse_robots_txt
    host_budgets: dict[str, int] | None = None,
    excludes: set[str] | None = None,
    max_rounds: int = 100,
    follow_links: bool = True,
    content_types: dict[str, str] | None = None,  # url -> Content-Type header
    redirects: dict[str, int] | None = None,  # url -> redirect count of its GET
    allow_redirect: bool = True,  # True=Log policy (cap 10), False=Deny
) -> OracleResult:
    # hosts compare case-insensitively, as in the engine's tables
    robots = {h.lower(): rs for h, rs in (robots or {}).items()}
    host_budgets = {h.lower(): b for h, b in (host_budgets or {}).items()}
    excludes = excludes or set()
    content_types = content_types or {}
    redirects = redirects or {}
    redirect_cap = 10 if allow_redirect else 0
    res = OracleResult()
    frontier = _dedup(
        entry_for(t[0], t[1], t[2], -1, t[3] if len(t) > 3 else None) for t in seeds
    )

    for r in range(max_rounds):
        if not frontier:
            break
        res.rounds = r + 1
        # 2. gates
        candidates = [
            e
            for e in frontier
            if e.url not in excludes
            and robots_allowed_py(e.url, robots)
            and e.url_hash not in res.seen
        ]
        # 3. per-host budget
        by_host: dict[str, list[FrontierEntry]] = {}
        for e in candidates:
            by_host.setdefault(e.host, []).append(e)
        scheduled: list[FrontierEntry] = []
        deferred: list[FrontierEntry] = []
        for host in by_host:
            ordered = sorted(by_host[host], key=FrontierEntry.order_key)
            b = host_budgets.get(host, budget)
            scheduled.extend(ordered[:b])
            deferred.extend(ordered[b:])
        # 7. global order
        scheduled.sort(key=FrontierEntry.order_key)
        res.crawl_order.extend((r, e.url) for e in scheduled)
        # 4. seen
        res.seen.update(e.url_hash for e in scheduled)
        # 5. fetch + extract
        new_entries: list[FrontierEntry] = []
        n_fetched = 0
        for e in scheduled:
            body = pages.get(e.url)
            if body is None:
                continue
            if redirects.get(e.url, 0) > redirect_cap:
                # P6: the GET errored via the redirect policy — page not
                # fetched, url stays seen (the attempt happened)
                continue
            n_fetched += 1
            html = decode_html(
                body, content_types.get(e.url, "text/html; charset=utf-8")
            )
            res.texts[e.url] = extract.extract_text(html)
            if not follow_links:
                continue
            for link in extract.extract_links(html, e.url):
                ne = entry_for(
                    link.abs_url, e.seed_id, priority_score_py(e.url, link.abs_url), r
                )
                if ne.url_hash not in res.seen:
                    new_entries.append(ne)
        # 6. dedup deferred ∪ new by url_hash, min dedup_key
        frontier = _dedup(deferred + new_entries)
        res.metrics.append(
            {
                "round": r,
                "n_candidates": len(candidates),
                "n_scheduled": len(scheduled),
                "n_deferred": len(deferred),
                "n_fetched": n_fetched,
                "n_new_links": len(new_entries),
                "n_frontier_next": len(frontier),
            }
        )
        if not frontier:
            break
    return res
