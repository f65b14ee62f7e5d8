"""Pagers: the seed URL sequences of the reference's ``-pager`` options.

The reference's pagers (``libcrawl/pagers.go``) are lazy one-URL-at-a-time
stateful generators, but the whole emitted sequence is a pure function of
(blueprint URL, flags). Each pager here is therefore a validated spec with a
``page_url(page)`` rule, and ``pager_sequence`` lists what the Go pager
emits, in order, as ``(ord, page_num, url)`` tuples:

    ord       0-based emission index (exact reference order)
    page_num  the value PageNum() reports while crawling this row
    url       the URL, byte-identical to the Go pager's output

The sequence is built on the driver: the CLI turns it into
``CrawlConfig.seeds``, which the crawl and its oracle both start from.

Validation errors raised here mirror the reference's ``SetOptions`` /
``SetUrl`` messages (``pagers.go:54-101, 137-209, 254-281``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import urlkit


# ---------------------------------------------------------------------------
# Specs (validated config; reference SetOptions/SetUrl parity)
# ---------------------------------------------------------------------------


@dataclass
class QueryPagerSpec:
    """Reference ``QueryPager`` (``libcrawl/pagers.go:21-101``)."""

    url: str
    start: int
    end: int
    name: str = "page"

    base: str = field(init=False)
    query: dict = field(init=False)

    def __post_init__(self) -> None:
        if self.start < 1:
            raise ValueError("Start page not set")
        if self.end < self.start:
            raise ValueError("End page not set")
        if not self.name:
            raise ValueError("Page identifier not set")
        # SetUrl: split at FIRST '?' only (pagers.go:79-90)
        base, _, qs = self.url.partition("?")
        urlkit.url_for_pager(base)  # validates absolute http(s)
        self.base = base
        self.query = urlkit.parse_query(qs)

    def page_url(self, page: int) -> str:
        q = {k: list(v) for k, v in self.query.items()}
        q[self.name] = [str(page)]
        return f"{self.base}?{urlkit.query_encode(q)}"


@dataclass
class CutterPagerSpec:
    """Reference ``URLCuttingPager`` (``libcrawl/pagers.go:104-209``).

    Cuts chars ``[cut0, cut0+cut1)`` (1-indexed; negative cut0 counts from
    the end, ``pagers.go:196-199``) out of the blueprint and substitutes
    ``page*step`` formatted ``%0{digits}d``. An optional ``startpage`` is
    emitted first without consuming a page number (``pagers.go:115-120``).
    """

    url: str
    start: int
    end: int
    cut: tuple[int, int]
    step: int = 1
    digits: int = 0
    startpage: str = ""
    adjust: int = 0

    left: str = field(init=False)
    right: str = field(init=False)

    def __post_init__(self) -> None:
        if self.start < 0:
            raise ValueError("start not set or set to an illegal value")
        if self.start > self.end:
            raise ValueError("end must not be smaller than start")
        if self.step < 1:
            raise ValueError("step set to an illegal value")
        if len(self.cut) != 2:
            raise ValueError("cut needs 2 integers")
        if self.cut[0] == 0:
            raise ValueError("cut: first argument cannot be 0")
        if self.cut[1] < 0:
            raise ValueError("cut: cannot cut out a negative amount of characters")
        if 0 < self.digits < len(str(self.end)):
            raise ValueError("digits: not enough space to hold the desired page numbers")
        urlkit.url_for_pager(self.url)
        addr = self.url
        cutindex = self.cut[0]
        if cutindex < 0:
            cutindex = len(addr) + cutindex + 1
        if len(addr) <= cutindex - 1 or cutindex < 1:
            raise ValueError("cutoff index out of range")
        self.left = addr[: cutindex - 1]
        self.right = (
            addr[cutindex - 1 + self.cut[1] :]
            if len(addr) > cutindex - 1 + self.cut[1]
            else ""
        )

    def page_url(self, page: int) -> str:
        n = page * self.step
        num = str(n).zfill(self.digits) if self.digits > 0 else str(n)
        return f"{self.left}{num}{self.right}"


@dataclass
class VB4PagerSpec:
    """Reference ``VB4Pager`` (``libcrawl/pagers.go:211-281``):
    page 1 -> bare thread URL; page N>1 -> thread + "/pageN" (no duplicate
    '/' when the thread URL already ends with one, ``pagers.go:237-241``)."""

    url: str
    start: int
    end: int

    def __post_init__(self) -> None:
        if self.start < 1:
            raise ValueError("Start page not set")
        if self.end < self.start:
            raise ValueError("End page not set")
        urlkit.url_for_pager(self.url)

    def page_url(self, page: int) -> str:
        if page == 1:
            return self.url
        sep = "" if self.url.endswith("/") else "/"
        return f"{self.url}{sep}page{page}"


PagerSpec = QueryPagerSpec | CutterPagerSpec | VB4PagerSpec


def pager_sequence(spec: PagerSpec) -> list[tuple[int, int, str]]:
    """The exact (ord, page_num, url) sequence the Go pager emits."""
    out: list[tuple[int, int, str]] = []
    ord_ = 0
    if isinstance(spec, CutterPagerSpec) and spec.startpage:
        out.append((0, spec.start - 1 + spec.adjust, spec.startpage))
        ord_ = 1
    for p in range(spec.start, spec.end + 1):
        adjust = spec.adjust if isinstance(spec, CutterPagerSpec) else 0
        out.append((ord_, p + adjust, spec.page_url(p)))
        ord_ += 1
    return out
