"""The reference's CLI grammar, flag types and attrs mini-language.

Mirrors ``/root/reference/cmdline/`` (partition.go, flags.go, attrs/attrs.go)
so a bbcrawl user can bring their exact command lines to this engine:

    bbcrawl <globals> -pager NAME <pagerflags> -crawler NAME <crawlerflags> URL

(positional grammar per docs/cli_spec.txt:10-14; URL is always the last
argument, partition.go:91-99). ``parse_command`` turns a full command line
into the engine's crawl configuration (pager spec + crawler spec).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from . import pagers, urlkit

__all__ = [
    "Product",
    "partition",
    "parse_bool",
    "parse_int_tuple",
    "parse_url_collection",
    "parse_fs_directory",
    "parse_loglevel",
    "LOGLEVELS",
    "parse_attrs",
    "parse_whitelist",
    "tokenize_attrs",
    "CrawlerSpec",
    "parse_command",
]


# ---------------------------------------------------------------------------
# partition (partition.go:45-101)
# ---------------------------------------------------------------------------


@dataclass
class Product:
    global_flags: list[str] = field(default_factory=list)
    pager: str = ""
    pager_flags: list[str] = field(default_factory=list)
    crawler: str = ""
    crawler_flags: list[str] = field(default_factory=list)
    url: str = ""

    def __str__(self) -> str:
        parts = list(self.global_flags)
        if self.pager:
            parts += ["-pager", self.pager, *self.pager_flags]
        if self.crawler:
            parts += ["-crawler", self.crawler, *self.crawler_flags]
        parts.append(self.url)
        return " ".join(parts)


def partition(cmdln: list[str]) -> Product:
    """Reference ``Partition``: positional split at -pager / -crawler; the
    URL is the final argument. Error messages match the reference."""
    if len(cmdln) < 2:
        raise ValueError("Empty command line")
    p = Product()
    args = cmdln[1:]

    try:
        i = args.index("-pager")
    except ValueError:
        i = -1
    if i < 0 or i + 1 >= len(args):
        raise ValueError("No pager found")
    p.global_flags = args[:i]
    p.pager = args[i + 1]
    if i + 2 >= len(args):
        raise ValueError(f'Unexpected EOS after "{p.pager}"')
    args = args[i + 2 :]

    try:
        i = args.index("-crawler")
    except ValueError:
        i = -1
    if i < 0 or i + 1 >= len(args):
        raise ValueError("No crawler found")
    p.pager_flags = args[:i]
    p.crawler = args[i + 1]
    if i + 2 >= len(args):
        raise ValueError(f'Unexpected EOS after "{p.crawler}"')
    args = args[i + 2 :]

    if len(args) == 1:
        p.url = args[0]
    else:
        p.crawler_flags = args[:-1]
        p.url = args[-1]
    return p


# ---------------------------------------------------------------------------
# flag types (flags.go)
# ---------------------------------------------------------------------------


def parse_bool(s: str) -> bool:
    """Boolean (flags.go:17-30): only 'true'/'false', case-insensitive."""
    low = s.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    raise ValueError(f"Invalid input for Boolean flag: {s!r}")


def parse_start_page(s: str) -> int:
    n = int(s)
    if n < 1:
        raise ValueError(f"{n} is an invalid start page.")
    return n


def parse_end_page(s: str, start: int) -> int:
    n = int(s)
    if n < 1:
        raise ValueError(f"{n} is an invalid start page.")
    if n < start:
        raise ValueError(f"End ({n}) is greater than start ({start}).")
    return n


def parse_url_collection(s: str) -> list[str]:
    """URLCollection (flags.go:92-107): comma-separated raw URLs (parse
    validated, kept verbatim — the exclude filter compares exact strings)."""
    return [str(urlkit.parse_url(raw)) for raw in s.split(",")]


def parse_int_tuple(s: str) -> list[int]:
    return [int(p.strip()) for p in s.split(",")]


def parse_fs_directory(s: str) -> str:
    p = os.path.abspath(s)
    if not os.path.isdir(p):
        raise ValueError(f'File "{p}" is not a directory!')
    return p


#: reference logger severities (jwdev42/logger LevelFlag; least-severe-printed
#: semantics, libcrawl/api.go:60-61,75) -> the nearest Spark log4j level
LOGLEVELS = {
    "debug": "DEBUG",
    "info": "INFO",
    "notice": "INFO",
    "warning": "WARN",
    "error": "ERROR",
    "panic": "FATAL",
}


def parse_loglevel(s: str) -> str:
    """-loglevel value -> a Spark log4j level name; invalid values error
    like the reference's flag parser would."""
    level = LOGLEVELS.get(s.strip().lower())
    if level is None:
        raise ValueError(
            f"Invalid loglevel {s!r}. Valid values are {', '.join(LOGLEVELS)}"
        )
    return level


def parse_whitelist(s: str, delim: str, whitelist: list[str]) -> list[str]:
    elems = s.split(delim)
    for name in elems:
        if name not in whitelist:
            raise ValueError(
                f'String "{name}" not in whitelist. Valid values are {", ".join(whitelist)}'
            )
    return elems


# ---------------------------------------------------------------------------
# attrs mini-language (attrs/attrs.go; grammar docs/attr_spec.txt)
# ---------------------------------------------------------------------------

_SPLIT = "/"
_ESCAPE = "\\"


def tokenize_attrs(s: str) -> list[str]:
    """Tokenizer + parser (attrs.go:118-192, 35-116): '/'-separated
    segments, '\\' escapes the next rune; consecutive splitters produce
    empty segments ("///s///" -> 7 elements, attrs_test.go:40)."""
    # tokenize: list of (type, text); types: 'text' | 'split' | 'escape'
    toks: list[tuple[str, str]] = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == _SPLIT:
            toks.append(("split", c))
            i += 1
        elif c == _ESCAPE:
            if i + 1 >= n:
                raise ValueError(f"Index {i + 1}: Unexpected EOF after escape character")
            toks.append(("escape", s[i + 1]))
            i += 2
        else:
            j = i
            while j < n and s[j] not in (_SPLIT, _ESCAPE):
                j += 1
            toks.append(("text", s[i:j]))
            i = j
    # parse
    out: list[str] = []
    pos = 0
    while pos < len(toks):
        t, v = toks[pos]
        if t in ("text", "escape"):
            buf = []
            while pos < len(toks) and toks[pos][0] in ("text", "escape"):
                buf.append(toks[pos][1])
                pos += 1
            out.append("".join(buf))
        else:  # split
            if pos == 0 or toks[pos - 1][0] == "split":
                out.append("")
            if pos + 1 >= len(toks):
                out.append("")
            pos += 1
    return out


def parse_attrs(s: str) -> dict[str, list[str]]:
    """Attrs.Set (flags.go:238-259): each '/'-segment is key=v1,v2,...;
    exactly one '=' split; duplicate keys are errors."""
    out: dict[str, list[str]] = {}
    for pair in tokenize_attrs(s):
        kv = pair.split("=", 1)
        if len(kv) != 2:
            raise ValueError(f"Substring {pair!r}: Less or more than one equal sign")
        key, vals = kv[0], kv[1].split(",")
        if key in out:
            raise ValueError(f"Key {key!r} used twice")
        out[key] = vals
    return out


# ---------------------------------------------------------------------------
# full command-line -> engine config (bbcrawl.go:24-52 wiring)
# ---------------------------------------------------------------------------


@dataclass
class CrawlerSpec:
    """Crawler kind + the common and per-crawler flags
    (crawlers.go:151-165, 228-245; crawler_src.go:88-111)."""

    kind: str  # 'vb-attachments' | 'src' | 'file'
    excludes: tuple[str, ...] = ()
    allow_redirect: bool = True
    debug: bool = False
    headernames: bool = False  # vb-attachments -names-from-header
    tags: tuple[str, ...] = ()  # src -tags
    attrs: tuple[tuple[str, str], ...] = ()  # src -attrs (flattened pairs)


def _parse_flagset(flags: list[str], spec: dict[str, bool]) -> dict[str, str]:
    """Minimal Go flag.FlagSet: -name value pairs; spec maps name->needs_value."""
    out: dict[str, str] = {}
    i = 0
    while i < len(flags):
        f = flags[i]
        if not f.startswith("-"):
            raise ValueError(f"unexpected argument: {f!r}")
        name = f.lstrip("-")
        if name not in spec:
            raise ValueError(f"flag provided but not defined: -{name}")
        if i + 1 >= len(flags):
            raise ValueError(f"flag needs an argument: -{name}")
        out[name] = flags[i + 1]
        i += 2
    return out


def parse_command(cmdln: list[str]):
    """Full reference command line -> (PagerSpec, CrawlerSpec, globals).

    The pager spec plugs into ``pagers.pager_sequence``; the crawler spec
    selects/configures the extraction UDF family (vb/src/file).
    """
    p = partition(cmdln)

    g = _parse_flagset(p.global_flags, {"o": True, "cookie-file": True, "loglevel": True})
    # -o is FSDirectory-validated like the reference (libcrawl/api.go:57-58:
    # the output dir must already exist); it becomes the engine's
    # warehouse/downloads root (api.go:66-67 sets CrawlContext.output, which
    # every crawler writes under)
    output = parse_fs_directory(g["o"]) if g.get("o") else ""
    glob = {"output": output, "cookie_file": g.get("cookie-file", ""),
            "loglevel": parse_loglevel(g["loglevel"]) if g.get("loglevel") else ""}
    if glob["cookie_file"]:
        # J4: the reference keys a live cookie jar per public-suffix domain
        # (libcrawl/api.go:58-74); this engine crawls PRE-FETCHED pages, so
        # there is no HTTP session for cookies to act on. Warn loudly rather
        # than silently accept a flag that changes nothing.
        import warnings

        warnings.warn(
            "-cookie-file is not applicable in batch mode (pages are "
            "pre-fetched; no live HTTP session) — flag ignored",
            UserWarning,
            stacklevel=2,
        )

    # pager (registry dispatch, api.go:21-25; option parsing pagers.go)
    if p.pager == "query":
        f = _parse_flagset(p.pager_flags, {"start": True, "end": True, "name": True})
        start = parse_start_page(f.get("start", "0")) if f.get("start") else 0
        if start < 1:
            raise ValueError("Start page not set")
        pager_spec = pagers.QueryPagerSpec(
            url=p.url, start=start,
            end=parse_end_page(f.get("end", "0"), start) if f.get("end") else 0,
            name=f.get("name", "page"),
        )
    elif p.pager == "cutter":
        f = _parse_flagset(
            p.pager_flags,
            {"start": True, "end": True, "step": True, "digits": True,
             "cut": True, "startpage": True, "adjust": True},
        )
        cut = parse_int_tuple(f.get("cut", ""))
        pager_spec = pagers.CutterPagerSpec(
            url=p.url,
            start=int(f.get("start", "-1")),
            end=int(f.get("end", "-1")),
            step=int(f.get("step", "1")),
            digits=int(f.get("digits", "0")),
            cut=tuple(cut),
            startpage=f.get("startpage", ""),
            adjust=int(f.get("adjust", "0")),
        )
    elif p.pager == "vb4":
        f = _parse_flagset(p.pager_flags, {"start": True, "end": True})
        start = parse_start_page(f.get("start", "0")) if f.get("start") else 0
        if start < 1:
            raise ValueError("Start page not set")
        pager_spec = pagers.VB4PagerSpec(
            url=p.url, start=start,
            end=parse_end_page(f.get("end", "0"), start) if f.get("end") else 0,
        )
    else:
        raise ValueError(f"Pager not found: {p.pager!r}")

    # crawler
    common = {"exclude": True, "redirect": True, "debug": True}
    if p.crawler == "vb-attachments":
        f = _parse_flagset(p.crawler_flags, {**common, "names-from-header": True})
    elif p.crawler == "src":
        f = _parse_flagset(p.crawler_flags, {**common, "attrs": True, "tags": True})
    elif p.crawler == "file":
        f = _parse_flagset(p.crawler_flags, common)
    else:
        raise ValueError(f"Crawler not found: {p.crawler!r}")

    attrs_pairs: tuple[tuple[str, str], ...] = ()
    if f.get("attrs"):
        parsed = parse_attrs(f["attrs"])
        attrs_pairs = tuple((k, v) for k, vals in parsed.items() for v in vals)
    tags: tuple[str, ...] = ()
    if p.crawler == "src":
        if not f.get("tags"):
            raise ValueError('No html tag specified with "-tags"')
        tags = tuple(parse_whitelist(f["tags"], ",", ["audio", "img", "video"]))

    crawler_spec = CrawlerSpec(
        kind=p.crawler,
        excludes=tuple(parse_url_collection(f["exclude"])) if f.get("exclude") else (),
        allow_redirect=parse_bool(f["redirect"]) if f.get("redirect") else True,
        debug=parse_bool(f["debug"]) if f.get("debug") else False,
        headernames=parse_bool(f["names-from-header"]) if f.get("names-from-header") else False,
        tags=tags,
        attrs=attrs_pairs,
    )
    return pager_spec, crawler_spec, glob
