"""Pure-Python URL toolkit with Go ``net/url`` parity.

The reference engine (jwdev42/bbcrawl) does all URL work through Go's
``net/url`` package.  Its semantics differ from Python's ``urllib`` in ways
that are part of the byte-identical contract this engine must honor:

* ``rel2absURL`` (reference ``libcrawl/util_url.go:30-49``) is **not**
  RFC-3986 resolution: the result is ``scheme://hostname`` + the relative
  URL's ``RequestURI()`` — path-relative links are rooted at the host root,
  not at the page directory, and the port is dropped (``Hostname()``).
* ``fileNameFromURL`` (``libcrawl/util_url.go:13-19``) via
  ``smallestSubstrRight`` (``libcrawl/util_string.go:10-16``).
* ``url.Values.Encode`` (used by the query pager,
  ``libcrawl/pagers.go:40-45``): keys sorted, values percent-encoded with
  Go's ``QueryEscape`` (space -> ``+``, uppercase hex).

Everything here is dependency-free pure Python so the same functions run
inside Arrow-batched pandas UDFs on executors *and* in the sequential
pure-Python oracle used for crawl-order equivalence tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

__all__ = [
    "GoURL",
    "parse_url",
    "path_unescape",
    "url_for_pager",
    "smallest_substr_right",
    "file_name_from_url",
    "rel2abs",
    "parse_query",
    "query_encode",
    "query_escape",
    "canonicalize",
    "xxhash64",
    "url_hash",
]

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):(.*)$", re.DOTALL)

_HEX = "0123456789abcdefABCDEF"


def path_unescape(s: str) -> str:
    """Go ``unescape(s, encodePath)`` — the decode step ``url.Parse`` applies
    to the path before storing ``URL.Path``: every ``%XX`` becomes its byte
    (``+`` stays ``+`` in path mode), bytes re-read as UTF-8 with
    surrogateescape so arbitrary byte sequences round-trip like Go byte
    strings. Invalid escapes raise ``ValueError`` with Go's
    ``url.EscapeError`` text (Go fails the whole ``Parse`` on them)."""
    if "%" not in s:
        return s
    out = bytearray()
    raw = s.encode("utf-8", "surrogateescape")
    i, n = 0, len(raw)
    while i < n:
        b = raw[i]
        if b == 0x25:  # '%'
            if i + 2 >= n or chr(raw[i + 1]) not in _HEX or chr(raw[i + 2]) not in _HEX:
                bad = raw[i : i + 3].decode("utf-8", "surrogateescape")
                raise ValueError(f'invalid URL escape "{bad}"')
            out.append(int(raw[i + 1 : i + 3].decode(), 16))
            i += 3
        else:
            out.append(b)
            i += 1
    return out.decode("utf-8", "surrogateescape")


@dataclass
class GoURL:
    """Minimal analogue of Go's ``url.URL`` for http(s) + relative URLs.

    Raw components are preserved verbatim (no re-escaping); the reference
    fixtures never rely on Go's escape normalization, only on component
    splitting, which this reproduces exactly.
    """

    scheme: str = ""
    host: str = ""  # includes port if present
    path: str = ""
    raw_query: str = ""
    fragment: str = ""
    has_query: bool = field(default=False, repr=False)

    # -- Go url.URL method parity -------------------------------------
    def is_abs(self) -> bool:
        return self.scheme != ""

    def hostname(self) -> str:
        """Go ``URL.Hostname()``: host without port; strips [] from IPv6.

        Go's ``url.Parse`` stores userinfo separately from Host; our
        ``parse_url`` keeps ``user:pass@host`` in ``.host``, so userinfo is
        stripped here before the port logic (otherwise the ``rfind(':')``
        lands inside the userinfo and returns the user as the host).
        """
        h = self.host
        at = h.rfind("@")
        if at >= 0:
            h = h[at + 1 :]
        if h.startswith("["):
            end = h.find("]")
            return h[1:end] if end >= 0 else h[1:]
        colon = h.rfind(":")
        if colon >= 0 and h[colon + 1 :].isdigit():
            return h[:colon]
        if colon >= 0 and ":" not in h[:colon]:  # host:port with empty port
            return h[:colon]
        return h

    def path_decoded(self) -> str:
        """Go's ``URL.Path`` field: the percent-DECODED path. ``parse_url``
        keeps the raw string in ``.path`` (which matches Go's ``String()``
        rendering whenever the raw form is a valid encoding — Go preserves
        ``RawPath`` then); the decoded view is what path-content consumers
        like ``fileNameFromURL`` see in the reference. Invalid escapes fall
        back to the raw path — Go would have failed the whole ``url.Parse``
        upstream and dropped the link; keeping the raw string is this
        engine's documented deviation (pinned in tests/test_urlkit.py)."""
        try:
            return path_unescape(self.path)
        except ValueError:
            return self.path

    def request_uri(self) -> str:
        """Go ``URL.RequestURI()``: path (or "/") plus ?query if present."""
        out = self.path
        if out == "":
            out = "/"
        if self.raw_query != "" or self.has_query:
            out = out + "?" + self.raw_query
        return out

    def __str__(self) -> str:
        out = []
        if self.scheme:
            out.append(self.scheme + ":")
        if self.host or self.scheme:
            out.append("//" + self.host)
        out.append(self.path)
        if self.raw_query != "" or self.has_query:
            out.append("?" + self.raw_query)
        if self.fragment:
            out.append("#" + self.fragment)
        return "".join(out)


def parse_url(raw: str) -> GoURL:
    """Parse an http(s) or relative URL into components (Go-style split)."""
    u = GoURL()
    rest = raw
    frag = rest.find("#")
    if frag >= 0:
        u.fragment = rest[frag + 1 :]
        rest = rest[:frag]
    m = _SCHEME_RE.match(rest)
    if m and (m.group(2).startswith("//") or not m.group(1).startswith(".")):
        u.scheme = m.group(1).lower()
        rest = m.group(2)
    q = rest.find("?")
    if q >= 0:
        u.raw_query = rest[q + 1 :]
        u.has_query = True
        rest = rest[:q]
    if rest.startswith("//"):
        rest = rest[2:]
        slash = rest.find("/")
        if slash >= 0:
            u.host, u.path = rest[:slash], rest[slash:]
        else:
            u.host, u.path = rest, ""
    else:
        u.path = rest
    return u


def url_for_pager(addr: str) -> GoURL:
    """Reference ``url_for_pager`` (``libcrawl/util_url.go:52-64``):
    must be absolute and scheme in {http, https}."""
    u = parse_url(addr)
    if not u.is_abs():
        raise ValueError(f'"{addr}" is not an absolute URL')
    if u.scheme not in ("http", "https"):
        raise ValueError(f'"{addr}" is an unsupported url scheme')
    return u


def smallest_substr_right(s: str, delimiter: str) -> str:
    """Reference ``smallestSubstrRight`` (``libcrawl/util_string.go:10-16``).

    Suffix after the *last* occurrence of ``delimiter``; note the Go quirk:
    with no match (li == -1) the whole string is returned, and "" when the
    delimiter is the final character.
    """
    li = s.rfind(delimiter)
    if li + 1 < len(s):
        return s[li + 1 :]
    return ""


def file_name_from_url(u: GoURL | str) -> str:
    """Reference ``fileNameFromURL`` (``libcrawl/util_url.go:13-19``).

    Operates on the percent-DECODED path like Go's ``url.Path`` (so
    ``a%2Fb.jpg`` yields ``b.jpg`` — the ``%2F`` becomes a path separator
    before the last-``/`` split, and ``img%20x.jpg`` names the file with a
    real space), not the raw rendering."""
    if isinstance(u, str):
        u = parse_url(u)
    name = smallest_substr_right(u.path_decoded(), "/")
    if "/" in name:  # os.PathSeparator check; unreachable post-split on unix
        return ""
    return name


def rel2abs(page_url: GoURL | str, link: GoURL | str) -> str:
    """Reference ``rel2absURL`` (``libcrawl/util_url.go:30-49``).

    NOT urljoin: result = ``scheme://hostname`` + link.RequestURI(), so
    ``a/b.jpg`` on ``http://h:8080/t/p1`` resolves to ``http://h/a/b.jpg``
    (rooted at host, port dropped, query kept, fragment dropped).
    Absolute links pass through unchanged (caller-side check in the
    reference, ``libcrawl/crawlers.go:279-285``).
    """
    if isinstance(page_url, str):
        page_url = parse_url(page_url)
    if isinstance(link, str):
        link = parse_url(link)
    if link.is_abs():
        return str(link)
    if not page_url.is_abs():
        raise ValueError("domain parameter is relative")
    requrl = link.request_uri()
    sep = "" if requrl.startswith("/") else "/"
    return f"{page_url.scheme}://{page_url.hostname()}{sep}{requrl}"


# ---------------------------------------------------------------------------
# Go url.Values parity (query pager contract, libcrawl/pagers.go:40-45,79-101)
# ---------------------------------------------------------------------------

def parse_query(qs: str) -> dict[str, list[str]]:
    """Go ``url.ParseQuery``: '&'-separated k=v pairs, order of values kept."""
    values: dict[str, list[str]] = {}
    if qs == "":
        return values
    for part in qs.split("&"):
        if part == "":
            continue
        k, _, v = part.partition("=")
        k, v = _unescape_query(k), _unescape_query(v)
        values.setdefault(k, []).append(v)
    return values


_GO_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.~"
)


def query_escape(s: str) -> str:
    """Go ``url.QueryEscape``: space -> '+', everything outside unreserved
    set percent-encoded with uppercase hex."""
    out = []
    # surrogateescape: round-trips arbitrary bytes like Go's byte-strings do
    for b in s.encode("utf-8", "surrogateescape"):
        c = chr(b)
        if c in _GO_UNRESERVED:
            out.append(c)
        elif c == " ":
            out.append("+")
        else:
            out.append(f"%{b:02X}")
    return "".join(out)


def _unescape_query(s: str) -> str:
    s = s.replace("+", " ")
    parts = s.split("%")
    out = [parts[0].encode("utf-8", "surrogateescape")]
    for p in parts[1:]:
        if len(p) >= 2:
            try:
                out.append(bytes([int(p[:2], 16)]) + p[2:].encode("utf-8", "surrogateescape"))
                continue
            except ValueError:
                pass
        out.append(b"%" + p.encode("utf-8", "surrogateescape"))
    return b"".join(out).decode("utf-8", "surrogateescape")


def query_encode(values: dict[str, list[str]]) -> str:
    """Go ``url.Values.Encode()``: keys sorted, values QueryEscape'd."""
    parts = []
    for k in sorted(values):
        ek = query_escape(k)
        for v in values[k]:
            parts.append(f"{ek}={query_escape(v)}")
    return "&".join(parts)


# ---------------------------------------------------------------------------
# Canonicalization + xxhash64 (graft additions, BASELINE.json north_rule:
# "bloom/cuckoo URL-seen filter keyed on canonicalized+xxhash64 URLs")
# ---------------------------------------------------------------------------

def canonicalize(raw: str) -> str:
    """Deterministic canonical URL form used for all seen-set keys.

    scheme + host lowercased, default ports dropped, fragment dropped,
    empty path -> '/', query kept verbatim. The reference uses exact string
    equality everywhere (e.g. ``libcrawl/crawler_src.go:215-222``); this is
    the graft's explicit canonical contract.
    """
    u = parse_url(raw)
    host = u.host.lower()
    if (u.scheme == "http" and host.endswith(":80")) or (
        u.scheme == "https" and host.endswith(":443")
    ):
        host = host.rsplit(":", 1)[0]
    path = u.path if u.path else "/"
    out = f"{u.scheme}://{host}{path}"
    if u.raw_query:
        out += "?" + u.raw_query
    return out


# --- pure-Python XXH64, bit-identical to Spark's xxhash64 (seed 42) --------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64(data: bytes | str, seed: int = 42) -> int:
    """XXH64 of ``data``, returned as a *signed* int64.

    Spark's ``F.xxhash64(col)`` hashes a string column's UTF-8 bytes with
    seed 42; this reproduces it exactly so the pure-Python oracle and the
    Spark plan agree on every ``url_hash``. Parity is pinned by
    ``tests/test_urlkit.py``.
    """
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def url_hash(raw: str) -> int:
    """Seen-set key: xxhash64(canonicalize(url)) — F13 in SURVEY.md §2.9."""
    return xxhash64(canonicalize(raw))
