"""Minimal HTML DOM with reference-parity traversal (pure Python, stdlib).

The reference walks ``golang.org/x/net/html`` DOM trees with a recursive
pre/post-order DFS (``/root/reference/libhtml/libhtml.go:13-26``).  No HTML
library is available in this container, so this module builds a lightweight
DOM on ``html.parser.HTMLParser`` and reimplements the reference's traversal
helpers 1:1:

    walk_tree                libhtml.go:13-26   (early-abort pre/post DFS)
    element_by_id            libhtml.go:55-68   (first match in doc order)
    elements_by_attr_match   libhtml.go:70-74   (attr regex, doc order)
    elements_by_tag          libhtml.go:76-89
    attr_val                 libhtml.go:46-53   (first attr wins)
    match_attrs              libhtml.go:124-142 (ALL (k,v) pairs present)

This runs *inside Arrow-batched pandas UDFs* on executors — one Python call
per ~batch of HTML blobs — and inside the sequential crawl oracle, so both
sides share identical document-order semantics.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

__all__ = [
    "Node",
    "parse_html",
    "walk_tree",
    "element_by_id",
    "elements_by_attr_match",
    "elements_by_tag",
    "attr_val",
    "match_attrs",
    "decode_html",
]

# WHATWG void elements (never take children)
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

ELEMENT = 1
TEXT = 3


class Node:
    __slots__ = ("type", "tag", "attrs", "children", "parent", "data", "index")

    def __init__(self, type_: int, tag: str = "", data: str = ""):
        self.type = type_
        self.tag = tag
        self.attrs: list[tuple[str, str]] = []
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.data = data
        self.index = -1  # document-order element index, assigned post-parse

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def __repr__(self) -> str:  # pragma: no cover
        if self.type == TEXT:
            return f"Text({self.data!r})"
        return f"<{self.tag} {self.attrs}>({len(self.children)} children)"


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node(ELEMENT, tag="#document")
        self.stack = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        node = Node(ELEMENT, tag=tag)
        node.attrs = [(k, v if v is not None else "") for k, v in attrs]
        self.stack[-1].append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = Node(ELEMENT, tag=tag)
        node.attrs = [(k, v if v is not None else "") for k, v in attrs]
        self.stack[-1].append(node)

    def handle_endtag(self, tag: str) -> None:
        # close up to the nearest matching open tag; ignore strays
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].append(Node(TEXT, data=data))


def parse_html(text: str) -> Node:
    """Parse HTML into a DOM rooted at a synthetic ``#document`` node and
    assign document-order element indices (DFS pre-order, elements only) —
    the order ``walkTree`` visits nodes in the reference.

    The builder is the stdlib ``html.parser`` (pure Python); parsing
    dominates extraction CPU.
    """
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    root = builder.root
    i = 0

    def number(n: Node) -> bool:
        nonlocal i
        if n.type == ELEMENT and n.tag != "#document":
            n.index = i
            i += 1
        return True

    walk_tree(root, number, None)
    return root


def walk_tree(n: Node, pre, post) -> bool:
    """Reference ``walkTree`` (libhtml.go:13-26): pre/post hooks, DFS,
    returning False aborts the entire walk."""
    if pre is not None and not pre(n):
        return False
    for c in n.children:
        if not walk_tree(c, pre, post):
            return False
    if post is not None and not post(n):
        return False
    return True


def attr_val(node: Node, attribute: str) -> str:
    """First value of ``attribute`` on ``node``; "" if absent (libhtml.go:46-53)."""
    for k, v in node.attrs:
        if k == attribute:
            return v
    return ""


def element_by_id(n: Node, id_: str) -> Node | None:
    """First node in document order with id == id_ (libhtml.go:55-68);
    aborts the walk at the first match like the reference."""
    found: list[Node] = []

    def by_id(node: Node) -> bool:
        for k, v in node.attrs:
            if k == "id" and v == id_:
                found.append(node)
                return False
        return True

    walk_tree(n, by_id, None)
    return found[0] if found else None


def elements_by_attr_match(n: Node, key: str, val: re.Pattern) -> list[Node]:
    """All nodes whose attr ``key`` regex-matches ``val``, document order
    (libhtml.go:70-74 + 32-42). Go MatchString = Python ``search``."""
    out: list[Node] = []

    def match(node: Node) -> bool:
        for k, v in node.attrs:
            if k == key and val.search(v):
                out.append(node)
                return True
        return True

    walk_tree(n, match, None)
    return out


def elements_by_tag(n: Node, *tags: str) -> list[Node]:
    """All nodes with tag in ``tags``, document order (libhtml.go:76-89)."""
    tagset = set(tags)
    out: list[Node] = []

    def match(node: Node) -> bool:
        if node.type == ELEMENT and node.tag in tagset:
            out.append(node)
        return True

    walk_tree(n, match, None)
    return out


def match_attrs(node: Node, attrs: list[tuple[str, str]]) -> bool:
    """Reference ``MatchAttrs`` (libhtml.go:124-142): node kept iff it has
    ALL required (key, val) attribute pairs; empty requirement -> True."""
    need = {pair: False for pair in attrs}
    for pair in node.attrs:
        if pair in need:
            need[pair] = True
    return all(need.values())


# ---------------------------------------------------------------------------
# Charset -> UTF-8 decoding (reference libhttp/encoding.go:10-16, which uses
# Go's charset.NewReader = WHATWG sniffing: BOM > Content-Type > <meta>)
# ---------------------------------------------------------------------------

_META_CHARSET_RE = re.compile(rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_\-]+)""", re.I)


def decode_html(body: bytes, content_type: str | None = None) -> str:
    """Decode an HTML byte blob to text, F10 in SURVEY.md §2.9.

    Sniffing order mirrors Go's ``charset.NewReader``: BOM, then the
    Content-Type charset parameter, then a <meta charset> scan of the first
    1024 bytes, then the WHATWG default windows-1252.
    """
    if body.startswith(b"\xef\xbb\xbf"):
        return body[3:].decode("utf-8", errors="replace")
    if body.startswith(b"\xff\xfe"):
        return body[2:].decode("utf-16-le", errors="replace")
    if body.startswith(b"\xfe\xff"):
        return body[2:].decode("utf-16-be", errors="replace")
    enc = None
    if content_type:
        m = re.search(r"charset\s*=\s*\"?([A-Za-z0-9_\-]+)", content_type, re.I)
        if m:
            enc = m.group(1)
    if not enc:
        m = _META_CHARSET_RE.search(body[:1024])
        if m:
            enc = m.group(1).decode("ascii", errors="replace")
    if not enc:
        enc = "windows-1252"
    try:
        return body.decode(enc, errors="replace")
    except LookupError:
        return body.decode("windows-1252", errors="replace")
