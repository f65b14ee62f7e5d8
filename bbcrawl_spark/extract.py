"""Extraction core: the reference crawlers' per-page logic as pure functions.

Mirrors (see SURVEY.md §2.10):

* ``VBAttachmentCrawler.Crawl``  /root/reference/libcrawl/crawlers.go:247-374
* ``SrcCrawler.Crawl`` + scrapeAV  /root/reference/libcrawl/crawler_src.go:36-204
* ``avTag.addSrc``  /root/reference/libcrawl/avtag.go:16-52
* text + link extraction (graft ops H10 / frontier growth)

Every function here is pure (html text in, rows out) so the identical code
runs inside Arrow-batched pandas UDFs on executors and inside the
sequential pure-Python crawl oracle — byte-identical output by construction.

Deterministic deviations from the reference (documented, fixture-pinned):

* ``avTag.randomName`` uses Go's *unseeded* ``math/rand`` (avtag.go:40-52),
  which is not reproducible even by the reference itself; we derive the
  64-letter name from xxhash64(src) instead.
* An extension-less ``src`` makes the Go binary panic via ``checkFilename``
  (downloader.go:85-95); we emit an error row instead of crashing.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import htmlkit, urlkit
from .htmlkit import Node

VB4_POSTID_RE = re.compile(r"^post_?[0-9]+$")  # crawlers.go:32
VB4_ATTACHMENT_RE = re.compile(r"^attachment[0-9]+$")  # crawlers.go:33
_NUM_RE = re.compile(r"[0-9]+")  # crawlers.go:337

SRC_TAGS = ("audio", "img", "video")  # crawler_src.go:93 whitelist


@dataclass
class ExtractedFile:
    """One download the reference would have dispatched."""

    kind: str  # 'vb_attachment' | 'img' | 'audio' | 'video' | 'file'
    link: str  # raw href/src as it appears in the HTML
    abs_url: str  # after rel2abs resolution ('' on failure)
    out_name: str  # download file name ('' on failure)
    dir_rel: str = ""  # subdirectory relative to output dir ("" = flat)
    post_id: str = ""  # vb only
    att_id: int = 0  # vb only, 1-based, counts failures too
    element_index: int = -1  # document order of the originating element
    err: str = ""  # non-empty -> the reference logged an error


def _resolve(page_url: str, link: str) -> tuple[str, str]:
    """rel2abs with error capture; absolute links pass through
    (crawlers.go:279-285, crawler_src.go:118-126)."""
    try:
        u = urlkit.parse_url(link)
        if u.is_abs():
            return str(u), ""
        return urlkit.rel2abs(page_url, link), ""
    except ValueError as e:
        return "", str(e)


# ---------------------------------------------------------------------------
# H9: vB4 attachment harvest (crawlers.go:247-374)
# ---------------------------------------------------------------------------

def extract_vb_attachments(
    html_text: str, page_url: str, headernames: bool = False
) -> list[ExtractedFile]:
    """Mirror of ``VBAttachmentCrawler.Crawl``.

    posts = subtree of the first ``id="posts"`` element, filtered by
    ``^post_?[0-9]+$`` ids; attachments per post by ``^attachment[0-9]+$``;
    ``att_id`` starts at 1 per post and increments on failures too
    (crawlers.go:268-309). out_name = "{postid}-{attid}-{name}" or, with
    headernames, the "{postid}-{attid}" prefix completed after download
    (afterdownload.go:27-46).
    """
    return extract_vb_attachments_from_doc(
        htmlkit.parse_html(html_text), page_url, headernames
    )


def extract_vb_attachments_from_doc(
    doc: Node, page_url: str, headernames: bool = False
) -> list[ExtractedFile]:
    """Tree-level core of :func:`extract_vb_attachments` — lets the fused
    extraction UDF parse each page ONCE and run text/links/downloads walks
    over the same tree."""
    posts_root = htmlkit.element_by_id(doc, "posts")
    if posts_root is None:
        return []
    posts = htmlkit.elements_by_attr_match(posts_root, "id", VB4_POSTID_RE)
    out: list[ExtractedFile] = []
    for post in posts:
        post_id = _vb_post_id(post)
        atts = htmlkit.elements_by_attr_match(post, "id", VB4_ATTACHMENT_RE)
        att_id = 1
        for att in atts:
            row = ExtractedFile(
                kind="vb_attachment",
                link="",
                abs_url="",
                out_name="",
                post_id=post_id,
                att_id=att_id,
                element_index=att.index,
            )
            href = htmlkit.attr_val(att, "href")
            row.link = href
            if not href:
                row.err = "attachment has no href"
                out.append(row)
                att_id += 1
                continue
            abs_url, err = _resolve(page_url, href)
            row.abs_url = abs_url
            if err:
                row.err = err
                out.append(row)
                att_id += 1
                continue
            if headernames:
                row.out_name = f"{post_id}-{att_id}"  # header name appended later
            else:
                name = urlkit.file_name_from_url(abs_url)
                if name == "":
                    row.err = "could not derive a filename"
                    out.append(row)
                    att_id += 1
                    continue
                row.out_name = f"{post_id}-{att_id}-{name}"
            out.append(row)
            att_id += 1
    return out


def _vb_post_id(post: Node) -> str:
    """vbpost.id() (crawlers.go:334-342): numeric part of the first id attr
    matching the post regex."""
    for k, v in post.attrs:
        if k == "id" and VB4_POSTID_RE.search(v):
            m = _NUM_RE.search(v)
            return m.group(0) if m else ""
    raise RuntimeError("vbpost.id() did not find a post id")


# ---------------------------------------------------------------------------
# H7/H8: src crawler (crawler_src.go:36-204) + avTag (avtag.go:16-52)
# ---------------------------------------------------------------------------

def unique_name_suffix(path: str) -> str | None:
    """uniqueName's extension rule (crawler_src.go:189-204) incl. the Go
    quirk: with NO dot, li = -1 so the suffix is the whole path."""
    li = path.rfind(".")
    if li + 1 < len(path):
        return path[li + 1 :]
    return None


@dataclass
class _FileId:
    """SrcCrawler.fileid: reset to 1 per page, consumed by uniqueName and
    by multi-source AV subdirectories (crawler_src.go:26, 38, 167, 201-202)."""

    val: int = 1

    def take(self) -> int:
        v = self.val
        self.val += 1
        return v


def extract_srcs(
    html_text: str,
    page_url: str,
    page_num: int,
    tags: tuple[str, ...] = SRC_TAGS,
    attrs: list[tuple[str, str]] | None = None,
) -> list[ExtractedFile]:
    """Mirror of ``SrcCrawler.Crawl``: img -> src; audio/video -> scrapeAV
    (root src + child source/track srcs; 1 source = flat file, >1 =
    "{page}-{fileid}/" subdir with avTag-dedup'd names)."""
    return extract_srcs_from_doc(
        htmlkit.parse_html(html_text), page_url, page_num, tags, attrs
    )


def extract_srcs_from_doc(
    doc: Node,
    page_url: str,
    page_num: int,
    tags: tuple[str, ...] = SRC_TAGS,
    attrs: list[tuple[str, str]] | None = None,
) -> list[ExtractedFile]:
    """Tree-level core of :func:`extract_srcs` (see
    :func:`extract_vb_attachments_from_doc`)."""
    attrs = attrs or []
    fileid = _FileId()
    out: list[ExtractedFile] = []
    nodes = htmlkit.elements_by_tag(doc, *[t for t in tags if t in SRC_TAGS])
    for n in nodes:
        if not htmlkit.match_attrs(n, attrs):
            continue
        if n.tag == "img":
            link = htmlkit.attr_val(n, "src")
            if not link:
                continue
            row = _unique_named_download("img", link, page_url, page_num, fileid, n.index)
            out.append(row)
        else:  # audio / video
            out.extend(_scrape_av(n, page_url, page_num, fileid))
    return out


def _unique_named_download(
    kind: str, link: str, page_url: str, page_num: int, fileid: _FileId, index: int
) -> ExtractedFile:
    row = ExtractedFile(kind=kind, link=link, abs_url="", out_name="", element_index=index)
    try:
        u = urlkit.parse_url(link)
    except ValueError as e:  # pragma: no cover - parse_url rarely raises
        row.err = str(e)
        return row
    suffix = unique_name_suffix(u.path)
    if suffix is None:
        row.err = f'No suffix available in url path "{u.path}"'
        return row  # uniqueName errors BEFORE consuming a fileid
    name = f"{page_num}-{fileid.take()}.{suffix}"
    if "/" in name:
        # Go would panic in checkFilename (downloader.go:85-95); we surface
        # an error row instead.
        row.err = f'filename "{name}" contains a path separator'
        return row
    abs_url, err = _resolve(page_url, link)
    row.abs_url, row.err, row.out_name = abs_url, err, "" if err else name
    return row


def _scrape_av(node: Node, page_url: str, page_num: int, fileid: _FileId) -> list[ExtractedFile]:
    """scrapeAV (crawler_src.go:140-186)."""
    downloads: list[tuple[str, int]] = []
    root = htmlkit.attr_val(node, "src")
    if root:
        downloads.append((root, node.index))
    for child in htmlkit.elements_by_tag(node, "source", "track"):
        link = htmlkit.attr_val(child, "src")
        if link:
            downloads.append((link, child.index))
    kind = node.tag
    if not downloads:
        return []
    if len(downloads) == 1:
        link, idx = downloads[0]
        return [_unique_named_download(kind, link, page_url, page_num, fileid, idx)]
    # multi-source: subdirectory "{page}-{fileid}", fileid consumed
    dir_rel = f"{page_num}-{fileid.take()}"
    sources = AvTag()
    errs: list[ExtractedFile] = []
    for link, idx in downloads:
        err = sources.add_src(link, idx)
        if err:
            errs.append(
                ExtractedFile(kind=kind, link=link, abs_url="", out_name="",
                              dir_rel=dir_rel, element_index=idx, err=err)
            )
    out = errs
    for link, (name, idx) in sources.entries.items():
        abs_url, err = _resolve(page_url, link)
        out.append(
            ExtractedFile(kind=kind, link=link, abs_url=abs_url,
                          out_name="" if err else name, dir_rel=dir_rel,
                          element_index=idx, err=err)
        )
    return out


class AvTag:
    """avTag (avtag.go:14-52): src -> filename map with collision renaming.

    The reference iterates the final Go map in *random* order when
    dispatching; we keep insertion order (deterministic, documented).
    """

    def __init__(self) -> None:
        self.entries: dict[str, tuple[str, int]] = {}

    def add_src(self, src: str, index: int) -> str:
        try:
            u = urlkit.parse_url(src)
        except ValueError as e:  # pragma: no cover
            return str(e)
        name = urlkit.file_name_from_url(u)
        if name == "":
            return f'Could not derive a filename from input path "{u.path}"'
        for k, (v, _) in self.entries.items():
            if v == name:
                if k == src:
                    return ""  # identical entry already exists
                name = deterministic_name(src, name)
                break
        self.entries[src] = (name, index)
        return ""


def deterministic_name(src: str, name: str) -> str:
    """Collision rename. Reference: 64 random lowercase letters (a-y, from
    unseeded math/rand) + '.' + path.Ext(name) — note path.Ext includes the
    dot, so Go produces a double dot; mirrored here (avtag.go:40-52).
    Letters derive from xxhash64(src) so the graft is reproducible."""
    dot = name.rfind(".")
    ext = name[dot:] if dot >= 0 else ""
    letters = []
    h = urlkit.xxhash64(src) & 0xFFFFFFFFFFFFFFFF
    state = h or 1
    for _ in range(64):
        # xorshift64 over the hash; map into 'a'..'y' like rand.Int31n(25)+0x61
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        letters.append(chr(0x61 + state % 25))
    out = "".join(letters)
    if ext != "":
        out += "." + ext
    return out


# ---------------------------------------------------------------------------
# H10: text extraction + frontier link extraction (graft ops)
# ---------------------------------------------------------------------------

def extract_text(html_text: str) -> str:
    """Deterministic text serialization: concatenation of text-node data in
    walkTree DFS document order, skipping script/style subtrees. This IS the
    byte-identical text contract (north_star) — pinned by golden fixtures
    and shared verbatim between the Spark UDF and the oracle."""
    return extract_text_from_doc(htmlkit.parse_html(html_text))


def extract_text_from_doc(doc: Node) -> str:
    """Tree-level core of :func:`extract_text` (see
    :func:`extract_vb_attachments_from_doc`)."""
    parts: list[str] = []

    # manual walk so script/style subtrees are skipped without aborting
    def walk(n: Node) -> None:
        if n.type == htmlkit.ELEMENT and n.tag in ("script", "style"):
            return
        if n.type == htmlkit.TEXT:
            parts.append(n.data)
        for c in n.children:
            walk(c)

    walk(doc)
    return "".join(parts)


@dataclass
class ExtractedLink:
    link: str
    abs_url: str


def extract_links(html_text: str, page_url: str) -> list[ExtractedLink]:
    """All <a href> links in document order, resolved with the reference's
    rel2abs semantics — frontier growth for the crawl loop (graft; the
    reference generates next pages via pagers instead of extracting them)."""
    return extract_links_from_doc(htmlkit.parse_html(html_text), page_url)


def extract_links_from_doc(doc: Node, page_url: str) -> list[ExtractedLink]:
    """Tree-level core of :func:`extract_links` (see
    :func:`extract_vb_attachments_from_doc`)."""
    out: list[ExtractedLink] = []
    for a in htmlkit.elements_by_tag(doc, "a"):
        href = htmlkit.attr_val(a, "href")
        if not href:
            continue
        abs_url, err = _resolve(page_url, href)
        if err or not abs_url:
            continue
        out.append(ExtractedLink(link=href, abs_url=abs_url))
    return out


NO_HEADER_FIELD_ERR = "No Content-disposition header field found"


def header_filename(header: str | None) -> tuple[str, str]:
    """``Download.NameFromHeader`` (downloader.go:121-143, 319-340):
    returns (name, err); exactly one of the two is non-empty.

    Semantics: first ';'-field whose TrimSpace starts with ``filename="``;
    value must split on '=' into exactly 2 parts; all leading/trailing '"'
    trimmed; a '/' rejects. No field -> the reference's "No Content-
    disposition header field found"; matched-but-bad -> "malformed filename".
    Column twin: functions.udfs.header_filename_col (parity pinned).
    """
    field_match = raw_field = None
    for fld in (header or "").split(";"):
        t = fld.strip()
        if t.startswith('filename="'):
            field_match, raw_field = t, fld
            break
    if field_match is None:
        return "", NO_HEADER_FIELD_ERR
    parts = field_match.split("=")
    name = ""
    if len(parts) == 2 and parts[0] == "filename":
        name = parts[1].strip('"')
        if "/" in name:
            name = ""
    if name == "":
        # reference parity: the error formats the UNTRIMMED field
        # (downloader.go:133 uses `field`, not `trimmedfield`) — Go emits
        # e.g. 'malformed ... header:  filename="a=b"' with the leading space
        return "", f"malformed filename in Content-disposition header: {raw_field}"
    return name, ""


def complete_headername(prefix: str, header: str | None) -> tuple[str, str]:
    """``ADNameFromHeader`` (afterdownload.go:27-46): '{prefix}-{name}' or
    (out_name='', err) mirroring the RenameError path."""
    name, err = header_filename(header)
    if err:
        return "", err
    return (f"{prefix}-{name}" if prefix else name), ""


def file_crawler_name(url: str, page_num: int, dl_id: int | None = None) -> str:
    """FileCrawler naming (crawlers.go:191-199 + downloader.go:261-264):
    "{page} - {name}" when the URL yields a filename, else the dispatcher's
    temp name "{id}.download" (the reference's racy global counter id is
    replaced by the caller's deterministic ordering key)."""
    name = urlkit.file_name_from_url(url)
    if name:
        return f"{page_num} - {name}"
    return f"{dl_id}.download" if dl_id is not None else ""

