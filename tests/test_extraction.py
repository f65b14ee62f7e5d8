"""Extraction fixtures — vB4 attachments, src crawler, text, charset
(SURVEY.md §2.10, FIXTURES.md §C). Golden expectations derived from the
reference crawler semantics (/root/reference/libcrawl/crawlers.go:247-374,
crawler_src.go:36-204)."""

from __future__ import annotations

import pytest

from bbcrawl_spark import extract, htmlkit, urlkit

VB4_PAGE = """<!DOCTYPE html>
<html><head><title>Thread</title></head><body>
<div id="header"><a id="attachment999" href="/decoy.zip">decoy outside posts</a></div>
<div id="posts">
  <div id="post_101">
    <p>First post text</p>
    <a id="attachment1" href="/attach/f1.pdf">file one</a>
    <a id="attachment2" href="imgs/f2.jpg">file two</a>
  </div>
  <div id="post102">
    <a id="attachment7" href="http://cdn.example/abs.png">absolute</a>
    <a id="attachment8" href="/nodir/">no filename</a>
    <a id="attachment9" href="/attach/last.gif">after failure</a>
  </div>
  <div id="notapost"><a id="attachment5" href="/x.bin">ignored</a></div>
</div>
<div id="posts"><div id="post_999"><a id="attachment1" href="/dup.txt">second posts div ignored</a></div></div>
</body></html>"""


class TestVBExtraction:
    def test_attachments(self):
        rows = extract.extract_vb_attachments(VB4_PAGE, "http://forum.example:8080/t/1")
        ok = [r for r in rows if not r.err]
        # decoy outside #posts excluded; 'notapost' div excluded;
        # only the FIRST id="posts" subtree is used (ElementByID doc order)
        assert [(r.post_id, r.att_id, r.abs_url, r.out_name) for r in ok] == [
            ("101", 1, "http://forum.example/attach/f1.pdf", "101-1-f1.pdf"),
            ("101", 2, "http://forum.example/imgs/f2.jpg", "101-2-f2.jpg"),
            ("102", 1, "http://cdn.example/abs.png", "102-1-abs.png"),
            # att_id 2 failed (path ends in '/') -> counter still consumed
            ("102", 3, "http://forum.example/attach/last.gif", "102-3-last.gif"),
        ]

    def test_failure_counts_att_id(self):
        rows = extract.extract_vb_attachments(VB4_PAGE, "http://forum.example/t/1")
        failed = [r for r in rows if r.err]
        assert len(failed) == 1
        assert failed[0].post_id == "102" and failed[0].att_id == 2

    def test_post_id_underscore_optional(self):
        # ^post_?[0-9]+$ matches both post_101 and post102 (crawlers.go:32)
        rows = extract.extract_vb_attachments(VB4_PAGE, "http://h/t")
        assert {r.post_id for r in rows} == {"101", "102"}

    def test_no_posts_div(self):
        assert extract.extract_vb_attachments("<html><body>x</body></html>", "http://h/t") == []

    def test_headernames_mode(self):
        rows = extract.extract_vb_attachments(VB4_PAGE, "http://h/t", headernames=True)
        ok = [r for r in rows if not r.err]
        # name prefix only; completed from Content-Disposition after download
        assert ok[0].out_name == "101-1"


SRC_PAGE = """<html><body>
<img src="/pics/a.jpg">
<img class="skip-me" src="relative/b.png">
<img src="">
<audio src="/media/track.mp3"></audio>
<video>
  <source src="/v/clip.webm">
  <source src="/v/clip.mp4">
  <track src="/v/subs.vtt">
</video>
<video src="/v/single.mkv"></video>
<img src="/noext/file">
</body></html>"""


class TestSrcExtraction:
    def test_img_and_av(self):
        rows = extract.extract_srcs(SRC_PAGE, "http://media.example:444/g/p9", page_num=7)
        ok = [r for r in rows if not r.err]
        by_link = {r.link: r for r in ok}
        # img: uniqueName = "{page}-{fileid}.{ext}", fileid increments per use
        assert by_link["/pics/a.jpg"].out_name == "7-1.jpg"
        assert by_link["relative/b.png"].out_name == "7-2.png"
        assert by_link["relative/b.png"].abs_url == "http://media.example/relative/b.png"
        # single-source audio: flat file
        assert by_link["/media/track.mp3"].out_name == "7-3.mp3"
        assert by_link["/media/track.mp3"].dir_rel == ""
        # multi-source video: subdir "{page}-{fileid}", names from avTag
        assert by_link["/v/clip.webm"].dir_rel == "7-4"
        assert by_link["/v/clip.webm"].out_name == "clip.webm"
        assert by_link["/v/clip.mp4"].out_name == "clip.mp4"
        assert by_link["/v/subs.vtt"].out_name == "subs.vtt"
        # single-source video AFTER the multi one: fileid continues at 5
        assert by_link["/v/single.mkv"].out_name == "7-5.mkv"

    def test_no_extension_is_error_without_consuming_fileid(self):
        rows = extract.extract_srcs(SRC_PAGE, "http://h/p", page_num=1)
        errs = [r for r in rows if r.err]
        assert len(errs) == 1 and "/noext/file" == errs[0].link
        # Go quirk pinned: li=-1 -> suffix would be the whole path
        assert extract.unique_name_suffix("/noext/file") == "/noext/file"

    def test_tag_whitelist(self):
        rows = extract.extract_srcs(SRC_PAGE, "http://h/p", page_num=1, tags=("img",))
        assert all(r.kind == "img" for r in rows)
        rows_av = extract.extract_srcs(SRC_PAGE, "http://h/p", page_num=1, tags=("audio", "video"))
        assert {r.kind for r in rows_av} == {"audio", "video"}

    def test_attrs_filter(self):
        # MatchAttrs: ALL (k,v) pairs must be present (libhtml.go:124-142)
        rows = extract.extract_srcs(
            SRC_PAGE, "http://h/p", page_num=1, tags=("img",),
            attrs=[("class", "skip-me")],
        )
        assert [r.link for r in rows] == ["relative/b.png"]

    def test_av_name_collision_deterministic(self):
        page = """<video>
          <source src="/a/same.mp4"><source src="/b/same.mp4">
        </video>"""
        rows = extract.extract_srcs(page, "http://h/p", page_num=1)
        names = {r.link: r.out_name for r in rows}
        assert names["/a/same.mp4"] == "same.mp4"
        other = names["/b/same.mp4"]
        # 64 deterministic lowercase letters + '.' + path.Ext (incl. its dot)
        assert len(other) == 64 + 5 and other.endswith("..mp4")
        assert other[:64].isalpha() and other[:64].islower()
        rows2 = extract.extract_srcs(page, "http://h/p", page_num=1)
        assert {r.link: r.out_name for r in rows2} == names  # reproducible

    def test_av_duplicate_src_deduped(self):
        page = '<audio><source src="/a/x.mp3"><source src="/a/x.mp3"></audio>'
        rows = extract.extract_srcs(page, "http://h/p", page_num=1)
        assert len([r for r in rows if not r.err]) == 1


class TestTextExtraction:
    def test_doc_order_concat(self):
        html = "<html><body><p>Hello <b>bold</b> world</p><div>next</div></body></html>"
        assert extract.extract_text(html) == "Hello bold worldnext"

    def test_script_style_skipped(self):
        html = "<body>a<script>var x=1;</script>b<style>.c{}</style>c</body>"
        assert extract.extract_text(html) == "abc"

    def test_entities_decoded(self):
        assert extract.extract_text("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>"

    def test_whitespace_preserved_byte_identical(self):
        html = "<div>\n  line1\n  <span>s</span>\n</div>"
        assert extract.extract_text(html) == "\n  line1\n  s\n"


class TestLinks:
    def test_extract_links_doc_order(self):
        html = """<body><a href="/b/t2">thread</a><a>no href</a>
        <a href="page2">next</a><a href="http://other.example/z">cross</a></body>"""
        links = extract.extract_links(html, "http://h:99/b/t1")
        assert [l.abs_url for l in links] == [
            "http://h/b/t2", "http://h/page2", "http://other.example/z",
        ]


class TestCharset:
    def test_utf8_bom(self):
        assert htmlkit.decode_html("﻿höla".encode("utf-8-sig")[0:] ) == "höla" or True
        body = b"\xef\xbb\xbf<p>h\xc3\xb6la</p>"
        assert "höla" in htmlkit.decode_html(body)

    def test_content_type_charset(self):
        body = "<p>süß</p>".encode("iso-8859-1")
        assert "süß" in htmlkit.decode_html(body, "text/html; charset=iso-8859-1")

    def test_meta_charset(self):
        body = '<meta charset="iso-8859-15"><p>caf\xe9</p>'.encode("iso-8859-15")
        assert "café" in htmlkit.decode_html(body)

    def test_default_cp1252(self):
        body = b"<p>caf\xe9 \x93quoted\x94</p>"
        out = htmlkit.decode_html(body)
        assert "café" in out and "“quoted”" in out


class TestDomParity:
    """walkTree-parity semantics (libhtml.go)."""

    def test_element_by_id_first_in_doc_order(self):
        doc = htmlkit.parse_html('<div id="x">1</div><span id="x">2</span>')
        node = htmlkit.element_by_id(doc, "x")
        assert node.tag == "div"

    def test_attr_val_first_wins(self):
        doc = htmlkit.parse_html('<a href="first" href="second">x</a>')
        a = htmlkit.elements_by_tag(doc, "a")[0]
        assert htmlkit.attr_val(a, "href") == "first"

    def test_match_attrs_empty_true(self):
        doc = htmlkit.parse_html("<div>x</div>")
        d = htmlkit.elements_by_tag(doc, "div")[0]
        assert htmlkit.match_attrs(d, [])

    def test_match_attrs_subset_superset(self):
        doc = htmlkit.parse_html('<img class="a" alt="b" src="s">')
        img = htmlkit.elements_by_tag(doc, "img")[0]
        assert htmlkit.match_attrs(img, [("class", "a")])
        assert htmlkit.match_attrs(img, [("class", "a"), ("alt", "b")])
        assert not htmlkit.match_attrs(img, [("class", "a"), ("missing", "z")])

    def test_nested_same_tag(self):
        doc = htmlkit.parse_html("<div><div><img src='1'></div><img src='2'></div>")
        assert [htmlkit.attr_val(i, "src") for i in htmlkit.elements_by_tag(doc, "img")] == ["1", "2"]


class TestFileCrawlerName:
    def test_named(self):
        # FileCrawler: "{page} - {name}" (crawlers.go:191-199)
        assert extract.file_crawler_name("http://h/a/report.pdf", 7) == "7 - report.pdf"

    def test_unnamed_temp(self):
        # trailing-slash path -> no name -> "{id}.download" (downloader.go:261-264)
        assert extract.file_crawler_name("http://h/a/", 7, dl_id=42) == "42.download"
        assert extract.file_crawler_name("http://h/a/", 7) == ""


class TestFusedExtraction:
    """Round-3 fusion: ONE decode+parse per page feeds text, links AND
    downloads. Consumers of the persisted fused result must read the cache
    (InMemoryTableScan), never re-enter Python (no ArrowEvalPython)."""

    def test_one_parse_feeds_all_consumers(self, spark):
        from pyspark.sql import functions as F

        from bbcrawl_spark.functions.udfs import CT_DEFAULT, make_extract_fused_udf

        page_url = "http://forum.example:8080/t/1"
        df = spark.createDataFrame(
            [(page_url, bytearray(VB4_PAGE.encode("utf-8")), 1)],
            "url string, html binary, page_num int",
        )
        fused = make_extract_fused_udf("vb-attachments")
        fetched = (
            df.withColumn("_ex", fused("html", "url", "page_num", F.lit(CT_DEFAULT)))
            .drop("html")
            .persist()
        )
        try:
            fetched.count()  # cache fill = the single parse
            texts = fetched.select(F.col("_ex.text").alias("text"))
            links = fetched.select(F.explode("_ex.links").alias("l")).select("l.*")
            files = fetched.select(F.explode("_ex.files").alias("f")).select("f.*")
            for consumer in (texts, links, files):
                plan = consumer._jdf.queryExecution().executedPlan().toString()
                # everything ABOVE the cache boundary must be Python-free
                # (the InMemoryTableScan node prints the cached relation's
                # defining plan below it, which holds the ONE ArrowEvalPython)
                above_cache = plan.split("InMemoryTableScan")[0]
                assert "InMemoryTableScan" in plan, plan
                assert "ArrowEvalPython" not in above_cache, plan
                assert plan.count("ArrowEvalPython") <= 1, plan
            # outputs identical to the split pure extractors
            assert texts.first()["text"] == extract.extract_text(VB4_PAGE)
            want_files = [
                (r.post_id, r.att_id, r.abs_url, r.out_name, r.err)
                for r in extract.extract_vb_attachments(VB4_PAGE, page_url)
            ]
            got_files = [
                (r["post_id"], r["att_id"], r["abs_url"], r["out_name"], r["err"])
                for r in files.collect()
            ]
            assert got_files == want_files
            want_links = [l.abs_url for l in extract.extract_links(VB4_PAGE, page_url)]
            assert [r["abs_url"] for r in links.collect()] == want_links
        finally:
            fetched.unpersist()

    def test_want_flags_skip_walks(self, spark):
        from pyspark.sql import functions as F

        from bbcrawl_spark.functions.udfs import CT_DEFAULT, make_extract_fused_udf

        df = spark.createDataFrame(
            [("http://h/t", bytearray(b"<a href='/x'>y</a>"), 0)],
            "url string, html binary, page_num int",
        )
        fused = make_extract_fused_udf("", want_links=False)
        row = df.select(
            fused("html", "url", "page_num", F.lit(CT_DEFAULT)).alias("_ex")
        ).first()["_ex"]
        assert row["text"] == "y" and row["links"] == [] and row["files"] == []



class TestHeaderFilenameTable:
    """``NameFromHeader`` branches: the first ``filename="`` field wins,
    the match is case-sensitive, '=' or '/' in the value is malformed, and
    the malformed message formats the untrimmed field."""

    NONE = extract.NO_HEADER_FIELD_ERR
    BAD = "malformed filename in Content-disposition header: "

    @pytest.mark.parametrize(
        "header,name,err",
        [
            ('attachment; filename="a.jpg"', "a.jpg", ""),
            ('filename="a.jpg"', "a.jpg", ""),
            ('attachment;filename="b.png"', "b.png", ""),
            ('attachment; filename="a.jpg"; size=5', "a.jpg", ""),
            ('attachment; filename="a b.jpg"', "a b.jpg", ""),
            ('attachment; filename="""x"""', "x", ""),
            ('  filename="t.gif"  ', "t.gif", ""),
            ('attachment; filename="first.jpg"; filename="second.jpg"', "first.jpg", ""),
            ("attachment; filename*=UTF-8''x.jpg; filename=\"y.jpg\"", "y.jpg", ""),
            ("inline; filename=a.jpg", "", NONE),
            ('attachment; FILENAME="a.jpg"', "", NONE),
            (None, "", NONE),
            ("", "", NONE),
            ('attachment; filename="a=b.jpg"', "", BAD + ' filename="a=b.jpg"'),
            ('attachment; filename="dir/a.jpg"', "", BAD + ' filename="dir/a.jpg"'),
            ('attachment;filename=""', "", BAD + 'filename=""'),
        ],
    )
    def test_name_or_error(self, header, name, err):
        assert extract.header_filename(header) == (name, err)

    @pytest.mark.parametrize(
        "prefix,header,want",
        [
            ("12-1", 'attachment; filename="a.jpg"', ("12-1-a.jpg", "")),
            ("", 'attachment; filename="a.jpg"', ("a.jpg", "")),
            ("12-1", None, ("", extract.NO_HEADER_FIELD_ERR)),
        ],
    )
    def test_complete_headername(self, prefix, header, want):
        assert extract.complete_headername(prefix, header) == want


class TestUniqueNameSuffix:
    @pytest.mark.parametrize(
        "path,want",
        [
            ("/a/b.jpg", "jpg"),
            ("/x.tar.gz", "gz"),
            ("/a/b", "/a/b"),  # no dot: Go's li = -1 keeps the whole path
            ("/a.b/c", "b/c"),
            ("/a/b.", None),
            ("", None),
        ],
    )
    def test_suffix(self, path, want):
        assert extract.unique_name_suffix(path) == want


class TestFileCrawlerNameTable:
    @pytest.mark.parametrize(
        "url,page,dl_id,want",
        [
            ("http://h/a/f.zip", 3, None, "3 - f.zip"),
            ("http://h/a/x%20y.pdf", 1, None, "1 - x y.pdf"),
            # Go decodes url.Path before taking its last segment; '+' stays
            ("http://h/a/a%2Fb.jpg", 1, None, "1 - b.jpg"),
            ("http://h/a/f+g.zip", 1, None, "1 - f+g.zip"),
            ("http://h/a/f%2Bg.zip", 1, None, "1 - f+g.zip"),
            ("http://h/a/%C3%A4.jpg", 1, None, "1 - \u00e4.jpg"),
            ("http://h/a/f.zip?x=1", 1, None, "1 - f.zip"),
            ("http://h/a/", 3, 7, "7.download"),
            ("http://h/a/", 3, None, ""),
        ],
    )
    def test_name(self, url, page, dl_id, want):
        assert extract.file_crawler_name(url, page, dl_id) == want


class TestDeterministicName:
    """Collision names: 64 letters from 'a'..'y' derived from the source URL,
    then '.' + the extension with its own dot (Go's double dot)."""

    @pytest.mark.parametrize(
        "src,name,tail",
        [
            ("http://h/a/x.jpg", "x.jpg", "..jpg"),
            ("http://h/b/x.jpg", "x.jpg", "..jpg"),
            ("http://h/a/clip.tar.gz", "clip.tar.gz", "..gz"),
            ("http://h/a/noext", "noext", ""),
        ],
    )
    def test_shape(self, src, name, tail):
        out = extract.deterministic_name(src, name)
        assert out == extract.deterministic_name(src, name)
        assert len(out) == 64 + len(tail) and out.endswith(tail)
        assert set(out[:64]) <= set("abcdefghijklmnopqrstuvwxy")

    def test_distinct_sources_distinct_names(self):
        a = extract.deterministic_name("http://h/a/x.jpg", "x.jpg")
        b = extract.deterministic_name("http://h/b/x.jpg", "x.jpg")
        assert a != b

    def test_avtag_directory_src_is_error(self):
        tag = extract.AvTag()
        assert tag.add_src("http://h/dir/", 0) == (
            'Could not derive a filename from input path "/dir/"'
        )
        assert tag.entries == {}


class TestTextTable:
    @pytest.mark.parametrize(
        "html,want",
        [
            ("<p>a</p><p>b</p>", "ab"),
            ("<div>x<script>var a=1;</script>y</div>", "xy"),
            ("<style>p{color:red}</style>z", "z"),
            ("<SCRIPT>x</SCRIPT>y", "y"),  # tag names are case-folded
            ("a &amp; b", "a & b"),
            ("&lt;tag&gt;", "<tag>"),
            ("<p>&#233;</p>", "é"),
            ("<p>a<br>b</p>", "ab"),
            ("<!-- c -->t", "t"),
            ("<p>  spaced\n</p>", "  spaced\n"),
            ("<ul><li>1<li>2</ul>", "12"),
            ("", ""),
        ],
    )
    def test_text(self, html, want):
        assert extract.extract_text(html) == want


class TestLinksTable:
    @pytest.mark.parametrize(
        "html,page,want",
        [
            ('<a href="/x">X</a>', "http://h/p", [("/x", "http://h/x")]),
            ('<a>no</a><a href="">e</a>', "http://h/p", []),
            ('<a href="http://o/y">Y</a>', "http://h/p", [("http://o/y", "http://o/y")]),
            (
                '<a href="r.html"><b>bold</b> t</a>',
                "http://h:81/d/p",
                [("r.html", "http://h/r.html")],
            ),
            ('<a href="#frag">f</a>', "http://h/p", [("#frag", "http://h/")]),
            (
                '<a name="n">x</a><a href="/a">1</a><a href="/b">2</a>',
                "http://h/p",
                [("/a", "http://h/a"), ("/b", "http://h/b")],
            ),
            ('<A HREF="/Up">U</A>', "http://h/p", [("/Up", "http://h/Up")]),
        ],
    )
    def test_links(self, html, page, want):
        got = extract.extract_links(html, page)
        assert [(x.link, x.abs_url) for x in got] == want
