"""DOM builder, traversal helpers and charset sniffing of ``htmlkit``."""

from __future__ import annotations

import re

import pytest

from bbcrawl_spark import htmlkit


def _tags(nodes):
    return [n.tag for n in nodes]


class TestTreeShape:
    def test_preorder_element_indices(self):
        doc = htmlkit.parse_html("<div><p></p><span></span></div><p></p>")
        els = htmlkit.elements_by_tag(doc, "div", "p", "span")
        assert [(n.tag, n.index) for n in els] == [
            ("div", 0), ("p", 1), ("span", 2), ("p", 3),
        ]

    def test_void_element_takes_no_children(self):
        doc = htmlkit.parse_html("<img src='a.png'><p>x</p>")
        (p,) = htmlkit.elements_by_tag(doc, "p")
        assert p.parent is doc

    def test_self_closing_tag(self):
        doc = htmlkit.parse_html("<div><br/>t</div>")
        (div,) = htmlkit.elements_by_tag(doc, "div")
        assert [c.tag or c.data for c in div.children] == ["br", "t"]

    def test_stray_end_tag_ignored(self):
        doc = htmlkit.parse_html("<div></span>t</div>")
        (div,) = htmlkit.elements_by_tag(doc, "div")
        assert [c.data for c in div.children] == ["t"]

    def test_end_tag_closes_inner_open_tags(self):
        doc = htmlkit.parse_html("<div><b>x</div>y")
        assert [c.data for c in doc.children if c.type == htmlkit.TEXT] == ["y"]

    def test_unclosed_tags_nest_to_the_end(self):
        doc = htmlkit.parse_html("<div><p>a")
        (p,) = htmlkit.elements_by_tag(doc, "p")
        assert p.parent.tag == "div" and p.children[0].data == "a"

    def test_valueless_attribute(self):
        doc = htmlkit.parse_html("<input disabled>")
        (inp,) = htmlkit.elements_by_tag(doc, "input")
        assert htmlkit.attr_val(inp, "disabled") == ""


class TestWalkTree:
    HTML = "<a><b></b><c></c></a><d></d>"

    def test_pre_and_post_order(self):
        doc = htmlkit.parse_html(self.HTML)
        pre, post = [], []
        htmlkit.walk_tree(doc, lambda n: pre.append(n.tag) or True,
                          lambda n: post.append(n.tag) or True)
        assert pre == ["#document", "a", "b", "c", "d"]
        assert post == ["b", "c", "a", "d", "#document"]

    def test_false_from_pre_aborts_whole_walk(self):
        doc = htmlkit.parse_html(self.HTML)
        seen = []

        def pre(n):
            seen.append(n.tag)
            return n.tag != "b"

        assert htmlkit.walk_tree(doc, pre, None) is False
        assert seen == ["#document", "a", "b"]

    def test_false_from_post_aborts_whole_walk(self):
        doc = htmlkit.parse_html(self.HTML)
        seen = []

        def post(n):
            seen.append(n.tag)
            return n.tag != "a"

        assert htmlkit.walk_tree(doc, None, post) is False
        assert seen == ["b", "c", "a"]


class TestSelectors:
    HTML = (
        '<div id="x" class="abc"><span id="y" class="b"></span></div>'
        '<span id="x" class="b other"></span>'
    )

    def test_element_by_id_first_in_document_order(self):
        doc = htmlkit.parse_html(self.HTML)
        assert htmlkit.element_by_id(doc, "x").tag == "div"
        assert htmlkit.element_by_id(doc, "y").tag == "span"
        assert htmlkit.element_by_id(doc, "missing") is None

    def test_attr_match_is_a_search(self):
        doc = htmlkit.parse_html(self.HTML)
        got = htmlkit.elements_by_attr_match(doc, "class", re.compile("b"))
        assert _tags(got) == ["div", "span", "span"]

    def test_attr_match_anchored_pattern(self):
        doc = htmlkit.parse_html(self.HTML)
        got = htmlkit.elements_by_attr_match(doc, "class", re.compile("^b$"))
        assert [htmlkit.attr_val(n, "id") for n in got] == ["y"]


class TestDecodeHtml:
    """Charset sniffing order: BOM, Content-Type, <meta>, windows-1252."""

    @pytest.mark.parametrize(
        "body,ct,want",
        [
            (b"\xef\xbb\xbfh\xc3\xa9", None, "hé"),
            (b"\xff\xfeh\x00i\x00", None, "hi"),
            (b"\xfe\xff\x00h\x00i", None, "hi"),
            (b"caf\xe9", "text/html; charset=iso-8859-1", "café"),
            (b"caf\xc3\xa9", 'text/html; charset="utf-8"', "café"),
            (b'<meta charset="utf-8">caf\xc3\xa9', None, '<meta charset="utf-8">café'),
            (
                b'<meta http-equiv="Content-Type" content="text/html; charset=windows-1251">\xcf',
                None,
                '<meta http-equiv="Content-Type" content="text/html; charset=windows-1251">П',
            ),
            (b"\x80", None, "€"),
            (b"abc", "text/html; charset=bogus-enc", "abc"),
            (b"\xef\xbb\xbf\xc3\xa9", "text/html; charset=iso-8859-1", "é"),
            (b'<meta charset="utf-8">\xe9', "text/html; charset=latin-1", '<meta charset="utf-8">é'),
            (b"a\xffb", "text/html; charset=utf-8", "a�b"),
        ],
    )
    def test_decode(self, body, ct, want):
        assert htmlkit.decode_html(body, ct) == want

    def test_meta_beyond_first_kilobyte_ignored(self):
        body = b" " * 1024 + b'<meta charset="utf-8">\xc3\xa9'
        assert htmlkit.decode_html(body).endswith("Ã©")
