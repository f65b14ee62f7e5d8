"""UDF / column-expression layer: JVM-vs-Python parity (SURVEY.md §2.12)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bbcrawl_spark import urlkit
from bbcrawl_spark.functions import udfs
from tests.test_extraction import SRC_PAGE, VB4_PAGE

URLS = [
    "http://Ex.COM:80/A/b?x=1&y=2#frag",
    "https://h:443",
    "https://h:8443/p?q",
    "http://h/path/",
    "HTTP://UPPER.example/MiXeD",
    "http://h:8080/t/p1",
]


class TestCanonicalizeParity:
    def test_col_matches_python(self, spark):
        df = spark.createDataFrame([(u,) for u in URLS], "url string")
        got = {
            r["url"]: r["c"]
            for r in df.select("url", udfs.canonicalize_col("url").alias("c")).collect()
        }
        for u in URLS:
            assert got[u] == urlkit.canonicalize(u), u

    def test_hash_col_matches_python(self, spark):
        df = spark.createDataFrame([(u,) for u in URLS], "url string")
        got = {
            r["url"]: r["h"]
            for r in df.select("url", udfs.url_hash_col("url").alias("h")).collect()
        }
        for u in URLS:
            assert got[u] == urlkit.url_hash(u), u


HEADER_CASES = [
    'attachment; filename="report.pdf"',
    'filename="bare.txt"',
    'attachment; filename="has space.bin"; size=42',
    'attachment;filename="tight.png"',
    "inline",  # no filename field
    None,  # no header at all
    "",  # empty header
    'attachment; filename="a=b.pdf"',  # '=' in name -> malformed (Go split)
    'attachment; filename="path/sep.pdf"',  # '/' rejected
    'attachment; filename=""',  # empty name -> malformed
    'attachment; filename=noquote.pdf',  # field must start filename=" -> none
    'x; filename=""quoted""',  # Trim strips ALL leading/trailing quotes
]


class TestHeaderFilenameParity:
    """F9/K2: column expression == pure-Python NameFromHeader twin on every
    branch (match, missing, malformed, path separator, quote trimming)."""

    def test_col_matches_python(self, spark):
        from bbcrawl_spark import extract

        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(HEADER_CASES)], "i int, hdr string"
        )
        got = {
            r["i"]: (r["name"], r["field"])
            for r in df.select(
                "i",
                udfs.header_filename_col("hdr").alias("name"),
                udfs.header_filename_field_col("hdr").alias("field"),
            ).collect()
        }
        for i, h in enumerate(HEADER_CASES):
            name, err = extract.header_filename(h)
            assert got[i][0] == name, (h, got[i], name, err)
            # field NULL exactly when the reference reports 'No ... found'
            assert (got[i][1] is None) == (err == extract.NO_HEADER_FIELD_ERR), h

    def test_golden_values(self):
        from bbcrawl_spark import extract

        assert extract.header_filename(HEADER_CASES[0]) == ("report.pdf", "")
        assert extract.header_filename(HEADER_CASES[2]) == ("has space.bin", "")
        assert extract.header_filename(None)[1] == extract.NO_HEADER_FIELD_ERR
        assert "malformed" in extract.header_filename('filename="a=b"')[1]
        assert extract.header_filename('x; filename=""quoted""') == ("quoted", "")
        assert extract.complete_headername("123-1", HEADER_CASES[0]) == (
            "123-1-report.pdf", "",
        )

    def test_malformed_error_formats_untrimmed_field(self, spark):
        from bbcrawl_spark import extract
        from bbcrawl_spark.functions.udfs import header_filename_raw_field_col

        # Go formats the RAW field (downloader.go:133): after ';'-split the
        # field keeps its leading space, so the message has TWO spaces
        h = 'attachment; filename="a=b"'
        _, err = extract.header_filename(h)
        assert err == (
            'malformed filename in Content-disposition header:  filename="a=b"'
        )
        # no separator -> no leading space, single space after the colon
        _, err2 = extract.header_filename('filename="a=b"')
        assert err2 == (
            'malformed filename in Content-disposition header: filename="a=b"'
        )
        # the column twin yields the same raw field
        df = spark.createDataFrame([(h,), ('filename="a=b"',)], "hdr string")
        raws = [
            r["raw"]
            for r in df.select(
                header_filename_raw_field_col("hdr").alias("raw")
            ).collect()
        ]
        assert raws == [' filename="a=b"', 'filename="a=b"']


def _fused(df, crawler="", ct=None, **kw):
    """Run the fused extraction UDF over (url, html, page_num) rows."""
    fused = udfs.make_extract_fused_udf(crawler, **kw)
    ct = F.lit(udfs.CT_DEFAULT) if ct is None else ct
    return df.select(fused("html", "url", "page_num", ct).alias("_ex"))


class TestExtractUDFs:
    """The fused extraction UDF through Spark, one walk at a time."""

    def test_vb_udf_through_spark(self, spark):
        df = spark.createDataFrame(
            [("http://forum.example:8080/t/1", VB4_PAGE.encode("utf-8"), 1)],
            "url string, html binary, page_num int",
        )
        rows = (
            _fused(df, "vb-attachments")
            .select(F.explode("_ex.files").alias("f"))
            .select("f.*")
            .where(F.col("err") == "")
            .orderBy("element_index")
            .collect()
        )
        assert [(r["post_id"], r["att_id"], r["out_name"]) for r in rows] == [
            ("101", 1, "101-1-f1.pdf"),
            ("101", 2, "101-2-f2.jpg"),
            ("102", 1, "102-1-abs.png"),
            ("102", 3, "102-3-last.gif"),
        ]

    def test_srcs_udf_through_spark(self, spark):
        df = spark.createDataFrame(
            [("http://media.example:444/g/p9", SRC_PAGE.encode("utf-8"), 7)],
            "url string, html binary, page_num int",
        )

        def names(**kw):
            rows = (
                _fused(df, "src", **kw)
                .select(F.explode("_ex.files").alias("f"))
                .select("f.*")
                .where(F.col("err") == "")
                .collect()
            )
            return {r["link"]: r["out_name"] for r in rows}

        default = names()
        assert default["/pics/a.jpg"] == "7-1.jpg"
        assert default["/v/single.mkv"] == "7-5.mkv"
        # -tags / -attrs reach the executors through the UDF closure
        assert names(tags=("img",), attrs=[("class", "skip-me")]) == {
            "relative/b.png": "7-1.png"
        }

    def test_text_udf_matches_core(self, spark):
        from bbcrawl_spark import extract

        html = "<body>a<script>no</script>b ü</body>"
        df = spark.createDataFrame(
            [("http://h/", html.encode("utf-8"), 0)],
            "url string, html binary, page_num int",
        )
        [r] = _fused(df).select("_ex.text").collect()
        assert r["text"] == extract.extract_text(html) == "ab ü"
        # the decode ladder through the UDF: cp1252 body + charset header
        df2 = spark.createDataFrame(
            [("http://h/", html.encode("cp1252"), 0, "text/html; charset=windows-1252")],
            "url string, html binary, page_num int, ct string",
        )
        [r2] = _fused(df2, ct=F.col("ct")).select("_ex.text").collect()
        assert r2["text"] == "ab ü"

    def test_links_udf(self, spark):
        html = b'<a href="/x">l</a><a href="p2">n</a>'
        df = spark.createDataFrame(
            [("http://h:9/a/b", html, 0)], "url string, html binary, page_num int"
        )
        rows = (
            _fused(df)
            .select(F.explode("_ex.links").alias("l"))
            .select("l.abs_url")
            .collect()
        )
        assert [r["abs_url"] for r in rows] == ["http://h/x", "http://h/p2"]

    def test_resolve_udf(self, spark):
        # rel2abs semantics (port dropped, absolute links kept verbatim)
        df = spark.createDataFrame(
            [
                ("http://h:8080/t/p1", b'<a href="a/b.jpg">x</a>', 0),
                ("http://h/t", b'<a href="http://abs/x">y</a>', 0),
            ],
            "url string, html binary, page_num int",
        )
        rows = _fused(df).select(F.col("_ex.links")[0]["abs_url"].alias("r")).collect()
        assert [r["r"] for r in rows] == ["http://h/a/b.jpg", "http://abs/x"]


class TestHeaderFilename:
    def test_content_disposition(self, spark):
        df = spark.createDataFrame(
            [
                ('attachment; filename="report.pdf"',),
                ('inline; filename="bad/name.txt"',),
                ("attachment",),
            ],
            "h string",
        )
        rows = df.select(udfs.header_filename_col("h").alias("n")).collect()
        assert [r["n"] for r in rows] == ["report.pdf", "", ""]


class TestHostOf:
    def test_host(self, spark):
        df = spark.createDataFrame(
            [("http://A.Example.com:8080/x?q=1",), ("https://h/y",)], "url string"
        )
        rows = df.select(udfs.host_of("url").alias("h")).collect()
        assert [r["h"] for r in rows] == ["a.example.com", "h"]

