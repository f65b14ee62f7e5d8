"""CLI grammar / flag types / attrs mini-language — every case from the
reference test suite (/root/reference/cmdline/partition_test.go,
flags_test.go, attrs/attrs_test.go)."""

from __future__ import annotations

import pytest

from bbcrawl_spark import cmdline
from bbcrawl_spark.pagers import CutterPagerSpec, QueryPagerSpec, VB4PagerSpec


class TestPartition:
    # partition_test.go:29-48 — reconstructed string must round-trip
    POSITIVE = [
        "bbcrawl -arg1 yes -arg2 no -pager testpager -arg3 hello -arg4 there -crawler testcrawler -depth deep -height high http://example.net",
        "bbcrawl -pager testpager 1 2 3 -crawler testcrawler 4 5 6 http://example.net",
        "bbcrawl -pager testpager -crawler testcrawler 4 5 6 http://example.net",
        "bbcrawl -pager testpager 1 2 3 -crawler testcrawler http://example.net",
        "bbcrawl -pager testpager -crawler testcrawler http://example.net",
        "bbcrawl -pager testpager -crawler testcrawler http://example.net http://example.net/2",
    ]
    NEGATIVE = [
        "",
        "bbcrawl",
        "bbcrawl -pager testpager http://www.example.net",
        "bbcrawl -crawler testcrawler -pager testpager http://www.example.net",
        "bbcrawl -pager testpager -crawler testcrawler",
    ]

    @pytest.mark.parametrize("line", POSITIVE)
    def test_positive_roundtrip(self, line):
        p = cmdline.partition(line.split(" "))
        assert f"bbcrawl {p}" == line

    @pytest.mark.parametrize("line", NEGATIVE)
    def test_negative(self, line):
        with pytest.raises(ValueError):
            cmdline.partition(line.split(" "))


class TestFlagTypes:
    def test_boolean(self):
        for s, v in [("true", True), ("TRUE", True), ("false", False), ("FALSE", False)]:
            assert cmdline.parse_bool(s) is v
        for s in ["", "abc", "trve", "1", "0"]:
            with pytest.raises(ValueError):
                cmdline.parse_bool(s)

    def test_start_end_page(self):
        with pytest.raises(ValueError):
            cmdline.parse_start_page("0")
        assert cmdline.parse_start_page("23") == 23
        with pytest.raises(ValueError):
            cmdline.parse_end_page("21", 23)
        assert cmdline.parse_end_page("24", 23) == 24
        with pytest.raises(ValueError):
            cmdline.parse_end_page("0", 23)

    def test_url_collection(self):
        urls = cmdline.parse_url_collection(
            "https://www.google.com,ftp://example.com,relative/url/example.html"
        )
        assert urls == [
            "https://www.google.com",
            "ftp://example.com",
            "relative/url/example.html",
        ]

    def test_whitelist(self):
        assert cmdline.parse_whitelist("audio,img", ",", ["audio", "img", "video"]) == [
            "audio", "img",
        ]
        with pytest.raises(ValueError):
            cmdline.parse_whitelist("audio,table", ",", ["audio", "img", "video"])

    def test_fs_directory(self):
        assert cmdline.parse_fs_directory("/var") == "/var"
        with pytest.raises(ValueError):
            cmdline.parse_fs_directory("allyourbasearebelongtous")


class TestAttrsTokenizer:
    # attrs_test.go:33-59 — exact golden segmentations
    CASES = {
        "test/split/end/": ["test", "split", "end", ""],
        "/test/split/end": ["", "test", "split", "end"],
        "/test/split/end/": ["", "test", "split", "end", ""],
        "///s///": ["", "", "", "s", "", "", ""],
        "///////": ["", "", "", "", "", "", "", ""],
        "\\\\/test\\/test/2": ["\\", "test/test", "2"],
        "\\/\\/\\/": ["///"],
    }

    @pytest.mark.parametrize("inp,want", list(CASES.items()))
    def test_parser_golden(self, inp, want):
        assert cmdline.tokenize_attrs(inp) == want

    def test_empty(self):
        assert cmdline.tokenize_attrs("") == []

    def test_trailing_escape_error(self):
        with pytest.raises(ValueError, match="Unexpected EOF"):
            cmdline.tokenize_attrs("abc\\")


class TestAttrs:
    def test_attrs_mini_language(self):
        # flags_test.go:172-198
        a = cmdline.parse_attrs("test=high,low/style=height:20px;width:30px/numbers=1,2,3,4,5")
        assert len(a) == 3
        assert a["test"] == ["high", "low"]
        assert a["style"] == ["height:20px;width:30px"]
        assert len(a["numbers"]) == 5

    def test_duplicate_key(self):
        with pytest.raises(ValueError, match="used twice"):
            cmdline.parse_attrs("k=1/k=2")

    def test_missing_equals(self):
        with pytest.raises(ValueError, match="equal sign"):
            cmdline.parse_attrs("noequals")


class TestParseCommand:
    def test_cutter_command(self):
        pager, crawler, g = cmdline.parse_command(
            "bbcrawl -pager cutter -start 1 -end 100 -cut 24,1 -digits 5 "
            "-crawler file http://www.example.net/1/test".split()
        )
        assert isinstance(pager, CutterPagerSpec)
        assert (pager.start, pager.end, pager.cut, pager.digits) == (1, 100, (24, 1), 5)
        assert pager.page_url(5) == "http://www.example.net/00005/test"
        assert crawler.kind == "file"

    def test_vb_command(self):
        pager, crawler, _ = cmdline.parse_command(
            "bbcrawl -pager vb4 -start 1 -end 3 -crawler vb-attachments "
            "-names-from-header true -exclude http://a/x,http://a/y "
            "http://forum.ex/threads/42".split()
        )
        assert isinstance(pager, VB4PagerSpec)
        assert crawler.headernames is True
        assert crawler.excludes == ("http://a/x", "http://a/y")

    def test_src_command_with_attrs(self):
        pager, crawler, _ = cmdline.parse_command(
            "bbcrawl -pager query -start 1 -end 9 -name p -crawler src "
            "-tags img,video -attrs class=big,small/alt=x "
            "http://gal.ex/view?id=7".split()
        )
        assert isinstance(pager, QueryPagerSpec)
        assert pager.page_url(2) == "http://gal.ex/view?id=7&p=2"
        assert crawler.tags == ("img", "video")
        assert set(crawler.attrs) == {("class", "big"), ("class", "small"), ("alt", "x")}

    def test_src_requires_tags(self):
        with pytest.raises(ValueError, match="No html tag"):
            cmdline.parse_command(
                "bbcrawl -pager vb4 -start 1 -end 2 -crawler src http://h/t".split()
            )

    def test_unknown_pager(self):
        with pytest.raises(ValueError, match="Pager not found"):
            cmdline.parse_command("bbcrawl -pager nope -crawler file http://h/t".split())

    def test_cookie_file_warns_ignored(self):
        """J4: -cookie-file is parsed but has nothing to act on in batch
        mode (pre-fetched pages) — it must WARN, never silently no-op."""
        with pytest.warns(UserWarning, match="cookie-file is not applicable"):
            cmdline.parse_command(
                "bbcrawl -cookie-file /tmp/jar.txt -pager vb4 -start 1 -end 2 "
                "-crawler file http://h.ex/t".split()
            )

    def test_no_cookie_file_no_warning(self, recwarn):
        cmdline.parse_command(
            "bbcrawl -pager vb4 -start 1 -end 2 -crawler file http://h.ex/t".split()
        )
        assert not [w for w in recwarn.list if "cookie-file" in str(w.message)]

    def test_output_dir_consumed(self, tmp_path):
        """-o (libcrawl/api.go:57-67): FSDirectory-validated, becomes the
        engine's warehouse/downloads root — no longer a silently-dead flag."""
        _, _, glob = cmdline.parse_command(
            f"bbcrawl -o {tmp_path} -pager vb4 -start 1 -end 2 "
            "-crawler file http://h.ex/t".split()
        )
        import os

        assert glob["output"] == os.path.abspath(str(tmp_path))

    def test_output_dir_must_exist(self, tmp_path):
        # the reference's FSDirectory rejects non-directories
        with pytest.raises(ValueError, match="is not a directory"):
            cmdline.parse_command(
                f"bbcrawl -o {tmp_path}/nope -pager vb4 -start 1 -end 2 "
                "-crawler file http://h.ex/t".split()
            )

    def test_loglevel_consumed_and_validated(self):
        _, _, glob = cmdline.parse_command(
            "bbcrawl -loglevel debug -pager vb4 -start 1 -end 2 "
            "-crawler file http://h.ex/t".split()
        )
        assert glob["loglevel"] == "DEBUG"
        assert cmdline.parse_loglevel("Warning") == "WARN"
        assert cmdline.parse_loglevel("panic") == "FATAL"
        with pytest.raises(ValueError, match="Invalid loglevel"):
            cmdline.parse_loglevel("loud")

    def test_output_dir_drives_module_cli_warehouse(self, tmp_path, spark):
        """`python -m bbcrawl_spark --bbcrawl ... -o DIR` crawls into DIR
        when --warehouse is omitted (the reference's output-dir behavior)."""
        import json
        import os

        from pyspark.sql import functions as F

        from bbcrawl_spark.__main__ import main
        from bbcrawl_spark.sources.boardsite import make_board_site

        site = make_board_site(hosts=1, boards=1, threads=1, pages_per_thread=2)
        pages = str(tmp_path / "pages")
        site.to_df(spark).write.parquet(pages)
        out = tmp_path / "outdir"
        out.mkdir()
        rc = main(
            ["--pages", pages, "--rounds", "2", "--bbcrawl", "-o", str(out),
             "-pager", "vb4", "-start", "1", "-end", "2", "-crawler",
             "vb-attachments", site.seeds[0][0]]
        )
        assert rc == 0
        # the crawl state landed under -o
        assert (out / "_rounds.json").exists()


class TestFlagValueTables:
    @pytest.mark.parametrize(
        "s,want", [("true", True), ("TRUE", True), ("False", False), ("fAlSe", False)]
    )
    def test_bool(self, s, want):
        assert cmdline.parse_bool(s) is want

    @pytest.mark.parametrize("s", ["yes", "1", "", "t"])
    def test_bool_rejects(self, s):
        with pytest.raises(ValueError, match="Invalid input for Boolean flag"):
            cmdline.parse_bool(s)

    def test_int_tuple(self):
        assert cmdline.parse_int_tuple("1, 2,3") == [1, 2, 3]

    @pytest.mark.parametrize(
        "s,want",
        [
            ("debug", "DEBUG"),
            ("info", "INFO"),
            ("notice", "INFO"),
            ("warning", "WARN"),
            ("error", "ERROR"),
            ("panic", "FATAL"),
            (" Warning ", "WARN"),
        ],
    )
    def test_loglevel(self, s, want):
        assert cmdline.parse_loglevel(s) == want

    @pytest.mark.parametrize("s", ["warn", "trace", ""])
    def test_loglevel_rejects(self, s):
        with pytest.raises(ValueError, match="Invalid loglevel"):
            cmdline.parse_loglevel(s)

    @pytest.mark.parametrize(
        "s,start,msg",
        [("0", 1, "0 is an invalid start page."), ("3", 5, r"End \(3\) is greater than start \(5\)\.")],
    )
    def test_end_page_rejects(self, s, start, msg):
        with pytest.raises(ValueError, match=msg):
            cmdline.parse_end_page(s, start)

    def test_start_page_rejects_zero(self):
        with pytest.raises(ValueError, match="0 is an invalid start page."):
            cmdline.parse_start_page("0")

    @pytest.mark.parametrize(
        "s,want",
        [
            ("http://a/x,http://b/y", ["http://a/x", "http://b/y"]),
            ("HTTP://A/x", ["http://A/x"]),  # only the scheme is case-folded
            ("http://a/x?q=1#f", ["http://a/x?q=1#f"]),
        ],
    )
    def test_url_collection(self, s, want):
        assert cmdline.parse_url_collection(s) == want

    @pytest.mark.parametrize(
        "s,ok", [("img,video", True), ("img", True), ("img,gif", False), ("", False)]
    )
    def test_whitelist(self, s, ok):
        wl = ["img", "audio", "video"]
        if ok:
            assert cmdline.parse_whitelist(s, ",", wl) == s.split(",")
        else:
            with pytest.raises(ValueError, match="not in whitelist"):
                cmdline.parse_whitelist(s, ",", wl)

    @pytest.mark.parametrize(
        "s,want",
        [
            ("class=a,b/id=x", {"class": ["a", "b"], "id": ["x"]}),
            ("k=", {"k": [""]}),
            ("k=a=b", {"k": ["a=b"]}),  # only the first '=' splits
            ("a\\/b=c", {"a/b": ["c"]}),  # escaped splitter stays in the key
        ],
    )
    def test_attrs(self, s, want):
        assert cmdline.parse_attrs(s) == want
