"""End-to-end crawl equivalence: Spark round loop vs sequential oracle
(FIXTURES.md §D; north_star equality criteria — exact crawl order, final
seen set, byte-identical text — plus deterministic resume)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from bbcrawl_spark import oracle
from bbcrawl_spark.operators.robots import parse_robots_txt
from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver
from bbcrawl_spark.sources.boardsite import make_board_site


@pytest.fixture(scope="module")
def site():
    return make_board_site(hosts=2, boards=2, threads=3, pages_per_thread=3)


@pytest.fixture(scope="module")
def pages_path(site, tmp_path_factory, spark):
    p = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    site.to_df(spark).write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="module")
def want(site):
    robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
    return oracle.crawl_oracle(
        pages=site.pages,
        seeds=site.seeds,
        budget=2,
        robots=robots,
        excludes=set(site.excludes),
        max_rounds=20,
    )


def _driver(spark, site, pages_path, wh_root, **kw):
    cfg = CrawlConfig(
        pages_path=pages_path,
        warehouse_root=str(wh_root),
        seeds=kw.pop("seeds", site.seeds),
        budget=kw.pop("budget", 2),
        max_rounds=kw.pop("max_rounds", 20),
        excludes=tuple(site.excludes),
        robots=kw.pop("robots", site.robots),
        **kw,
    )
    return CrawlDriver(spark, cfg)


@pytest.fixture(scope="module")
def run(spark, site, pages_path, tmp_path_factory):
    """One full default-config crawl, shared by all read-back assertions."""
    drv = _driver(spark, site, pages_path, tmp_path_factory.mktemp("wh_main"))
    summary = drv.run()
    return drv, summary


def _order(drv):
    return [(r["round"], r["url"]) for r in drv.crawl_order().orderBy("rank").collect()]


def _count_round_log_reads(drv, monkeypatch):
    calls = {"n": 0}
    real = drv.wh.round_log

    def counted():
        calls["n"] += 1
        return real()

    monkeypatch.setattr(drv.wh, "round_log", counted)
    return calls


class TestCrawlEquivalence:
    def test_done(self, run):
        assert run[1]["done"]

    def test_finished_rounds_parse_round_log_once(self, run, monkeypatch):
        """A finished crawl's ``rounds()`` yields nothing and reads the round
        log once beyond bootstrap's own check."""
        calls = _count_round_log_reads(run[0], monkeypatch)
        assert list(run[0].rounds()) == []
        assert calls["n"] == 2  # bootstrap + rounds

    def test_summary_parses_round_log_once(self, run, monkeypatch):
        calls = _count_round_log_reads(run[0], monkeypatch)
        assert run[0]._summary() == run[1]
        assert calls["n"] == 1

    def test_crawl_order_matches_oracle(self, run, want):
        assert _order(run[0]) == want.crawl_order

    def test_crawl_order_rank_is_long(self, run):
        # 10^10-row fetch logs overflow int32 — the rank must be a long or
        # offset+local-row-number silently wraps negative past 2^31.
        assert dict(run[0].crawl_order().dtypes)["rank"] == "bigint"

    def test_crawl_order_plan_has_no_global_window(self, run):
        # the former implementation ranked with Window.orderBy(...) and NO
        # partition key — every fetch_log row through one task; dead at scale
        plan = run[0].crawl_order()._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert "SinglePartition" not in plan, plan

    def test_crawl_order_numbers_rows_on_the_jvm(self, run, spark, want):
        # ranks come from monotonically_increasing_id over the checkpointed
        # range partitions: no Python numbering pass, and exact across
        # several partitions (AQE coalescing off keeps all of them)
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            df = run[0].crawl_order()
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows = df.orderBy("rank").collect()
        finally:
            spark.conf.set(key, old)
        assert "MapInPandas" not in plan, plan
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert [(r["round"], r["url"]) for r in rows] == want.crawl_order

    def test_seen_set_matches_oracle(self, run, want):
        got_seen = {r["url_hash"] for r in run[0].seen_set().collect()}
        assert got_seen == want.seen

    def test_text_byte_identical(self, run, want):
        got_texts = {r["url"]: r["text"] for r in run[0].fetched_texts().collect()}
        assert got_texts == want.texts

    def test_robots_and_excludes_enforced(self, run, site):
        urls = [r["url"] for r in run[0].crawl_order().collect()]
        assert all("/b0/secret" not in u for u in urls)
        assert all(u not in site.excludes for u in urls)

    def test_budget_enforced_every_round(self, run):
        per = (
            run[0]._last("fetch_log")
            .groupBy("round", "host")
            .agg(F.count("*").alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
        assert per <= 2

    def test_metrics_lineage(self, run, want):
        m = run[0].metrics().toPandas()
        assert set(m.columns) == {
            "round", "partition_id", "n_scheduled", "n_fetched", "n_new_links"
        }
        per_round = m.groupby("round")[
            ["n_scheduled", "n_fetched", "n_new_links"]
        ].sum().to_dict("index")
        for om in want.metrics:
            got = per_round.get(om["round"], {})
            for c in ("n_scheduled", "n_fetched", "n_new_links"):
                assert got.get(c, 0) == om[c], (om["round"], c)
        # one row per (round, partition) that saw any row, no all-zero rows
        assert not m.duplicated(["round", "partition_id"]).any()
        assert (m[["n_scheduled", "n_fetched", "n_new_links"]].sum(axis=1) > 0).all()

    def test_round_meta_from_snapshot_summaries(self, run, want):
        """The round meta's counts come from the snapshot summaries and
        equal the tables' rows; run_round runs no count job for them."""
        import inspect

        drv = run[0]
        log = drv.wh.round_log()
        for om in want.metrics:
            r = om["round"]
            meta, sids = log[str(r)]["meta"], log[str(r)]["tables"]
            assert meta["n_scheduled"] == om["n_scheduled"]
            assert meta["n_fetched"] == om["n_fetched"]
            assert meta["n_frontier_next"] == drv.wh.read(
                "frontier", sids["frontier"]).count()
            assert set(meta["added"]) == {
                "frontier", "seen", "fetch_log", "fetched", "metrics"
            }
            assert meta["added"]["fetch_log"]["added_rows"] == om["n_scheduled"]
            assert meta["added"]["seen"]["added_rows"] == om["n_scheduled"]
            for t, a in meta["added"].items():
                assert a["added_files"] >= 1 and a["added_bytes"] > 0, (r, t)
            assert "bloom" not in meta
        assert ".count()" not in inspect.getsource(CrawlDriver.run_round)

    def test_bloom_path_identical(self, spark, site, pages_path, tmp_path, want):
        drv = _driver(spark, site, pages_path, tmp_path / "whb", bloom_partitions=4)
        drv.run()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        # the round meta keeps update_partitioned_bloom's partition stats:
        # every pid of the round's Bloom manifest, each under one op
        from bbcrawl_spark.operators import dedup

        log = drv.wh.round_log()
        for k in (k for k in log if int(k) >= 0):
            stats = log[k]["meta"]["bloom"]
            assert set(stats) == {"updated", "built", "rebuilt", "carried"}
            manifest = dedup._read_manifest(log[k]["tables"]["bloom_dir"])
            assert sorted(sum(stats.values(), [])) == sorted(manifest)

    def test_salted_politeness_identical(self, spark, site, pages_path, tmp_path, want):
        drv = _driver(spark, site, pages_path, tmp_path / "whs", salt_partitions=4)
        drv.run()
        assert _order(drv) == want.crawl_order

    def test_input_hint_columns_only(
        self, spark, site, pages_path, tmp_path, want, monkeypatch
    ):
        """A pages table with only the ``input_hint`` columns crawls like the
        full one: its optional columns take their defaults when it is read,
        and the literal redirect count folds the redirect cap out of the
        plan (the full table's plan keeps it)."""
        hint = str(tmp_path / "hint.parquet")
        spark.read.parquet(pages_path).select(
            "url", "warc_ts", "html", "text", "lang"
        ).write.parquet(hint)
        plans = _fetch_plans(monkeypatch, spark)
        drv = _driver(spark, site, hint, tmp_path / "whi")
        drv.run()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        assert {r["url"]: r["text"] for r in drv.fetched_texts().collect()} == want.texts
        assert plans and not any(_redirect_filter(p) for p in plans)
        assert all("ReadSchema: struct<url:string,html:binary>" in p for p in plans)

        plans.clear()
        full = _driver(spark, site, pages_path, tmp_path / "whf")
        full.bootstrap()
        full.run_round(0)
        assert plans and all(_redirect_filter(p) for p in plans)


def _fetch_plans(monkeypatch, spark) -> list[str]:
    """Collects the plan of every persisted frame that reads the pages
    table (a round's ``fetched``): optimized logical plan, then physical."""
    plans: list[str] = []
    cls = type(spark.range(1))
    persist = cls.persist

    def recorded(df, *a, **kw):
        qe = df._jdf.queryExecution()
        plan = f"{qe.optimizedPlan()}\n{qe.executedPlan()}"
        if "html" in plan:
            plans.append(plan)
        return persist(df, *a, **kw)

    monkeypatch.setattr(cls, "persist", recorded)
    return plans


def _redirect_filter(plan: str) -> bool:
    return any(
        "Filter" in line and "n_redirects" in line for line in plan.splitlines()
    )


FILE_NAME_URLS = [
    "http://h.ex/a/report.pdf", "http://h.ex/a/x%20y.pdf",
    "http://h.ex/a/a%2Fb.jpg", "http://h.ex/a/f+g.zip",
    "http://h.ex/a/f%2Bg.zip", "http://h.ex/a/%C3%A4.jpg",
    "http://h.ex/a/", "http://h.ex/a/f.zip?x=1",
]


class TestFileCrawlerNames:
    """Download names come from the decoded url.Path ('+' literal), as in
    ``extract.file_crawler_name``."""

    @pytest.fixture(scope="class")
    def names(self, spark, site, pages_path, tmp_path_factory):
        drv = _driver(
            spark, site, pages_path, tmp_path_factory.mktemp("whn"),
            crawler="file", follow_links=False, budget=len(FILE_NAME_URLS),
            robots={}, seeds=[(u, i, 0, 3) for i, u in enumerate(FILE_NAME_URLS)],
        )
        drv.run()
        return {r["page_url"]: r["out_name"] for r in drv.downloads().collect()}

    def test_every_url_downloaded(self, names):
        assert sorted(names) == sorted(FILE_NAME_URLS)

    @pytest.mark.parametrize("url", FILE_NAME_URLS)
    def test_name_matches_twin(self, names, url):
        from bbcrawl_spark import extract

        assert names[url] == extract.file_crawler_name(url, 3)


class TestCrawlerFamilies:
    def test_vb_downloads_table(self, spark, site, pages_path, tmp_path, want):
        """crawler='vb-attachments' emits the downloads table the reference
        would have fetched — byte-identical naming per fetched page."""
        from bbcrawl_spark import extract
        from bbcrawl_spark.htmlkit import decode_html

        drv = _driver(spark, site, pages_path, tmp_path / "whd", crawler="vb-attachments")
        drv.run()
        got = {
            (r["page_url"], r["post_id"], r["att_id"]): r["out_name"]
            for r in drv.downloads().filter("err = ''").collect()
        }
        expected = {}
        for url in want.texts:  # = exactly the fetched pages
            html = decode_html(site.pages[url], "text/html; charset=utf-8")
            for f in extract.extract_vb_attachments(html, url):
                if not f.err:
                    expected[(url, f.post_id, f.att_id)] = f.out_name
        assert got == expected
        assert len(expected) > 0

    def test_vb_headernames_downloads(self, spark, tmp_path):
        """-names-from-header end-to-end: '{postid}-{attid}' prefixes are
        completed from each attachment URL's Content-Disposition header
        (afterdownload.go:27-46), with the reference's two error classes for
        missing vs malformed headers — matched against the pure-Python twin."""
        from bbcrawl_spark import extract
        from bbcrawl_spark.htmlkit import decode_html
        from bbcrawl_spark.operators.robots import parse_robots_txt

        hsite = make_board_site(
            hosts=1, boards=2, threads=2, pages_per_thread=2, attachment_pages=True
        )
        pages_path = str(tmp_path / "hpages.parquet")
        hsite.to_df(spark).write.mode("overwrite").parquet(pages_path)
        robots = {h: parse_robots_txt(t) for h, t in hsite.robots.items()}
        want = oracle.crawl_oracle(
            pages=hsite.pages, seeds=hsite.seeds, budget=2, robots=robots,
            excludes=set(hsite.excludes), max_rounds=20,
        )
        drv = _driver(
            spark, hsite, pages_path, tmp_path / "whh",
            crawler="vb-attachments", headernames=True,
        )
        drv.run()
        got = {
            (r["page_url"], r["post_id"], r["att_id"]): (r["out_name"], r["err"])
            for r in drv.downloads().collect()
        }
        expected = {}
        for url in want.texts:
            if "/att/" in url:
                continue  # attachment blobs carry no posts div
            html = decode_html(hsite.pages[url], "text/html; charset=utf-8")
            for f in extract.extract_vb_attachments(html, url, headernames=True):
                if f.err:
                    expected[(url, f.post_id, f.att_id)] = ("", f.err)
                else:
                    name, err = extract.complete_headername(
                        f.out_name, hsite.headers.get(f.abs_url)
                    )
                    expected[(url, f.post_id, f.att_id)] = (name, err)
        assert got == expected
        # the fixture must exercise all three branches
        names = [v[0] for v in expected.values()]
        errs = [v[1] for v in expected.values()]
        assert any(n for n in names), "no completed header name in fixture"
        assert any(e == extract.NO_HEADER_FIELD_ERR for e in errs)
        assert any(e.startswith("malformed filename") for e in errs)

    def test_file_crawler_downloads(self, spark, site, pages_path, tmp_path):
        drv = _driver(
            spark, site, pages_path, tmp_path / "whf",
            crawler="file", follow_links=False,
        )
        drv.run()
        rows = drv.downloads().collect()
        # every scheduled seed is one download named "{page} - {name}"
        assert {r["page_url"] for r in rows} == {u for u, _, _ in site.seeds}
        for r in rows:
            assert r["out_name"].startswith(f"{r['page_num']} - ")


class TestCharsetAndRedirects:
    def _site_run(self, spark, tmp_path, name, want_kw=None, drv_kw=None, **site_kw):
        hsite = make_board_site(hosts=2, boards=2, threads=2, pages_per_thread=3, **site_kw)
        pages_path = str(tmp_path / f"{name}.parquet")
        hsite.to_df(spark).write.mode("overwrite").parquet(pages_path)
        robots = {h: parse_robots_txt(t) for h, t in hsite.robots.items()}
        want = oracle.crawl_oracle(
            pages=hsite.pages, seeds=hsite.seeds, budget=2, robots=robots,
            excludes=set(hsite.excludes), max_rounds=20, **(want_kw or {}),
        )
        drv = _driver(spark, hsite, pages_path, tmp_path / f"wh_{name}", **(drv_kw or {}))
        drv.run()
        return hsite, want, drv

    def test_mixed_charset_byte_identical(self, spark, tmp_path):
        """F10 end-to-end: cp1252 (Content-Type), BOM'd UTF-8 and
        <meta charset> pages, umlaut text — extracted text byte-identical
        to the oracle through the whole crawl loop."""
        hsite, want, drv = self._site_run(
            spark, tmp_path, "cs", charset_mix=True,
            want_kw={"content_types": None},  # placeholder, replaced below
        )
        # rebuild the oracle WITH content_types (self._site_run default has none)
        robots = {h: parse_robots_txt(t) for h, t in hsite.robots.items()}
        want = oracle.crawl_oracle(
            pages=hsite.pages, seeds=hsite.seeds, budget=2, robots=robots,
            excludes=set(hsite.excludes), max_rounds=20,
            content_types=hsite.content_types,
        )
        got_texts = {r["url"]: r["text"] for r in drv.fetched_texts().collect()}
        assert got_texts == want.texts
        # the fixture must actually exercise non-UTF-8 text
        assert any("Grüße" in t for t in got_texts.values())
        assert _order(drv) == want.crawl_order

    @pytest.mark.parametrize("allow", [True, False])
    def test_redirect_policy_in_gates(self, spark, tmp_path, allow):
        """P6: Log (cap 10) vs Deny (any redirect) gate fetches in the round
        loop; blocked pages stay seen but yield no text/links — matched
        against the oracle under the same policy."""
        hsite, want, drv = self._site_run(
            spark, tmp_path, f"rd{int(allow)}", redirect_pages=True,
            want_kw={"redirects": None, "allow_redirect": allow},
            drv_kw={"allow_redirect": allow},
        )
        robots = {h: parse_robots_txt(t) for h, t in hsite.robots.items()}
        want = oracle.crawl_oracle(
            pages=hsite.pages, seeds=hsite.seeds, budget=2, robots=robots,
            excludes=set(hsite.excludes), max_rounds=20,
            redirects=hsite.redirects, allow_redirect=allow,
        )
        got_texts = {r["url"]: r["text"] for r in drv.fetched_texts().collect()}
        assert got_texts == want.texts
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        blocked_12 = "http://forum0.example/b1/t1"  # (b,t,p)=(1,1,1), n=12
        assert blocked_12 not in got_texts
        log_only = "http://forum0.example/b1/t0/page2"  # n=3
        if allow:
            # Log policy: 3 redirects pass (page is reachable via links)
            assert hsite.redirects[log_only] == 3
        else:
            assert log_only not in got_texts


class TestSeedPageNum:
    def test_pager_page_num_carried_into_seed_frontier(self, spark, tmp_path):
        """Query-pager seeds (?page=N) have no '/pageN' suffix; the pager's
        PageNum() must ride into the frontier, not a re-derived 0
        (pagers.go:49-51 — PageNum is the crawler's naming/order input)."""
        from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver

        seeds = [(f"http://h.ex/f?page={p}", p - 1, 0, p) for p in (1, 2, 3)]
        cfg = CrawlConfig(
            pages_path=str(tmp_path / "nopages"), warehouse_root=str(tmp_path / "wh"),
            seeds=seeds,
        )
        drv = CrawlDriver(spark, cfg)
        drv.bootstrap()
        rows = {r["url"]: r["page_num"] for r in drv._pinned(-1, "frontier").collect()}
        assert rows == {f"http://h.ex/f?page={p}": p for p in (1, 2, 3)}

    def test_three_tuple_seeds_still_derive(self, spark, tmp_path):
        from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver

        cfg = CrawlConfig(
            pages_path=str(tmp_path / "nopages"), warehouse_root=str(tmp_path / "wh2"),
            seeds=[("http://h.ex/t/page7", 0, 0), ("http://h.ex/f?page=3", 1, 0)],
        )
        drv = CrawlDriver(spark, cfg)
        drv.bootstrap()
        rows = {r["url"]: r["page_num"] for r in drv._pinned(-1, "frontier").collect()}
        assert rows["http://h.ex/t/page7"] == 7
        assert rows["http://h.ex/f?page=3"] == 0  # heuristic: suffix only


class TestCliPageNum:
    def test_query_pager_page_num_drives_src_names(self, spark, tmp_path):
        """Full CLI path: with a query pager (?page=N) the src-crawler output
        names must be '{pager_page}-{fileid}.{suffix}' — before the fix every
        seed re-derived page_num 0 from the URL (no '/pageN' suffix) and the
        reference's names (pagers.go:49-51) were wrong."""
        from bbcrawl_spark.__main__ import main
        from bbcrawl_spark.sources.warehouse import Warehouse

        rows = []
        for p in (1, 2, 3):
            url = f"http://gal.example/view?page={p}"
            html = f'<html><body><img src="/pics/img{p}.jpg"></body></html>'
            rows.append((url, html.encode()))
        pages = str(tmp_path / "pages.parquet")
        spark.createDataFrame(rows, "url string, html binary").write.parquet(pages)
        wh = str(tmp_path / "wh")
        rc = main([
            "--pages", pages, "--warehouse", wh, "--no-follow-links",
            "--bbcrawl", "-pager", "query", "-start", "1", "-end", "3",
            "-crawler", "src", "-tags", "img", "http://gal.example/view",
        ])
        assert rc == 0
        w = Warehouse(spark, wh)
        got = {
            r["page_url"]: (r["page_num"], r["out_name"])
            for r in w.read("downloads").collect()
        }
        assert got == {
            f"http://gal.example/view?page={p}": (p, f"{p}-1.jpg") for p in (1, 2, 3)
        }


class TestResume:
    def test_kill_and_resume_identical_final_state(
        self, spark, site, pages_path, tmp_path, want
    ):
        wh = tmp_path / "whr"
        d1 = _driver(spark, site, pages_path, wh)
        d1.run(max_rounds=2)  # stop mid-crawl ("kill")
        assert d1.wh.last_committed_round() == 1
        d2 = _driver(spark, site, pages_path, wh)  # fresh driver resumes
        summary = d2.run()
        assert summary["done"]
        assert _order(d2) == want.crawl_order
        assert {r["url_hash"] for r in d2.seen_set().collect()} == want.seen

    @pytest.mark.parametrize("first_partitions", [0, 4, 8])
    def test_kill_and_resume_with_incremental_bloom(
        self, spark, site, pages_path, tmp_path, want, first_partitions
    ):
        """Resume must continue the incremental Bloom chain from the
        round-log-pinned bloom_dir (manifest pointers across round dirs)
        when its partition count matches, and otherwise build the Bloom
        from the whole seen table: a delta alone, or pids of another
        ``url_hash mod P``, would let seen urls back into the frontier."""
        wh = tmp_path / "whrb"
        d1 = _driver(spark, site, pages_path, wh, bloom_partitions=first_partitions)
        d1.run(max_rounds=2)
        d2 = _driver(spark, site, pages_path, wh, bloom_partitions=8)
        d2.run()
        assert _order(d2) == want.crawl_order
        assert {r["url_hash"] for r in d2.seen_set().collect()} == want.seen

    def test_crash_mid_round_resume_identical(
        self, spark, site, pages_path, tmp_path, want
    ):
        """Crash AFTER some snapshot writes but BEFORE the round commit:
        the orphan snapshots must be invisible to resume (round-log pinning)
        and the final state identical to an uninterrupted run."""
        wh = tmp_path / "whc"
        d1 = _driver(spark, site, pages_path, wh)
        d1.run(max_rounds=2)
        # simulate a crashed round 2: tables written, commit_round never ran
        junk = spark.createDataFrame(
            [("http://junk.example/x", 1, "junk.example", 0, 0, 0, 1)],
            "url string, url_hash long, host string, priority int, "
            "page_num int, seed_id long, discovered_in int",
        )
        d1.wh.write("frontier", junk)  # orphan overwrite snapshot
        d1.wh.append("seen", junk.select("url_hash"))  # orphan append
        assert d1.wh.last_committed_round() == 1  # commit barrier intact
        d2 = _driver(spark, site, pages_path, wh)
        d2.run()
        got_order = [
            (r["round"], r["url"]) for r in d2.crawl_order().orderBy("rank").collect()
        ]
        assert got_order == want.crawl_order
        assert {r["url_hash"] for r in d2.seen_set().collect()} == want.seen

    def test_maintenance_crawl_identical_and_bounded_dirs(
        self, spark, site, pages_path, tmp_path, want
    ):
        """Compaction + expiry on (the 100s-of-rounds reader-fanout defense):
        the crawl result is identical, the seen table reads through O(compact
        _every) dirs instead of O(rounds), pre-retention snapshots and stale
        bloom round dirs are gone from disk."""
        import os

        wh = tmp_path / "whm"
        drv = _driver(
            spark, site, pages_path, wh,
            bloom_partitions=4, compact_every=2, expire_keep_rounds=1,
        )
        summary = drv.run()
        assert summary["done"]
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        last = drv.wh.last_committed_round()
        assert last >= 3  # maintenance actually cycled
        # bounded read fan-out: current seen chain ≤ compact_every dirs
        man = drv.wh._manifest("seen")
        cur_dirs = man["snapshots"][man["current"]]["dirs"]
        assert len(cur_dirs) <= 2
        # compaction bounds the real fan-out: every round-bearing table's
        # current snapshot keeps its parquet files in ≤ compact_every leaf dirs
        for t in ("fetch_log", "fetched", "metrics"):
            tm = drv.wh._manifest(t)
            leaves = {
                d
                for root in tm["snapshots"][tm["current"]]["dirs"]
                for d, _, fs in os.walk(root)
                if any(f.endswith(".parquet") for f in fs)
            }
            assert 0 < len(leaves) <= 2, (t, sorted(leaves))
        # pre-retention snapshots expired (round 0's pin no longer readable)
        old_sid = drv.wh.round_snapshot(0, "seen")
        assert old_sid not in man["snapshots"]
        # stale bloom round dirs deleted; kept manifests resolve only live blobs
        bloom_base = os.path.join(str(wh), "bloom")
        from bbcrawl_spark.operators import dedup as _dedup

        kept_bloom = drv.wh.round_snapshot(last, "bloom_dir")
        for e in _dedup._read_manifest(kept_bloom).values():
            assert os.path.exists(e["path"])
        assert len(os.listdir(bloom_base)) <= last + 1

    def test_resume_after_expiry_identical(
        self, spark, site, pages_path, tmp_path, want
    ):
        """Kill mid-crawl with maintenance on — the expiry has already
        deleted pre-resume snapshots — then resume from the round-log pins."""
        wh = tmp_path / "whme"
        d1 = _driver(
            spark, site, pages_path, wh,
            bloom_partitions=4, compact_every=2, expire_keep_rounds=1,
        )
        d1.run(max_rounds=2)
        assert d1.wh.last_committed_round() == 1
        # round 0's snapshots are expired by now
        assert d1.wh.round_snapshot(0, "seen") not in d1.wh._manifest("seen")["snapshots"]
        d2 = _driver(
            spark, site, pages_path, wh,
            bloom_partitions=4, compact_every=2, expire_keep_rounds=1,
        )
        summary = d2.run()
        assert summary["done"]
        assert _order(d2) == want.crawl_order
        assert {r["url_hash"] for r in d2.seen_set().collect()} == want.seen

    def test_rerun_after_done_is_noop(self, run, spark, site, pages_path):
        drv, s1 = run
        d2 = _driver(spark, site, pages_path, drv.cfg.warehouse_root)
        s2 = d2.run()
        assert s1 == s2


class TestRobotsFullE2E:
    def test_full_rep_crawl_identical_to_oracle(
        self, spark, site, pages_path, tmp_path
    ):
        """Default config: an Allow carve-out under a Disallow and a '*'
        wildcard flow through the round loop and match the sequential
        oracle exactly (crawl order + seen set)."""
        robots_txts = {
            # block board 1 except thread 0 — the cross-board entry link
            # targets t0, so the carve-out is reachable while its sibling
            # threads (linked only FROM t0's pages) stay blocked
            "forum0.example": "User-agent: *\nDisallow: /b1\nAllow: /b1/t0\n"
            "Disallow: /b0/secret\n",
            # wildcard: block thread 2 on EVERY board of host 1
            "forum1.example": "User-agent: *\nDisallow: /b*/t2\n"
            "Disallow: /b0/secret\n",
        }
        rules = {h: parse_robots_txt(t) for h, t in robots_txts.items()}
        want = oracle.crawl_oracle(
            pages=site.pages,
            seeds=site.seeds,
            budget=2,
            robots=rules,
            excludes=set(site.excludes),
            max_rounds=20,
        )
        cfg = CrawlConfig(
            pages_path=pages_path,
            warehouse_root=str(tmp_path / "wh_rf"),
            seeds=site.seeds,
            budget=2,
            max_rounds=20,
            excludes=tuple(site.excludes),
            robots=robots_txts,
        )
        drv = CrawlDriver(spark, cfg)
        drv.run()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        urls = [u for _, u in want.crawl_order]
        # the carve-out is reachable, its siblings are not (non-vacuous)
        assert any("forum0.example/b1/t0" in u for u in urls)
        assert not any("forum0.example/b1/t1" in u for u in urls)
        assert not any("forum0.example/b1/t2" in u for u in urls)
        assert not any("forum1.example" in u and "/t2" in u for u in urls)

    def test_mixed_case_host_and_agent(self, spark, site, pages_path, tmp_path):
        """Host keys and User-agent tokens match case-insensitively in the
        engine and the oracle alike: rules and the Crawl-delay budget of
        'Forum0.Example' apply to forum0.example urls."""
        robots_txts = {
            "Forum0.Example": "User-agent: BbCrawl\nDisallow: /b1\n"
            "Crawl-delay: 45\n",
        }
        want = oracle.crawl_oracle(
            pages=site.pages,
            seeds=site.seeds,
            budget=2,
            robots={h: parse_robots_txt(t, "bbcrawl") for h, t in robots_txts.items()},
            host_budgets={"Forum0.Example": 1},
            excludes=set(site.excludes),
            max_rounds=20,
        )
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages_path,
            warehouse_root=str(tmp_path / "wh_case"),
            seeds=site.seeds,
            budget=2,
            max_rounds=20,
            excludes=tuple(site.excludes),
            robots=robots_txts,
            user_agent="bbcrawl",
            crawl_delay_round_seconds=60.0,
        ))
        drv.run()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        urls = [u for _, u in want.crawl_order]
        assert any("forum0.example/b0" in u for u in urls)
        assert not any("forum0.example/b1" in u for u in urls)
        per_round = Counter(r for r, u in want.crawl_order if "forum0.example" in u)
        assert max(per_round.values()) == 1

    def test_small_dims_are_local_relations(self, spark, site, pages_path, tmp_path):
        """The excludes, robots rules and Crawl-delay budgets tables plan as
        LocalTableScan, so broadcasting them each round runs no Spark job."""
        robots_txts = dict(site.robots)
        robots_txts["forum1.example"] += "Crawl-delay: 45\n"
        assert site.excludes
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages_path,
            warehouse_root=str(tmp_path / "wh_dims"),
            seeds=site.seeds,
            excludes=tuple(site.excludes),
            robots=robots_txts,
            crawl_delay_round_seconds=60.0,
        ))
        for df in (drv._excludes_df, drv._robots_df, drv._host_budgets_df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.startswith("LocalTableScan"), plan


class TestStreamingAdapter:
    """§2.11: ``CrawlDriver.rounds`` drives the same rounds with the same
    commit barrier — including a mid-stream kill + resume — and can be wired
    into a real Structured Streaming foreachBatch trigger."""

    @pytest.fixture()
    def msite(self):
        return make_board_site(hosts=1, boards=1, threads=2, pages_per_thread=2)

    def test_generator_rounds_with_midstream_resume(
        self, spark, msite, tmp_path
    ):
        pages = str(tmp_path / "pages")
        msite.to_df(spark).write.parquet(pages)
        robots = {h: parse_robots_txt(t) for h, t in msite.robots.items()}
        want = oracle.crawl_oracle(
            pages=msite.pages, seeds=msite.seeds, budget=2,
            robots=robots, excludes=set(msite.excludes), max_rounds=20,
        )

        def mk():
            return CrawlDriver(spark, CrawlConfig(
                pages_path=pages, warehouse_root=str(tmp_path / "wh"),
                seeds=msite.seeds, budget=2, max_rounds=20,
                excludes=tuple(msite.excludes), robots=msite.robots,
            ))

        gen = mk().rounds()
        first = next(gen)  # one micro-batch, then 'kill' the stream
        assert first["round"] == 0
        metas = list(mk().rounds())  # new driver resumes
        assert metas and metas[-1]["done"]
        assert [m["round"] for m in metas][0] == 1  # no round re-ran
        drv = mk()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen

    def test_foreachbatch_trigger_drives_rounds(self, spark, msite, tmp_path):
        """A real readStream rate source triggers the crawl: each streaming
        micro-batch advances one round via the driver's round generator."""
        pages = str(tmp_path / "pages")
        msite.to_df(spark).write.parquet(pages)
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages, warehouse_root=str(tmp_path / "whs"),
            seeds=msite.seeds, budget=2, max_rounds=20,
            excludes=tuple(msite.excludes), robots=msite.robots,
        ))
        gen = drv.rounds()
        done = {"v": False}

        def one_round(_df, _bid):
            if not done["v"]:
                meta = next(gen, None)
                if meta is None or meta["done"]:
                    done["v"] = True

        q = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.foreachBatch(one_round)
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            import time as _t

            deadline = _t.time() + 120
            while not done["v"] and _t.time() < deadline:
                _t.sleep(0.5)
        finally:
            q.stop()
        assert done["v"], "stream never finished the crawl"
        robots = {h: parse_robots_txt(t) for h, t in msite.robots.items()}
        want = oracle.crawl_oracle(
            pages=msite.pages, seeds=msite.seeds, budget=2,
            robots=robots, excludes=set(msite.excludes), max_rounds=20,
        )
        assert _order(drv) == want.crawl_order


class TestCrawlDelayE2E:
    def test_crawl_delay_budgets_flow_through_rounds(self, spark, tmp_path):
        """crawl_delay_round_seconds>0: a host with Crawl-delay gets a
        reduced per-round budget, engine ≡ oracle on order and seen set."""
        from bbcrawl_spark.operators.robots import (
            crawl_delay_budgets, parse_robots_txt,
        )

        site = make_board_site(hosts=2, boards=2, threads=3, pages_per_thread=2)
        # host 1 asks for 45s between fetches; at 60s rounds that is budget 1
        site.robots["forum1.example"] += "Crawl-delay: 45\n"
        pages = str(tmp_path / "pages")
        site.to_df(spark).write.parquet(pages)

        robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
        hb = {
            r["host"]: r["budget"]
            for r in crawl_delay_budgets(spark, site.robots, 2, 60.0).collect()
        }
        assert hb == {"forum1.example": 1}  # non-vacuous override
        want = oracle.crawl_oracle(
            pages=site.pages, seeds=site.seeds, budget=2,
            robots=robots, excludes=set(site.excludes),
            host_budgets=hb, max_rounds=30,
        )
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages, warehouse_root=str(tmp_path / "wh"),
            seeds=site.seeds, budget=2, max_rounds=30,
            excludes=tuple(site.excludes), robots=site.robots,
            crawl_delay_round_seconds=60.0,
        ))
        drv.run()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        # the delayed host never exceeds 1 fetch in any round
        per = (
            drv._last("fetch_log")
            .filter(F.col("host") == "forum1.example")
            .groupBy("round").agg(F.count("*").alias("n"))
            .agg(F.max("n")).first()[0]
        )
        assert per == 1

    def test_crawl_delay_composes_with_salted_politeness(self, spark, tmp_path):
        """Round-4 fix: Crawl-delay budgets no longer exclude the salted
        ranker — the hot-host skew defense and Crawl-delay honoring run in
        the SAME crawl, still byte-identical to the sequential oracle."""
        from bbcrawl_spark.operators.robots import (
            crawl_delay_budgets, parse_robots_txt,
        )

        site = make_board_site(hosts=2, boards=2, threads=3, pages_per_thread=2)
        site.robots["forum1.example"] += "Crawl-delay: 45\n"
        pages = str(tmp_path / "pages")
        site.to_df(spark).write.parquet(pages)

        robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
        hb = {
            r["host"]: r["budget"]
            for r in crawl_delay_budgets(spark, site.robots, 2, 60.0).collect()
        }
        assert hb == {"forum1.example": 1}
        want = oracle.crawl_oracle(
            pages=site.pages, seeds=site.seeds, budget=2,
            robots=robots, excludes=set(site.excludes),
            host_budgets=hb, max_rounds=30,
        )
        drv = CrawlDriver(spark, CrawlConfig(
            pages_path=pages, warehouse_root=str(tmp_path / "wh"),
            seeds=site.seeds, budget=2, max_rounds=30,
            excludes=tuple(site.excludes), robots=site.robots,
            crawl_delay_round_seconds=60.0, salt_partitions=4,
        ))
        drv.run()
        assert _order(drv) == want.crawl_order
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen


# u and u#frag share a url_hash; budget 1 splits the pair, so a frontier
# that kept both would defer one while the other enters seen
DUP_SEEDS = [
    ("http://forum0.example/b0/t0", 0, 0),
    ("http://forum0.example/b0/t0#frag", 1, 0),
    ("http://forum1.example/b0/t0", 2, 0),
]


class TestFrontierInvariant:
    """Every committed frontier is unique by url_hash and disjoint from the
    round's seen snapshot, so a round needs no seen gate over it."""

    @pytest.mark.parametrize("case", [
        "default", "bloom", "salted_compacted", "crawl_delay", "dup_seeds",
    ])
    def test_frontier_unique_and_unseen(self, spark, site, pages_path, tmp_path, case):
        # forum1 asks for 45 s between fetches: budget 1 at 60 s rounds
        delayed = {**site.robots, "forum1.example": site.robots["forum1.example"]
                   + "Crawl-delay: 45\n"}
        kw = {
            "default": {},
            "bloom": {"bloom_partitions": 4},
            "salted_compacted": {"salt_partitions": 4, "compact_every": 2},
            "crawl_delay": {"robots": delayed, "crawl_delay_round_seconds": 60.0},
            "dup_seeds": {"seeds": DUP_SEEDS, "budget": 1, "max_rounds": 6},
        }[case]
        drv = _driver(spark, site, pages_path, tmp_path / "wh", **kw)
        drv.run()
        log = drv.wh.round_log()
        assert len(log) > 2
        for k, entry in log.items():
            tables = entry["tables"]
            frontier = [x["url_hash"] for x in drv.wh.read(
                "frontier", tables["frontier"]).select("url_hash").collect()]
            seen = {x["url_hash"] for x in drv.wh.read(
                "seen", tables["seen"]).collect()}
            assert len(frontier) == len(set(frontier)), (case, k)
            assert not set(frontier) & seen, (case, k)

    def test_duplicate_hash_seeds_match_oracle(self, spark, site, pages_path, tmp_path):
        robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
        want = oracle.crawl_oracle(
            pages=site.pages, seeds=DUP_SEEDS, budget=1, robots=robots,
            excludes=set(site.excludes), max_rounds=6,
        )
        drv = _driver(spark, site, pages_path, tmp_path / "wh",
                      seeds=DUP_SEEDS, budget=1, max_rounds=6)
        drv.run()
        assert _order(drv) == want.crawl_order
        # the pair is scheduled once, as the seed with the lower seed_id
        assert sorted(u for r, u in want.crawl_order if r == 0) == [
            "http://forum0.example/b0/t0", "http://forum1.example/b0/t0",
        ]
        assert {r["url_hash"] for r in drv.seen_set().collect()} == want.seen
        got_texts = {r["url"]: r["text"] for r in drv.fetched_texts().collect()}
        assert got_texts == want.texts


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _scans_seen(node) -> bool:
    """A logical or physical scan of the seen table."""
    return node.getClass().getSimpleName() in ("LogicalRelation", "FileSourceScanExec") and (
        "/seen/data/" in node.relation().location().rootPaths().toString()
    )


def _bloom_udf_over_seen_scan(df) -> bool:
    """True when an ArrowEvalPython node (the Bloom UDF) sits above a scan
    of the seen table in ``df``'s optimized plan."""
    return any(
        node.nodeName() == "ArrowEvalPython" and any(map(_scans_seen, _plan_nodes(node)))
        for node in _plan_nodes(df._jdf.queryExecution().optimizedPlan())
    )


def _exchange_over_seen(df) -> bool:
    """True when a shuffle exchange sits above a scan of the seen table in
    ``df``'s physical plan (for AQE, its current plan: before it runs, the
    initial plan with its exchanges)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return any(
        node.nodeName() == "Exchange" and any(map(_scans_seen, _plan_nodes(node)))
        for node in _plan_nodes(plan)
    )


class TestOneSeenCheck:
    """A round checks seen-membership once: its own discovered links, with
    the Bloom when it is on, against the seen set that already holds the
    round's scheduled urls."""

    def test_one_check_per_round_on_its_links(
        self, spark, site, pages_path, tmp_path, want, monkeypatch
    ):
        from bbcrawl_spark.operators import dedup

        calls = []
        orig = dedup.dedup_against_seen

        def spy(candidates, seen, bloom=None, **kw):
            calls.append({
                x["discovered_in"]
                for x in candidates.select("discovered_in").distinct().collect()
            })
            return orig(candidates, seen, bloom, **kw)

        monkeypatch.setattr(dedup, "dedup_against_seen", spy)
        drv = _driver(spark, site, pages_path, tmp_path / "wh", bloom_partitions=4)
        checked = []
        for meta in drv.rounds():
            assert len(calls) == 1, (meta["round"], calls)
            checked.append(calls.pop())
        assert checked[:3] == [{0}, {1}, {2}]
        assert all(c <= {r} for r, c in enumerate(checked)), checked
        assert _order(drv) == want.crawl_order

    def test_no_bloom_udf_over_the_seen_scan(
        self, spark, site, pages_path, tmp_path, monkeypatch
    ):
        """The Bloom seen check never runs the Bloom UDF over the seen scan
        nor shuffles seen, and a round whose links are all Bloom-negative
        gets back its links' own plan: seen is not read at all."""
        from bbcrawl_spark.operators import dedup

        rounds = []
        orig = dedup.dedup_against_seen

        def spy(candidates, seen, bloom=None, **kw):
            assert bloom is not None
            out = orig(candidates, seen, bloom, **kw)
            n_maybe = dedup.bloom_maybe_seen(candidates, bloom).filter("maybe_seen").count()
            reads_seen = any(map(_scans_seen, _plan_nodes(
                out._jdf.queryExecution().optimizedPlan()
            )))
            assert not _bloom_udf_over_seen_scan(out)
            assert not _exchange_over_seen(out)
            assert (out is candidates) == (n_maybe == 0)
            rounds.append((n_maybe, reads_seen))
            return out

        monkeypatch.setattr(dedup, "dedup_against_seen", spy)
        drv = _driver(spark, site, pages_path, tmp_path / "wh", bloom_partitions=4)
        # seen as if too large to broadcast: a plain anti-join would shuffle it
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            drv.run()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert rounds and not any(reads for _, reads in rounds), rounds
        assert any(n == 0 for n, _ in rounds) and any(n > 0 for n, _ in rounds), rounds
