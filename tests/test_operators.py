"""Dedup (Bloom + seen probe), politeness windows, robots, priority
(SURVEY.md §2.3-2.7)."""

from __future__ import annotations

import random
import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from bbcrawl_spark import urlkit
from bbcrawl_spark.operators import dedup, politeness, priority, robots

from .conftest import spark_jobs


@pytest.fixture(scope="module")
def tmp_bloom_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("bloom"))


def _url_df(spark, urls):
    return spark.createDataFrame(
        [(u, urlkit.url_hash(u)) for u in urls], "url string, url_hash long"
    )


def _scans(df, path: str) -> bool:
    """True when ``df``'s optimized plan reads the parquet dir ``path``."""

    def nodes(n):
        yield n
        for i in range(n.children().size()):
            yield from nodes(n.children().apply(i))

    return any(
        n.getClass().getSimpleName() == "LogicalRelation"
        and path in n.relation().location().rootPaths().toString()
        for n in nodes(df._jdf.queryExecution().optimizedPlan())
    )


def _shuffles(df) -> bool:
    """True when ``df``'s executed plan holds a non-broadcast exchange."""
    df.collect()  # final AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.search(r"(?<!Broadcast)Exchange ", plan) is not None


class TestBloomDedup:
    def test_exact_and_no_false_negatives(self, spark, tmp_bloom_dir):
        rng = random.Random(42)
        seen_urls = [f"http://h{rng.randrange(20)}.ex/t/{i}" for i in range(2000)]
        new_urls = [f"http://h{rng.randrange(20)}.ex/new/{i}" for i in range(500)]
        seen = _url_df(spark, seen_urls)
        cands = _url_df(spark, seen_urls[:300] + new_urls)

        manifest = dedup.build_partitioned_bloom(seen, tmp_bloom_dir, num_partitions=8)
        assert manifest.count() == 8
        spec = dedup.BloomSpec(tmp_bloom_dir, 8)

        # bloom never misses a genuinely-seen url (zero false negatives)
        flagged = dedup.bloom_maybe_seen(cands, spec)
        missed = flagged.filter(
            (~F.col("maybe_seen")) & F.col("url_hash").isin(
                [urlkit.url_hash(u) for u in seen_urls[:300]]
            )
        )
        assert missed.count() == 0

        # end-to-end dedup is EXACT (bloom + confirm == plain anti-join)
        got = sorted(r["url"] for r in dedup.dedup_against_seen(cands, seen, spec).collect())
        want = sorted(set(new_urls))
        assert got == want

    def test_dedup_without_bloom_matches(self, spark):
        seen = _url_df(spark, [f"http://h/{i}" for i in range(100)])
        cands = _url_df(spark, [f"http://h/{i}" for i in range(50, 150)])
        got = sorted(r["url"] for r in dedup.dedup_against_seen(cands, seen).collect())
        assert got == sorted(f"http://h/{i}" for i in range(100, 150))

    # the Bloom path is a bounded probe: its cost follows the candidates'
    # maybe-seen keys, not the seen table

    @pytest.fixture(scope="class")
    def state(self, spark, tmp_path_factory):
        rng = random.Random(7)
        seen_urls = [f"http://h{rng.randrange(20)}.ex/t/{i}" for i in range(2000)]
        d = tmp_path_factory.mktemp("probe")
        seen_path, bloom_dir = str(d / "seen"), str(d / "bloom")
        _url_df(spark, seen_urls).write.parquet(seen_path)
        seen = spark.read.parquet(seen_path)
        dedup.build_partitioned_bloom(seen, bloom_dir, num_partitions=8)
        return seen_urls, seen, seen_path, dedup.BloomSpec(bloom_dir, 8)

    @staticmethod
    def _bloom_negative(spec, urls):
        hashes = np.array([urlkit.url_hash(u) for u in urls], dtype=np.int64)
        maybe = dedup._bloom_check_arrays(
            hashes, spec.paths, spec.num_partitions, spec.num_hashes
        )
        return [u for u, m in zip(urls, maybe) if not m]

    def test_no_maybe_keys_skip_the_seen_scan(self, spark, state):
        _, seen, seen_path, spec = state
        new = self._bloom_negative(spec, [f"http://n.ex/{i}" for i in range(300)])
        cands = _url_df(spark, new)
        with spark_jobs(spark) as jobs:
            out = dedup.dedup_against_seen(cands, seen, spec)
        assert jobs() <= 1
        assert out is cands and not _scans(out, seen_path)

    def test_mixed_matches_the_anti_join_without_a_shuffle(self, spark, state):
        seen_urls, seen, seen_path, spec = state
        cands = _url_df(spark, seen_urls[:40] + [f"http://n.ex/{i}" for i in range(300)])
        # seen as if too large to broadcast: a plain anti-join would shuffle
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = dedup.dedup_against_seen(cands, seen, spec)
            want = cands.join(seen.select("url_hash"), "url_hash", "left_anti")
            assert sorted(out.collect()) == sorted(want.collect())
            assert _shuffles(want)
            assert not _scans(out, seen_path) and not _shuffles(out)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_over_the_cap_falls_back_exactly(self, spark, state, monkeypatch):
        seen_urls, seen, seen_path, spec = state
        monkeypatch.setattr(dedup, "PROBE_MAX_KEYS", 2)
        new = [f"http://n.ex/{i}" for i in range(100)]
        out = dedup.dedup_against_seen(_url_df(spark, seen_urls[:5] + new), seen, spec)
        assert _scans(out, seen_path)  # the shuffled anti-join against seen
        assert sorted(r["url"] for r in out.collect()) == sorted(new)


class TestIncrementalBloom:
    P = 8

    def _split_by_pid(self, urls):
        by_pid = {}
        for u in urls:
            by_pid.setdefault(urlkit.url_hash(u) % self.P, []).append(u)
        return by_pid

    def test_update_touches_only_delta_partitions(self, spark, tmp_path):
        """Per-round Bloom cost must be ∝ |seen_new|: partitions with no new
        keys are carried as manifest POINTERS to the previous dir's files —
        nothing read, nothing written for them."""
        import os

        base = [f"http://h{i % 16}.ex/t/{i}" for i in range(800)]
        d0, d1 = str(tmp_path / "r0"), str(tmp_path / "r1")
        dedup.build_partitioned_bloom(_url_df(spark, base), d0, self.P)

        # new urls confined to exactly 2 partitions, sized within those
        # partitions' remaining fill budget (pow2 sizing -> variable headroom;
        # exceeding it is the separate rebuild path tested below)
        m0 = dedup._read_manifest(d0)
        headroom = {p: e["m_bits"] // 10 - e["n_items"] for p, e in m0.items()}
        keep_pids = sorted(headroom, key=lambda p: -headroom[p])[:2]
        by_pid = self._split_by_pid([f"http://h9.ex/new/{i}" for i in range(600)])
        delta_urls = [
            u
            for p in keep_pids
            for u in by_pid[p][: max(1, min(len(by_pid[p]), headroom[p] - 1))]
        ]
        keep_pids = sorted(keep_pids)
        stats = dedup.update_partitioned_bloom(
            _url_df(spark, delta_urls), d0, d1, self.P,
            seen_full=_url_df(spark, base + delta_urls),
        )
        assert sorted(stats["updated"] + stats["built"]) == keep_pids
        assert not stats["rebuilt"]
        assert sorted(stats["carried"]) == [p for p in range(self.P) if p not in keep_pids]

        spec = dedup.BloomSpec(d1, self.P)
        for pid in stats["carried"]:
            assert spec.paths[pid].startswith(d0)  # pointer, not a copy
            assert not os.path.exists(os.path.join(d1, f"bloom_{pid:05d}.npy"))
        for pid in keep_pids:
            assert spec.paths[pid].startswith(d1)

        # zero false negatives over base ∪ delta through the updated spec
        flagged = dedup.bloom_maybe_seen(_url_df(spark, base + delta_urls), spec)
        assert flagged.filter("NOT maybe_seen").count() == 0

    def test_overflow_triggers_partition_rebuild(self, spark, tmp_path):
        """Exceeding the bits_per_key fill budget rebuilds (and doubles) only
        the overflowing partitions from the full seen table."""
        d0, d1 = str(tmp_path / "r0"), str(tmp_path / "r1")
        small = [f"http://s.ex/{i}" for i in range(24)]  # tiny blobs (64-128 bits)
        dedup.build_partitioned_bloom(_url_df(spark, small), d0, self.P)
        m0 = {p: e["m_bits"] for p, e in dedup._read_manifest(d0).items()}

        grow = [f"http://g.ex/big/{i}" for i in range(3000)]
        full = _url_df(spark, small + grow)
        stats = dedup.update_partitioned_bloom(
            _url_df(spark, grow), d0, d1, self.P, seen_full=full
        )
        assert stats["rebuilt"], "fixture failed to overflow any partition"
        m1 = dedup._read_manifest(d1)
        for pid in stats["rebuilt"]:
            assert m1[pid]["m_bits"] > m0.get(pid, 0)

        spec = dedup.BloomSpec(d1, self.P)
        flagged = dedup.bloom_maybe_seen(full, spec)
        assert flagged.filter("NOT maybe_seen").count() == 0
        # end-to-end dedup through the incrementally-maintained spec is EXACT
        cands = _url_df(spark, small + [f"http://n.ex/{i}" for i in range(200)])
        got = sorted(
            r["url"] for r in dedup.dedup_against_seen(cands, full, spec).collect()
        )
        assert got == sorted(f"http://n.ex/{i}" for i in range(200))

    def test_manifestless_prev_dir_refused(self, spark, tmp_path):
        """Blobs without a manifest must be refused — updating blind would
        drop the old keys (false negatives)."""
        import os

        d0, d1 = str(tmp_path / "r0"), str(tmp_path / "r1")
        os.makedirs(d0)
        np.save(os.path.join(d0, "bloom_00000.npy"), np.zeros(8, dtype=np.uint8))
        keys = _url_df(spark, ["http://x.ex/1"])
        with pytest.raises(FileNotFoundError):
            dedup.update_partitioned_bloom(keys, d0, d1, self.P, seen_full=keys)
        with pytest.raises(FileNotFoundError):
            dedup.BloomSpec(d0, self.P)

    def test_manifest_replace_is_atomic(self, tmp_path):
        """A rewrite replaces the manifest whole; one that fails midway
        leaves the previous manifest readable."""
        import os

        d = str(tmp_path / "m")
        os.makedirs(d)
        dedup._write_manifest(d, {0: {"path": "a", "n_items": 1, "m_bits": 8}}, 2)
        dedup._write_manifest(d, {1: {"path": "b", "n_items": 2, "m_bits": 16}}, 2)
        assert dedup._read_manifest(d) == {1: {"path": "b", "n_items": 2, "m_bits": 16}}
        assert os.listdir(d) == ["manifest.json"]
        with pytest.raises(TypeError):
            dedup._write_manifest(d, {2: {"path": object()}}, 2)
        assert dedup._read_manifest(d) == {1: {"path": "b", "n_items": 2, "m_bits": 16}}

    def test_nothing_to_extend_builds_from_seen_full(self, spark, tmp_path):
        """With no previous dir, or one built for another partition count,
        the update builds every partition from the full seen table: built
        from the delta alone, or ORed into pids of another ``url_hash mod
        P``, the Bloom would miss keys seen before it."""
        base = [f"http://h{i % 16}.ex/t/{i}" for i in range(400)]
        delta = [f"http://d.ex/n/{i}" for i in range(40)]
        d4 = str(tmp_path / "p4")
        dedup.build_partitioned_bloom(_url_df(spark, base), d4, 4)
        with pytest.raises(ValueError, match="another partition count"):
            dedup.BloomSpec(d4, self.P)
        full = _url_df(spark, base + delta)
        want = Counter(urlkit.url_hash(u) % self.P for u in base + delta)
        for i, prev_dir in enumerate((None, d4)):
            d1 = str(tmp_path / f"r{i}")
            stats = dedup.update_partitioned_bloom(
                _url_df(spark, delta), prev_dir, d1, self.P, seen_full=full
            )
            assert sorted(stats["built"]) == sorted(want)
            assert not stats["carried"] and not stats["updated"]
            got = {p: e["n_items"] for p, e in dedup._read_manifest(d1).items()}
            assert got == dict(want)
            spec = dedup.BloomSpec(d1, self.P)
            assert dedup.bloom_maybe_seen(full, spec).filter("NOT maybe_seen").count() == 0

    def test_manifest_without_partition_count_is_extended(self, spark, tmp_path):
        """A manifest that records no partition count (written before the
        field existed) is read as built for the P it is used with."""
        import json
        import os

        base = [f"http://h{i % 16}.ex/t/{i}" for i in range(400)]
        d0, d1 = str(tmp_path / "r0"), str(tmp_path / "r1")
        dedup.build_partitioned_bloom(_url_df(spark, base), d0, self.P)
        mp = os.path.join(d0, "manifest.json")
        with open(mp) as f:
            raw = json.load(f)
        del raw["num_partitions"]
        with open(mp, "w") as f:
            json.dump(raw, f)
        assert dedup.BloomSpec(d0, self.P).paths
        stats = dedup.update_partitioned_bloom(
            _url_df(spark, ["http://h9.ex/new/0"]), d0, d1, self.P,
            seen_full=_url_df(spark, base + ["http://h9.ex/new/0"]),
        )
        assert len(stats["carried"]) == self.P - 1

    def test_missing_blob_fails_loudly(self, spark, tmp_path):
        """A blob the manifest names but that is gone raises: read as "no
        keys", every url of its pid would come back as new. The dir is fresh,
        so no worker has the blob cached."""
        import os

        seen_urls = [f"http://h{i % 16}.ex/t/{i}" for i in range(400)]
        d = str(tmp_path / "gone")
        dedup.build_partitioned_bloom(_url_df(spark, seen_urls), d, self.P)
        url = seen_urls[0]
        os.remove(dedup._read_manifest(d)[urlkit.url_hash(url) % self.P]["path"])
        seen = _url_df(spark, seen_urls)
        with pytest.raises(Exception, match="No such file"):
            dedup.dedup_against_seen(_url_df(spark, [url]), seen, dedup.BloomSpec(d, self.P))

    def test_rebuild_into_pointer_dir_never_writes_through_pointers(
        self, spark, tmp_path
    ):
        """Regression: a dir produced by update_partitioned_bloom holds a
        manifest whose untouched entries POINT to earlier rounds' blob files.
        Rebuilding into that dir used to resolve write paths through those
        pointers — silently overwriting the older rounds' blobs. Blobs must
        always land dir-local."""
        import os

        base = [f"http://h{i % 16}.ex/t/{i}" for i in range(400)]
        delta = ["http://h9.ex/new/0"]
        d0, d1 = str(tmp_path / "r0"), str(tmp_path / "r1")
        dedup.build_partitioned_bloom(_url_df(spark, base), d0, self.P)
        dedup.update_partitioned_bloom(
            _url_df(spark, delta), d0, d1, self.P,
            seen_full=_url_df(spark, base + delta),
        )
        # d1's manifest carries pointers into d0 for untouched partitions
        assert any(
            e["path"].startswith(d0) for e in dedup._read_manifest(d1).values()
        )
        before = {
            f: open(os.path.join(d0, f), "rb").read()
            for f in os.listdir(d0)
            if f.endswith(".npy")
        }
        rebuilt_from = [f"http://other{i}.ex/x/{i}" for i in range(300)]
        dedup.build_partitioned_bloom(_url_df(spark, rebuilt_from), d1, self.P)
        after = {
            f: open(os.path.join(d0, f), "rb").read()
            for f in os.listdir(d0)
            if f.endswith(".npy")
        }
        assert before == after, "rebuild wrote through manifest pointers into d0"
        # d1 now stands alone: local paths only, correct membership
        m1 = dedup._read_manifest(d1)
        assert all(e["path"].startswith(d1) for e in m1.values())
        spec = dedup.BloomSpec(d1, self.P)
        flagged = dedup.bloom_maybe_seen(_url_df(spark, rebuilt_from), spec)
        assert flagged.filter("NOT maybe_seen").count() == 0

    @pytest.mark.parametrize("shuffle_partitions", ["2", "200"])
    def test_pid_lands_whole_in_one_task(self, spark, tmp_path, shuffle_partitions):
        """The Bloom exchanges pass no partition count, so AQE sizes them;
        each pid must still be bucketed by ONE task. Two tasks sharing a pid
        would each write its blob from part of the keys (false negatives)
        and report a partial n_items."""
        from collections import Counter

        base = [f"http://h{i % 16}.ex/t/{i}" for i in range(1000)]
        delta = [f"http://d{i % 7}.ex/n/{i}" for i in range(300)]
        d0, d1 = str(tmp_path / "r0"), str(tmp_path / "r1")
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        try:
            dedup.build_partitioned_bloom(_url_df(spark, base), d0, self.P)
            full = _url_df(spark, base + delta)
            stats = dedup.update_partitioned_bloom(
                _url_df(spark, delta).repartition(24), d0, d1, self.P,
                seen_full=full,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert stats["updated"]
        spec = dedup.BloomSpec(d1, self.P)
        assert dedup.bloom_maybe_seen(full, spec).filter("NOT maybe_seen").count() == 0
        want = Counter(urlkit.url_hash(u) % self.P for u in base + delta)
        got = {p: e["n_items"] for p, e in dedup._read_manifest(d1).items()}
        assert got == dict(want)

    def test_bloom_exchange_has_no_fixed_count(self, spark):
        df = dedup._write_partitions(
            _url_df(spark, ["http://a.ex/1"]), {}, "/nonexistent", self.P
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan, plan


def _expected_schedule(frontier, budget, host_budgets=None):
    """Oracle step 3 in Python: per host, sort by (priority, page_num,
    url_hash) and schedule the first ``budget`` rows (a host's override
    from ``host_budgets`` when listed). Keyed by url_hash: (fetch_rank,
    scheduled, slot, wave), flag-style on unscheduled rows."""
    by_host: dict[str, list] = {}
    for r in frontier.collect():
        by_host.setdefault(r["host"], []).append(r)
    want = {}
    for host, rows in by_host.items():
        b = (host_budgets or {}).get(host, budget)
        rows.sort(key=lambda r: (r["priority"], r["page_num"], r["url_hash"]))
        for i, r in enumerate(rows, 1):
            want[r["url_hash"]] = (
                (i, True, (i - 1) % 5, (i - 1) // 5) if i <= b else (0, False, -1, -1)
            )
    return want


def _schedule(ranked):
    """``rank_fetch_slots`` output in ``_expected_schedule``'s shape."""
    return {
        r["url_hash"]: (r["fetch_rank"], r["scheduled"], r["slot"], r["wave"])
        for r in ranked.collect()
    }


class TestPoliteness:
    def _frontier(self, spark):
        rows = []
        # hot host with 40 urls, two small hosts with 3 urls each
        for i in range(40):
            rows.append((f"http://hot.ex/t/{i}", "hot.ex", 1, i))
        for h in ("a.ex", "b.ex"):
            for i in range(3):
                rows.append((f"http://{h}/t/{i}", h, 1, i))
        return spark.createDataFrame(
            [(u, h, p, pn, urlkit.url_hash(u)) for u, h, p, pn in rows],
            "url string, host string, priority int, page_num int, url_hash long",
        )

    def test_budget_respected(self, spark):
        ranked = politeness.rank_fetch_slots(self._frontier(spark), budget=5)
        sched = ranked.filter("scheduled").groupBy("host").count().collect()
        counts = {r["host"]: r["count"] for r in sched}
        assert counts == {"hot.ex": 5, "a.ex": 3, "b.ex": 3}

    def test_deterministic_order_within_host(self, spark):
        ranked = politeness.rank_fetch_slots(self._frontier(spark), budget=5)
        rows = ranked.filter("host = 'hot.ex' and scheduled").orderBy("fetch_rank").collect()
        # order key is (priority, page_num, url_hash): page_num ascending here
        assert [r["page_num"] for r in rows] == [0, 1, 2, 3, 4]

    @pytest.mark.parametrize("salt", [0, 4])
    def test_schedule_matches_expectation(self, spark, salt):
        # every input row is output once, scheduled or flagged deferred
        f = self._frontier(spark)
        ranked = politeness.rank_fetch_slots(f, budget=5, salt_partitions=salt)
        assert ranked.count() == f.count()
        assert _schedule(ranked) == _expected_schedule(f, 5)

    @pytest.mark.parametrize("budget", [1, 12, 50])
    def test_salted_identical_schedule(self, spark, budget):
        f = self._frontier(spark)
        want = _expected_schedule(f, budget)
        assert _schedule(politeness.rank_fetch_slots(f, budget=budget)) == want
        assert _schedule(
            politeness.rank_fetch_slots(f, budget=budget, salt_partitions=8)
        ) == want

    def test_slots_and_waves(self, spark):
        ranked = politeness.rank_fetch_slots(self._frontier(spark), budget=12)
        rows = ranked.filter("host = 'hot.ex' and scheduled").orderBy("fetch_rank").collect()
        assert [r["slot"] for r in rows[:7]] == [0, 1, 2, 3, 4, 0, 1]
        assert [r["wave"] for r in rows[:7]] == [0, 0, 0, 0, 0, 1, 1]

    def test_single_pass_plan_has_one_exchange_no_join(self, spark):
        """The unsalted ranker's whole point: ONE shuffle over the frontier,
        no anti-join reconstructing the deferred complement."""
        ranked = politeness.rank_fetch_slots(self._frontier(spark), budget=5)
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan, plan

    def test_salted_single_pass_plan_has_no_join(self, spark):
        ranked = politeness.rank_fetch_slots(
            self._frontier(spark), budget=5, salt_partitions=8
        )
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan


class TestRobots:
    def test_parse(self):
        txt = """# comment
User-agent: *
Disallow: /private/
Disallow: /tmp
User-agent: evilbot
Disallow: /
"""
        assert robots.parse_robots_txt(txt) == [("/private/", False), ("/tmp", False)]
        assert robots.parse_robots_txt(txt, "evilbot") == [("/", False)]

    def test_empty_disallow_allows_all(self):
        assert robots.parse_robots_txt("User-agent: *\nDisallow:\n") == []

    def test_nonrule_records_close_group(self):
        # An Allow or Crawl-delay record must end a user-agent run: agent
        # 'a' must NOT inherit b's Disallow (rules and delay agree).
        txt = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /x\n"
        assert robots.parse_robots_txt(txt, "a") == []
        assert robots.parse_robots_txt(txt, "b") == [("/x", False)]
        assert robots.parse_crawl_delay(txt, "a") == 5
        assert robots.parse_crawl_delay(txt, "b") is None
        txt2 = "User-agent: a\nAllow: /ok\nUser-agent: b\nDisallow: /x\n"
        assert robots.parse_robots_txt(txt2, "a") == [("/ok", True)]
        assert robots.parse_robots_txt(txt2, "b") == [("/x", False)]

    def test_pathless_url_blocked_by_root_disallow(self, spark):
        # F.parse_url yields '' (not NULL) for http://host — the gate must
        # normalize both to '/' so 'Disallow: /' blocks pathless URLs,
        # matching the python twin (u.path or '/').
        frontier = _url_df(
            spark, ["http://a.ex", "http://a.ex/", "http://b.ex"]
        )
        rules = robots.robots_table(spark, {"a.ex": "User-agent: *\nDisallow: /"})
        got = sorted(r["url"] for r in robots.robots_gate(frontier, rules).collect())
        assert got == ["http://b.ex"]
        assert not robots.robots_allowed_py("http://a.ex", {"a.ex": [("/", False)]})

    def test_gate(self, spark):
        frontier = _url_df(
            spark,
            [
                "http://a.ex/ok/1",
                "http://a.ex/private/2",
                "http://b.ex/private/3",  # b.ex has no rules -> allowed
            ],
        )
        rules = robots.robots_table(spark, {"a.ex": "User-agent: *\nDisallow: /private/"})
        got = sorted(r["url"] for r in robots.robots_gate(frontier, rules).collect())
        assert got == ["http://a.ex/ok/1", "http://b.ex/private/3"]
        # python twin agrees
        rdict = {"a.ex": [("/private/", False)]}
        assert robots.robots_allowed_py("http://a.ex/ok/1", rdict)
        assert not robots.robots_allowed_py("http://a.ex/private/2", rdict)
        assert robots.robots_allowed_py("http://b.ex/private/3", rdict)


class TestRobotsFullREP:
    """RFC 9309 / Google-spec matching: Allow precedence by longest match
    (allow wins ties), '*' any-sequence, trailing '$' end anchor."""

    TXT = """User-agent: *
Disallow: /shop
Allow: /shop/public
Disallow: /*.pdf
Disallow: /exact$
Allow: /dual
Disallow: /dual
"""

    def test_parse_keeps_allow_and_order(self):
        rules = robots.parse_robots_txt(self.TXT)
        assert ("/shop", False) in rules and ("/shop/public", True) in rules
        assert ("/*.pdf", False) in rules and ("/exact$", False) in rules

    @pytest.mark.parametrize(
        "path,allowed",
        [
            ("/shop/item1", False),  # Disallow /shop
            ("/shop/public/item", True),  # longer Allow carve-out wins
            ("/docs/file.pdf", False),  # '*' wildcard
            ("/docs/file.pdf.html", False),  # unanchored: matches anywhere
            ("/exact", False),  # '$' anchor hits exactly
            ("/exactly", True),  # ...but not a longer path
            ("/dual/x", True),  # equal-length tie -> allow wins
            ("/elsewhere", True),  # no rule -> allowed
        ],
    )
    def test_matching_py_twin(self, path, allowed):
        rules = {"a.ex": robots.parse_robots_txt(self.TXT)}
        assert robots.robots_allowed_py(f"http://a.ex{path}", rules) == allowed

    def test_gate_full_spark_agrees_with_twin(self, spark):
        paths = [
            "/shop/item1", "/shop/public/item", "/docs/file.pdf",
            "/exact", "/exactly", "/dual/x", "/elsewhere",
        ]
        frontier = _url_df(spark, [f"http://a.ex{p}" for p in paths])
        rules = robots.robots_table(spark, {"a.ex": self.TXT})
        got = sorted(
            r["url"] for r in robots.robots_gate(frontier, rules).collect()
        )
        pyrules = {"a.ex": robots.parse_robots_txt(self.TXT)}
        want = sorted(
            u for u in (f"http://a.ex{p}" for p in paths)
            if robots.robots_allowed_py(u, pyrules)
        )
        assert got == want
        assert "http://a.ex/shop/public/item" in got
        assert "http://a.ex/shop/item1" not in got

    def test_gate_full_plan_broadcasts_rules(self, spark):
        frontier = _url_df(spark, ["http://a.ex/x"])
        rules = robots.robots_table(spark, {"a.ex": self.TXT})
        plan = (
            robots.robots_gate(frontier, rules)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "LocalTableScan" in plan  # the rules side


PRIORITY_CASES = [
    # (page, link, expected score)
    ("http://f.ex/threads/42/page3", "http://f.ex/threads/42/page4", 0),  # vb next
    ("http://f.ex/threads/42", "http://f.ex/threads/42/page2", 0),  # bare -> page2
    ("http://f.ex/board?page=2", "http://f.ex/board?page=3", 0),  # query next
    ("http://f.ex/board?a=1&page=2", "http://f.ex/board?a=1&page=9", 0),
    ("http://f.ex/threads/42/page3", "http://f.ex/threads/99", 1),  # same host
    ("http://f.ex/board?page=2", "http://f.ex/board?a=1&page=3", 1),  # query differs
    ("http://f.ex/t/1", "http://other.ex/t/1", 2),  # cross host
    ("http://f.ex/threads/42/page3", "http://f.ex/threads/42/page3", 1),  # self
]


class TestPriority:
    @pytest.mark.parametrize("page,link,score", PRIORITY_CASES)
    def test_python(self, page, link, score):
        assert priority.priority_score_py(page, link) == score

    def test_col_matches_python(self, spark):
        df = spark.createDataFrame(
            [(p, l) for p, l, _ in PRIORITY_CASES], "page string, link string"
        )
        rows = df.select(
            "page", "link", priority.priority_score_col("page", "link").alias("s")
        ).collect()
        for r in rows:
            assert r["s"] == priority.priority_score_py(r["page"], r["link"]), (
                r["page"], r["link"])


class TestHostBudgets:
    """Per-host budget overrides (Crawl-delay mapping) through the
    flag-style ranker."""

    def test_crawl_delay_parse(self):
        txt = "User-agent: *\nDisallow: /x\nCrawl-delay: 2.5\n"
        assert robots.parse_crawl_delay(txt) == 2.5
        assert robots.parse_crawl_delay("User-agent: *\nDisallow: /x\n") is None
        two = "User-agent: fast\nCrawl-delay: 1\nUser-agent: *\nCrawl-delay: 10\n"
        assert robots.parse_crawl_delay(two, "fast") == 1
        assert robots.parse_crawl_delay(two) == 10

    def test_crawl_delay_budgets_mapping(self, spark):
        txts = {
            "slow.ex": "User-agent: *\nCrawl-delay: 30\n",   # 60//30 = 2
            "glacial.ex": "User-agent: *\nCrawl-delay: 90\n",  # 60//90 = 0
            "fast.ex": "User-agent: *\nDisallow: /x\n",      # no delay: omitted
        }
        got = {
            r["host"]: r["budget"]
            for r in robots.crawl_delay_budgets(spark, txts, 5, 60.0).collect()
        }
        assert got == {"slow.ex": 2, "glacial.ex": 0}

    def test_crawl_delay_budgets_lowercase_hosts_or_none(self, spark):
        txts = {"Slow.Ex": "User-agent: BbCrawl\nCrawl-delay: 30\n"}
        got = robots.crawl_delay_budgets(spark, txts, 5, 60.0, "bbcrawl")
        assert [tuple(r) for r in got.collect()] == [("slow.ex", 2)]
        assert robots.crawl_delay_budgets(spark, txts, 5, 60.0) is None
        assert robots.crawl_delay_budgets(spark, {}, 5, 60.0) is None

    def test_override_changes_schedule_only_for_listed_hosts(self, spark):
        rows = [
            (h, 0, 0, i * 10 + j)
            for i, h in enumerate(["a.ex", "b.ex", "c.ex"])
            for j in range(4)
        ]
        f = spark.createDataFrame(
            rows, "host string, priority int, page_num int, url_hash long"
        )
        budgets = spark.createDataFrame(
            [("a.ex", 1), ("c.ex", 0)], "host string, budget int"
        )
        out = politeness.rank_fetch_slots(f, budget=2, host_budgets=budgets)
        sched = {
            h: sorted(r["url_hash"] for r in rs)
            for h, rs in __import__("itertools").groupby(
                sorted(out.filter("scheduled").collect(), key=lambda r: r["host"]),
                key=lambda r: r["host"],
            )
        }
        assert sched.get("a.ex") == [0]          # override 1
        assert sched.get("b.ex") == [10, 11]     # default 2
        assert "c.ex" not in sched               # override 0: fully deferred
        assert "_hb_budget" not in out.columns

    def test_mode_parameter_removed(self, spark):
        # one ranking path: there is no exact-rank mode to select
        f = spark.createDataFrame(
            [("a.ex", 0, 0, 1)], "host string, priority int, page_num int, url_hash long"
        )
        with pytest.raises(TypeError, match="mode"):
            politeness.rank_fetch_slots(f, budget=2, mode="full_rank")

    def test_override_composes_with_salting(self, spark):
        # Crawl-delay × skew defense (round-3 verdict item 5): the salted
        # single-pass ranker with per-host budget columns is byte-identical
        # to the unsalted one — b(h) is constant within a host, so the
        # phase-1 pigeonhole prune stays exact with the broadcast column.
        # Overrides both BELOW (1, 0) and ABOVE (4) the default budget: an
        # above-default override is the case a default-literal prune in
        # phase 1 would get wrong.
        rows = [
            (h, 0, j % 3, i * 100 + j)
            for i, h in enumerate(["a.ex", "b.ex", "c.ex", "d.ex"])
            for j in range(9)
        ]
        f = spark.createDataFrame(
            rows, "host string, priority int, page_num int, url_hash long"
        )
        budgets = spark.createDataFrame(
            [("a.ex", 1), ("c.ex", 0), ("d.ex", 4)], "host string, budget int"
        )

        want = _expected_schedule(f, 2, {"a.ex": 1, "c.ex": 0, "d.ex": 4})
        for s in (0, 2, 4, 16):
            got = _schedule(politeness.rank_fetch_slots(
                f, budget=2, salt_partitions=s, host_budgets=budgets
            ))
            assert got == want, f"salt_partitions={s} diverged"
        hosts = ["a.ex", "b.ex", "c.ex", "d.ex"]
        n_by_host = Counter(hosts[k // 100] for k, v in want.items() if v[1])
        assert n_by_host == {"a.ex": 1, "b.ex": 2, "d.ex": 4}
