"""Warehouse snapshot semantics (SURVEY.md §2.2 K3, §7.6 fallback)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bbcrawl_spark.sources.warehouse import Warehouse

from .conftest import spark_jobs


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v long")


class TestSnapshots:
    def test_write_read_roundtrip(self, spark, wh):
        wh.write("t", _df(spark, [1, 2, 3]))
        assert sorted(r["v"] for r in wh.read("t").collect()) == [1, 2, 3]

    def test_overwrite_keeps_old_snapshot_readable(self, spark, wh):
        s1 = wh.write("t", _df(spark, [1]))
        s2 = wh.write("t", _df(spark, [2]))
        assert [r["v"] for r in wh.read("t", s1).collect()] == [1]
        assert [r["v"] for r in wh.read("t", s2).collect()] == [2]
        assert wh.current_snapshot("t") == s2

    def test_append_accumulates(self, spark, wh):
        wh.write("t", _df(spark, [1]))
        wh.append("t", _df(spark, [2]))
        wh.append("t", _df(spark, [3]))
        assert sorted(r["v"] for r in wh.read("t").collect()) == [1, 2, 3]

    def test_append_pinned_parent_skips_orphan(self, spark, wh):
        s1 = wh.write("t", _df(spark, [1]))
        wh.append("t", _df(spark, [99]))  # orphan (crashed round)
        s3 = wh.append("t", _df(spark, [2]), parent_snapshot=s1)
        assert sorted(r["v"] for r in wh.read("t", s3).collect()) == [1, 2]

    def test_append_empty_parent_sentinel(self, spark, wh):
        wh.write("t", _df(spark, [1]))
        s = wh.append("t", _df(spark, [7]), parent_snapshot="")
        assert [r["v"] for r in wh.read("t", s).collect()] == [7]

    def test_missing_table_raises(self, wh):
        with pytest.raises(FileNotFoundError):
            wh.read("nope")


class TestMaintenance:
    def _dirs(self, wh, table, sid=None):
        man = wh._manifest(table)
        return man["snapshots"][sid or man["current"]]["dirs"]

    def test_compact_same_rows_one_dir(self, spark, wh):
        wh.write("t", _df(spark, [1]))
        for v in (2, 3, 4, 5):
            wh.append("t", _df(spark, [v]))
        assert len(self._dirs(wh, "t")) == 5
        pre = wh.current_snapshot("t")
        sid = wh.compact("t")
        assert sorted(r["v"] for r in wh.read("t", sid).collect()) == [1, 2, 3, 4, 5]
        assert len(self._dirs(wh, "t", sid)) == 1
        # pre-compaction snapshot still time-travels until expired
        assert sorted(r["v"] for r in wh.read("t", pre).collect()) == [1, 2, 3, 4, 5]
        # appends chain off the compacted snapshot: O(1)+1 dirs, not O(rounds)
        s2 = wh.append("t", _df(spark, [6]))
        assert len(self._dirs(wh, "t", s2)) == 2
        assert sorted(r["v"] for r in wh.read("t", s2).collect()) == [1, 2, 3, 4, 5, 6]

    def test_expire_deletes_only_unreferenced_dirs(self, spark, wh):
        import os

        s1 = wh.write("t", _df(spark, [1]))
        s2 = wh.append("t", _df(spark, [2]))  # shares s1's dir
        s3 = wh.compact("t")  # fresh single dir
        shared = self._dirs(wh, "t", s1)[0]
        res = wh.expire_snapshots("t", keep={s2})
        # s1 expired but its dir lives on inside s2's chain; s3 is current
        assert res["expired"] == [s1]
        assert res["removed_dirs"] == []
        assert os.path.isdir(shared)
        assert sorted(r["v"] for r in wh.read("t", s2).collect()) == [1, 2]
        # now drop s2 too: the shared dir has no live referent left
        res = wh.expire_snapshots("t", keep=set())
        assert res["expired"] == [s2]
        assert shared in res["removed_dirs"]
        assert not os.path.isdir(shared)
        with pytest.raises(KeyError):
            wh.read("t", s2)
        assert sorted(r["v"] for r in wh.read("t", s3).collect()) == [1, 2]

    def test_expire_never_reuses_snapshot_ids(self, spark, wh):
        s1 = wh.write("t", _df(spark, [1]))
        s2 = wh.append("t", _df(spark, [2]))
        wh.expire_snapshots("t", keep={s2})
        s3 = wh.write("t", _df(spark, [9]))
        # a len()-derived id would collide with s2 and clobber its live dir
        assert s3 not in {s1, s2}
        assert sorted(r["v"] for r in wh.read("t", s2).collect()) == [1, 2]
        assert [r["v"] for r in wh.read("t", s3).collect()] == [9]

    def test_expire_roots_orphaned_parents(self, spark, wh):
        wh.write("t", _df(spark, [1]))
        s2 = wh.append("t", _df(spark, [2]))
        s3 = wh.append("t", _df(spark, [3]))
        wh.expire_snapshots("t", keep={s3})
        man = wh._manifest("t")
        assert man["snapshots"][s3]["parent"] is None  # s2 expired
        assert s2 not in man["snapshots"]
        assert sorted(r["v"] for r in wh.read("t").collect()) == [1, 2, 3]

    def test_manifest_and_data_dirs_stay_plain(self, spark, wh):
        """No write path records a per-dir layout or writes partition
        subdirs: every data dir on disk holds parquet files only."""
        wh.write("t", _df(spark, [1]))
        wh.append("t", _df(spark, [2]))
        c = wh.compact("t")
        wh.append("t", _df(spark, [3]))
        wh.expire_snapshots("t", keep={c})
        man = wh._manifest("t")
        assert set(man) == {"current", "next_id", "snapshots"}
        for snap in man["snapshots"].values():
            assert set(snap) == {"dirs", "parent", "ts", "meta", "summary"}
        data = os.path.join(wh._table_dir("t"), "data")
        for d in os.listdir(data):
            assert not any(
                os.path.isdir(os.path.join(data, d, f))
                for f in os.listdir(os.path.join(data, d))
            ), d

    def test_compacted_dir_keeps_round_column_in_files(self, spark, wh):
        """With no ``round=k/`` dir names, a compacted dir read on its own
        still carries every row's round value."""
        for rnd in range(3):
            wh.append("t", spark.createDataFrame(
                [(rnd, rnd * 10)], "round int, v long"
            ))
        c = wh.compact("t")
        (d,) = wh.snapshots("t")[c]["dirs"]
        got = spark.read.parquet(d)
        assert got.columns == ["round", "v"]
        assert sorted(tuple(r) for r in got.collect()) == [(0, 0), (1, 10), (2, 20)]

    def test_expire_after_compaction_leaves_one_dir(self, spark, wh):
        for v in (1, 2, 3, 4):
            wh.append("t", _df(spark, [v]))
        c = wh.compact("t")
        res = wh.expire_snapshots("t", keep={c})
        assert len(res["removed_dirs"]) == 4
        data = os.path.join(wh._table_dir("t"), "data")
        assert os.listdir(data) == [c]
        got = wh.read("t")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        assert sorted(r["v"] for r in got.collect()) == [1, 2, 3, 4]


class TestRoundLog:
    def test_commit_and_query(self, spark, wh):
        s0 = wh.write("frontier", _df(spark, [1]))
        wh.commit_round(0, {"frontier": s0}, {"n": 1})
        assert wh.last_committed_round() == 0
        assert wh.round_snapshot(0, "frontier") == s0
        assert wh.round_snapshot(0, "other") is None
        assert wh.round_snapshot(5, "frontier") is None

    def test_uncommitted_snapshot_invisible_to_round_log(self, spark, wh):
        s0 = wh.write("frontier", _df(spark, [1]))
        wh.commit_round(0, {"frontier": s0})
        wh.write("frontier", _df(spark, [2, 3]))  # crashed round r=1, no commit
        assert wh.last_committed_round() == 0
        pinned = wh.round_snapshot(0, "frontier")
        assert [r["v"] for r in wh.read("frontier", pinned).collect()] == [1]


class TestSnapshotSummary:
    """Every snapshot records what it wrote (schema, rows, files, bytes);
    reads use the recorded schema and run no Spark job."""

    @staticmethod
    def _rdf(spark, rnd, vals):
        return spark.createDataFrame([(rnd, v) for v in vals], "round int, v long")

    @staticmethod
    def _rows(df):
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    def test_reads_run_no_job(self, spark, wh):
        s1 = wh.write("t", self._rdf(spark, 0, [1, 2]))
        s2 = wh.append("t", self._rdf(spark, 1, [3]))
        with spark_jobs(spark) as jobs:
            full, delta = wh.read("t", s2), wh.read_delta("t", s2)
        assert jobs() == 0
        # the recorded schema is the one inference would find
        dirs = wh.snapshots("t")[s2]["dirs"]
        assert full.schema == spark.read.parquet(*dirs).schema
        assert self._rows(full) == [(0, 1), (0, 2), (1, 3)]
        assert self._rows(delta) == [(1, 3)]
        with spark_jobs(spark) as jobs:
            wh.read("t", s1)
        assert jobs() == 0
        # a non-nullable column reads back nullable, as inference gives it
        s3 = wh.write("n", spark.range(3).select(F.col("id").alias("v")))
        got = wh.read("n", s3)
        assert got.schema == spark.read.parquet(*wh.snapshots("n")[s3]["dirs"]).schema
        assert sorted(r["v"] for r in got.collect()) == [0, 1, 2]

    @pytest.mark.parametrize("op", ["write", "append", "compact", "empty"])
    def test_added_rows_equal_count(self, spark, wh, op):
        wh.write("t", self._rdf(spark, 0, [1, 2, 3]))
        if op == "write":
            sid = wh.write("t", self._rdf(spark, 1, [4, 5]).repartition(3))
        elif op == "append":
            sid = wh.append("t", self._rdf(spark, 1, [4, 5, 6, 7]))
        elif op == "compact":
            wh.append("t", self._rdf(spark, 1, [4]))
            sid = wh.compact("t")
        else:
            sid = wh.write("t", spark.createDataFrame([], "round int, v long"))
        s = wh.summary("t", sid)
        assert s["added_rows"] == wh.read_delta("t", sid).count()
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(wh.snapshots("t")[sid]["dirs"][-1])
            for f in fs
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert s["added_files"] == len(files)
        assert s["added_bytes"] == sum(os.path.getsize(f) for f in files)

    def test_legacy_manifest_without_summaries(self, spark, wh):
        """Manifests written before summaries (a registered prior template)
        read the same rows through schema inference."""
        wh.write("t", self._rdf(spark, 0, [1, 2]))
        sid = wh.append("t", self._rdf(spark, 1, [3]))
        assert wh.summary("t", sid)["added_rows"] == 1
        want, schema = self._rows(wh.read("t")), wh.read("t").schema
        path = wh._manifest_path("t")
        with open(path) as f:
            man = json.load(f)
        for snap in man["snapshots"].values():
            del snap["summary"]
        with open(path, "w") as f:
            json.dump(man, f)
        assert wh.summary("t", sid) == {}
        with spark_jobs(spark) as jobs:
            legacy = wh.read("t")
        assert jobs() >= 1  # schema inference
        assert legacy.schema == schema
        assert self._rows(legacy) == want
        assert self._rows(wh.read_delta("t", sid)) == [(1, 3)]
        # a summarized append onto the legacy chain reads both
        s3 = wh.append("t", self._rdf(spark, 2, [4]))
        assert self._rows(wh.read("t", s3)) == want + [(2, 4)]

    def test_compacted_then_appended_chain_with_summaries(self, spark, wh):
        """Compaction rewrites the chain into one plain dir; an append onto it
        reads both dirs in one parquet scan with the recorded schema."""
        for rnd in range(3):
            wh.append("t", self._rdf(spark, rnd, [rnd, rnd + 10]))
        c = wh.compact("t")
        sid = wh.append("t", self._rdf(spark, 3, [3]))
        dirs = wh.snapshots("t")[sid]["dirs"]
        assert dirs[0] == wh.snapshots("t")[c]["dirs"][0] and len(dirs) == 2
        for d in dirs:  # plain dirs: parquet files only, no partition subdirs
            assert all(os.path.isfile(os.path.join(d, f)) for f in os.listdir(d))
        with spark_jobs(spark) as jobs:
            got = wh.read("t", sid)
        assert jobs() == 0
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        assert got.columns == ["round", "v"]
        assert self._rows(got) == [
            (0, 0), (0, 10), (1, 1), (1, 11), (2, 2), (2, 12), (3, 3)
        ]
        assert wh.summary("t", c)["added_rows"] == 6
        assert wh.summary("t", sid)["added_rows"] == 1
