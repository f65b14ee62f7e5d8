"""Snapshot-committed table store (Iceberg-semantics fallback).

The north_rule requires crawl state (frontier / seen / metrics / lineage)
in Iceberg tables with per-round snapshots so the crawl resumes
deterministically.  This sandbox has no Iceberg runtime jar (and no
network), so this module provides the declared fallback (SURVEY.md §7.6):
parquet data files + an atomically-swapped JSON manifest reproducing the
Iceberg semantics the crawl loop needs:

* snapshot isolation: readers only ever see the manifest's current
  snapshot; a crashed half-written snapshot is invisible garbage;
* append = new snapshot whose file list is parent's ∪ new files (no
  rewrite of existing data);
* time travel: any snapshot id remains readable until expired;
* atomic multi-table round commit: the crawl driver records
  {table -> snapshot_id} per round in a separate round log, committed
  last — the Iceberg equivalent of tagging per-round snapshots;
* maintenance: ``compact`` rewrites a snapshot's dir chain into ONE plain
  dir (Iceberg ``rewrite_data_files``) and ``expire_snapshots`` drops old
  snapshots + deletes data dirs no kept snapshot references (Iceberg
  ``expire_snapshots`` + orphan-file cleanup). Without both, an
  append-per-round chain grows one parquet dir per round forever — at
  hundreds of rounds the reader's dir list and file-open fan-out become
  the bottleneck, not the data.

On a real cluster, swap this class for ``spark.read.format("iceberg")`` /
``df.writeTo(...)`` — the crawl loop touches ``write / append / read /
read_delta / summary / compact / expire_snapshots`` and the round log.

Layout (no hive partition dirs: every snapshot dir is one plain parquet
dir, so a read is one scan over the snapshot's dir list):
    root/<table>/data/s<NNNNN>/part-*.parquet  one dir per snapshot's new files
    root/<table>/_manifest.json                the table's manifest (below)
    root/_rounds.json                          round -> {"tables": {table:
                                               snapshot_id}, "meta": {...}}

Manifest::

    {"current": sid, "next_id": n,
     "snapshots": {sid: {"dirs": [data_dir, ...],      parent chain + own dir
                         "parent": sid | null, "ts": t, "meta": {...},
                         "summary": {...}}}}

Each snapshot records a summary of what it wrote (Iceberg snapshot
summaries), in the same atomic manifest swap as the snapshot itself:

* ``schema``: the written DataFrame's schema as JSON. Reads pass it to
  ``spark.read.schema(...)``, so they run no schema-inference job.
* ``added_rows``, ``added_files``, ``added_bytes``: summed over the parquet
  files in the snapshot's own data dir. Row counts come from the parquet
  footers, read on the driver, so no Spark job runs either.

Snapshots written without a summary (manifests from before summaries)
are read with schema inference.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["Warehouse"]


def _atomic_write_json(path: str, obj) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


def _summarize(df: DataFrame, data_dir: str) -> dict:
    """Summary of one snapshot's own data dir, from its parquet footers."""
    files = [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    return {
        "schema": df.schema.json(),
        "added_rows": sum(pq.read_metadata(p).num_rows for p in files),
        "added_files": len(files),
        "added_bytes": sum(os.path.getsize(p) for p in files),
    }


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ----------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_manifest.json")

    def _manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"current": None, "snapshots": {}}
        with open(p) as f:
            return json.load(f)

    def exists(self, table: str) -> bool:
        return self._manifest(table)["current"] is not None

    def snapshots(self, table: str) -> dict:
        return self._manifest(table)["snapshots"]

    def current_snapshot(self, table: str) -> str | None:
        return self._manifest(table)["current"]

    def summary(self, table: str, snapshot_id: str) -> dict:
        """What ``snapshot_id`` wrote (see the module docstring); {} for a
        snapshot written without a summary."""
        return self._manifest(table)["snapshots"][snapshot_id].get("summary", {})

    # -- write path ------------------------------------------------------
    @staticmethod
    def _next_sid(man: dict) -> str:
        """Monotonic snapshot id from a persisted counter. Deriving the id
        from ``len(snapshots)`` breaks after expiry: the count shrinks, the
        'new' id collides with a kept snapshot, and writing its data dir
        would clobber live files. Legacy manifests (no counter) resume from
        max(existing id) + 1."""
        nid = man.get("next_id")
        if nid is None:
            nid = 1 + max((int(s[1:]) for s in man["snapshots"]), default=-1)
        man["next_id"] = nid + 1
        return f"s{nid:05d}"

    def _new_snapshot(self, table: str, df: DataFrame, parent_dirs: list[str],
                      meta: dict | None) -> str:
        man = self._manifest(table)
        sid = self._next_sid(man)
        data_dir = os.path.join(self._table_dir(table), "data", sid)
        df.write.mode("overwrite").parquet(data_dir)
        man["snapshots"][sid] = {
            "dirs": parent_dirs + [data_dir],
            "parent": man["current"],
            "ts": time.time(),
            "meta": meta or {},
            "summary": _summarize(df, data_dir),
        }
        man["current"] = sid
        _atomic_write_json(self._manifest_path(table), man)
        return sid

    def write(self, table: str, df: DataFrame, meta: dict | None = None) -> str:
        """Overwrite: new snapshot containing only df (old snapshots remain
        readable via time travel until expired)."""
        return self._new_snapshot(table, df, [], meta)

    def append(
        self,
        table: str,
        df: DataFrame,
        meta: dict | None = None,
        parent_snapshot: str | None = None,
    ) -> str:
        """Append: new snapshot = parent files ∪ df's files.

        ``parent_snapshot`` pins the parent explicitly — the resume path uses
        the round-log-pinned snapshot so an orphan append from a crashed
        round can never leak into the lineage. Pass "" to append onto an
        empty parent (fresh chain); None means "manifest current".
        """
        man = self._manifest(table)
        if parent_snapshot is None:
            pid = man["current"]
        elif parent_snapshot == "":
            pid = None
        else:
            pid = parent_snapshot
        parent_dirs = man["snapshots"][pid]["dirs"] if pid else []
        return self._new_snapshot(table, df, list(parent_dirs), meta)

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots) -------
    def compact(self, table: str, snapshot_id: str | None = None,
                meta: dict | None = None) -> str:
        """Rewrite a snapshot's dir chain into ONE plain data dir (same rows).

        The new snapshot is a normal child of ``current``; appends chain off
        it afterwards, so a crawl that compacts every K rounds reads any
        table through O(K) dirs instead of O(rounds). Old snapshots stay
        readable until expired.
        """
        man = self._manifest(table)
        sid = snapshot_id or man["current"]
        if sid is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        return self._new_snapshot(
            table, self.read(table, sid), [], {**(meta or {}), "compaction_of": sid}
        )

    def expire_snapshots(self, table: str, keep: set[str]) -> dict:
        """Expire every snapshot not in ``keep`` (current is always kept) and
        delete the data dirs no kept snapshot references.

        Ordering is crash-safe: the manifest (atomic rename) drops the
        expired entries FIRST, then the orphaned dirs are deleted — a crash
        in between leaves unreferenced garbage on disk, never a manifest
        pointing at deleted data. Returns {"expired": [...], "removed_dirs":
        [...]} for the caller's metrics.
        """
        import shutil

        man = self._manifest(table)
        keep = {s for s in keep if s in man["snapshots"]}
        if man["current"] is not None:
            keep.add(man["current"])
        live_dirs: set[str] = set()
        for sid in keep:
            live_dirs.update(man["snapshots"][sid]["dirs"])
        expired = sorted(s for s in man["snapshots"] if s not in keep)
        removed_dirs: set[str] = set()
        for sid in expired:
            removed_dirs.update(
                d for d in man["snapshots"][sid]["dirs"] if d not in live_dirs
            )
        if not expired:
            return {"expired": [], "removed_dirs": []}
        # pin the id counter before entries disappear (legacy manifests)
        if man.get("next_id") is None:
            man["next_id"] = 1 + max(
                (int(s[1:]) for s in man["snapshots"]), default=-1
            )
        for sid in expired:
            del man["snapshots"][sid]
        for snap in man["snapshots"].values():
            if snap.get("parent") not in man["snapshots"]:
                snap["parent"] = None  # expired ancestor: lineage root now
        _atomic_write_json(self._manifest_path(table), man)
        for d in removed_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return {"expired": expired, "removed_dirs": sorted(removed_dirs)}

    # -- read path -------------------------------------------------------
    def _scan(self, snap: dict, dirs: list[str]) -> DataFrame:
        """Parquet scan of ``dirs`` with the snapshot's recorded schema, so
        no schema-inference job runs; legacy snapshots infer it."""
        reader = self.spark.read
        summary = snap.get("summary")
        if summary:
            reader = reader.schema(StructType.fromJson(json.loads(summary["schema"])))
        return reader.parquet(*dirs)

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        man = self._manifest(table)
        sid = snapshot_id or man["current"]
        if sid is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        snap = man["snapshots"][sid]
        return self._scan(snap, snap["dirs"])

    def read_delta(self, table: str, snapshot_id: str) -> DataFrame:
        """Only the rows ADDED by ``snapshot_id`` (its own data dir, not the
        parent chain) — incremental consumers (Bloom maintenance) read the
        per-round delta instead of rescanning the whole table. Iceberg
        equivalent: an incremental read between parent and child snapshots."""
        snap = self._manifest(table)["snapshots"][snapshot_id]
        return self._scan(snap, snap["dirs"][-1:])

    # -- round log (atomic multi-table commit point) ----------------------
    def _rounds_path(self) -> str:
        return os.path.join(self.root, "_rounds.json")

    def round_log(self) -> dict:
        p = self._rounds_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def commit_round(self, round_no: int, table_snapshots: dict[str, str],
                     meta: dict | None = None) -> None:
        """THE round barrier: written only after every table snapshot of the
        round is durable. A crash before this line leaves orphan snapshots
        that the resume path never reads — the reference's Finish() join
        (crawlers.go:174-179) re-expressed as a commit protocol."""
        log = self.round_log()
        log[str(round_no)] = {"tables": table_snapshots, "meta": meta or {}}
        _atomic_write_json(self._rounds_path(), log)

    def last_committed_round(self) -> int | None:
        log = self.round_log()
        return max((int(k) for k in log), default=None)

    def round_snapshot(self, round_no: int, table: str) -> str | None:
        log = self.round_log()
        entry = log.get(str(round_no))
        return entry["tables"].get(table) if entry else None
