"""Seen-set dedup: partitioned Bloom prefilter + bounded exact probe.

The reference dedups by checking whether the output file already exists
before each GET (``/root/reference/libcrawl/download/downloader.go:103-115,
267-273``) — an O(1) point lookup against local disk.  At 10^10-URL frontier
scale the Spark-native equivalent, run once per url on the links a round
discovers (the frontier is kept disjoint from the seen set), is:

1. a **persistent partitioned Bloom filter** over the seen set
   (``url_hash``-keyed, P fixed partitions, blobs on shared storage) applied
   *map-side* over ``url_hash`` — no shuffle, settles the overwhelmingly
   common "definitely new" case;
2. an **exact probe** of the seen table for the few "maybe seen" keys
   (``dedup_against_seen``) — Bloom filters have no false negatives, so
   the combination is exact.

Why a probe: a plain ``links LEFT ANTI JOIN seen`` exchanges the whole
seen table every round; the probe costs what the round's links cost.
Spark's own runtime bloom pruning
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) is no replacement:
ours is *application state* that persists across rounds and survives
restarts.

Blobs are stored one file per partition under a directory (local in the
sandbox; DBFS/S3/HDFS on a cluster) and lazily loaded + LRU-cached per
executor process, so each task touches only the partitions its rows hash
into.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.udfs import local_table
from ..sources.warehouse import _atomic_write_json

__all__ = [
    "BloomSpec",
    "build_partitioned_bloom",
    "update_partitioned_bloom",
    "bloom_maybe_seen",
    "dedup_against_seen",
]

BITS_PER_KEY = 10
_NUM_HASHES = 7  # with BITS_PER_KEY -> ~0.8% false-positive rate

_MANIFEST = "manifest.json"

#: most maybe-seen keys the probe collects; past it the seen check falls
#: back to the shuffled anti-join
PROBE_MAX_KEYS = 1 << 16


def _default_blob_path(path: str, pid: int) -> str:
    return os.path.join(path, f"bloom_{pid:05d}.npy")


def _local_entry(path: str, row) -> dict:
    """Manifest entry of a ``(partition_id, n_items, m_bits)`` row whose blob
    was written at its dir-local path under ``path``."""
    pid = int(row["partition_id"])
    return {"path": _default_blob_path(path, pid),
            "n_items": int(row["n_items"]), "m_bits": int(row["m_bits"])}


def _read_manifest(path: str) -> dict[int, dict]:
    """pid -> {path, n_items, m_bits}; {} when no manifest exists."""
    mp = os.path.join(path, _MANIFEST)
    if not os.path.exists(mp):
        return {}
    with open(mp) as f:
        raw = json.load(f)["partitions"]
    return {int(k): v for k, v in raw.items()}


def _write_manifest(path: str, entries: dict[int, dict]) -> None:
    """Atomic (tmp+rename): a crashed round never leaves a readable but
    partial manifest — the round-log barrier then makes the whole dir
    invisible to resume."""
    _atomic_write_json(
        os.path.join(path, _MANIFEST),
        {"partitions": {str(k): v for k, v in entries.items()}},
    )


class BloomSpec:
    """Addressing for the partitioned Bloom state.

    Blob paths resolve through the dir's manifest, so an incrementally
    maintained dir can *reference* untouched blobs in earlier rounds' dirs
    instead of copying them — per-round I/O stays proportional to the
    partitions actually touched by new keys. Falls back to local
    ``bloom_{pid}.npy`` files for manifest-less dirs.

    The pid->path dict is tiny (P entries) and closes over the membership
    UDF; at very large P ship it via a broadcast variable instead.
    """

    def __init__(self, path: str, num_partitions: int):
        self.path = path
        self.num_partitions = num_partitions
        self.num_hashes = _NUM_HASHES
        manifest = _read_manifest(path)
        self.paths: dict[int, str] = {
            pid: manifest[pid]["path"] if pid in manifest
            else _default_blob_path(path, pid)
            for pid in range(num_partitions)
        }

    def blob_path(self, pid: int) -> str:
        return self.paths[pid]


def _bloom_positions(hashes: np.ndarray, m_bits: int, k: int) -> Iterator[np.ndarray]:
    """k double-hashed bit positions per key. hashes: uint64 array."""
    h1 = hashes
    h2 = (hashes >> np.uint64(33)) | (hashes << np.uint64(31))  # wraps, fine
    h2 = h2 | np.uint64(1)  # odd -> full cycle
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


def _build_blob(hashes: np.ndarray, bits_per_key: int, k: int) -> np.ndarray:
    n = max(len(hashes), 1)
    m_bits = 1 << max(6, math.ceil(math.log2(n * bits_per_key)))
    # set bits through a bool array + packbits instead of unbuffered
    # np.bitwise_or.at scatters (duplicate positions are fine on a plain
    # fancy assignment): ~1.8x on the 312k-key partition kernel, byte-
    # identical blobs (little bit order == the (pos & 7) shift layout
    # _check_blob reads).
    bits = np.zeros(m_bits, dtype=bool)
    u = hashes.astype(np.uint64)
    for pos in _bloom_positions(u, m_bits, k):
        bits[pos] = True
    return np.packbits(bits, bitorder="little")


def _check_blob(hashes: np.ndarray, bitmap: np.ndarray, k: int) -> np.ndarray:
    m_bits = len(bitmap) * 8
    out = np.ones(len(hashes), dtype=bool)
    u = hashes.astype(np.uint64)
    for pos in _bloom_positions(u, m_bits, k):
        out &= (bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
    return out


_PART_SCHEMA = "partition_id int, n_items long, m_bits long"


def _per_partition(df: DataFrame, P: int, fn, schema: str) -> DataFrame:
    """Call ``fn(pid, hashes) -> row`` once per Bloom partition present in
    ``df``, with ALL of that partition's hashes; the rows form a DataFrame
    of ``schema``.

    The exchange is a hash repartition on the pid column with no explicit
    count, so AQE sizes it to the data (a 10-key delta runs one task, not
    P). It never splits a pid: hash partitioning sends every row of a pid
    to one reducer, and AQE's coalescing only merges whole reducers. So
    each pid's blob is written by exactly one task.
    """
    cols = [c.split()[0] for c in schema.split(",")]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buckets: dict[int, list[np.ndarray]] = {}
        for pdf in batches:
            hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
            pids = (hashes % P + P) % P  # pmod parity with Spark
            for pid in np.unique(pids):
                buckets.setdefault(int(pid), []).append(hashes[pids == pid])
        rows = [fn(pid, np.concatenate(chunks)) for pid, chunks in buckets.items()]
        yield pd.DataFrame(rows, columns=cols)

    pid_col = F.pmod(F.col("url_hash"), F.lit(P)).cast("int")
    return df.select("url_hash").repartition(pid_col).mapInPandas(_run, schema)


def _build_partitions(df: DataFrame, path: str, P: int) -> DataFrame:
    """Build a fresh blob for every pid present in ``df`` at the dir-local
    ``bloom_{pid}.npy`` path; lazy ``(partition_id, n_items, m_bits)``."""

    def _build(pid: int, hashes: np.ndarray) -> tuple:
        bitmap = _build_blob(hashes, BITS_PER_KEY, _NUM_HASHES)
        np.save(_default_blob_path(path, pid), bitmap)
        return pid, len(hashes), len(bitmap) * 8

    return _per_partition(df, P, _build, _PART_SCHEMA)


def build_partitioned_bloom(seen: DataFrame, path: str, num_partitions: int) -> DataFrame:
    """Build P Bloom blobs from the seen table — Spark's partial-build
    pattern: each bloom partition is built by the one task that owns it
    (see ``_per_partition``) and written straight to ``path``.

    Returns the manifest as a local DataFrame ``(partition_id int,
    n_items long, m_bits long)``; the blobs are written by then.

    Blobs always land at the dir-local ``bloom_{pid}.npy`` paths — NEVER
    resolved through a pre-existing manifest. An update-produced manifest's
    entries forward to earlier rounds' dirs; writing through those pointers
    would silently overwrite older rounds' blob files and corrupt their
    bloom state. A rebuild into such a dir therefore replaces the manifest
    with local paths and leaves every pointed-at dir untouched.
    """
    os.makedirs(path, exist_ok=True)
    # collected, not cached: AQE does not coalesce the exchange under a
    # cached plan, which would run one Python task per shuffle partition
    rows = _build_partitions(seen, path, num_partitions).collect()
    _write_manifest(path, {int(r["partition_id"]): _local_entry(path, r) for r in rows})
    return seen.sparkSession.createDataFrame(rows, _PART_SCHEMA)


@lru_cache(maxsize=256)
def _load_blob(path: str):
    """Per-worker-process blob cache keyed on the blob PATH (shared across
    tasks via lru_cache — each executor python worker loads a blob once).
    Path-keyed so manifest entries forwarding to earlier rounds' untouched
    blobs keep hitting the same cache slot across rounds."""
    return np.load(path) if os.path.exists(path) else None


def _bloom_check_arrays(
    hashes: np.ndarray, paths: dict[int, str], P: int, k: int
) -> np.ndarray:
    pids = (hashes % P + P) % P  # pmod parity with Spark
    maybe = np.zeros(len(hashes), dtype=bool)
    for pid in np.unique(pids):
        blob = _load_blob(paths[int(pid)])
        if blob is None:
            continue  # empty partition -> nothing seen there
        sel = pids == pid
        maybe[sel] = _check_blob(hashes[sel], blob, k)
    return maybe


def make_bloom_udf(spec: BloomSpec):
    """Scalar pandas UDF ``url_hash -> maybe_seen`` — Arrow transfers only
    the 8-byte hash column, never the full row (a mapInPandas variant
    round-tripped every column and was ~5x slower on wide frontiers)."""
    paths, P, k = spec.paths, spec.num_partitions, spec.num_hashes

    def _maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(_bloom_check_arrays(h.to_numpy(dtype=np.int64), paths, P, k))

    return F.pandas_udf(_maybe_seen, BooleanType())


def update_partitioned_bloom(
    seen_new: DataFrame,
    prev_dir: str | None,
    new_dir: str,
    num_partitions: int,
    seen_full: DataFrame | None = None,
) -> dict[str, list[int]]:
    """Incrementally maintain the partitioned Bloom: OR the round's NEW
    hashes into the previous round's blobs instead of rebuilding everything
    from the full seen table (the O(R·N)-cumulative scale killer).

    Per-round cost is proportional to ``|seen_new|`` (+ the size of the
    touched blobs); untouched partitions are carried forward as manifest
    POINTERS to their existing files — zero read, zero write. A partition is
    rebuilt from the full seen table only when its fill would exceed the
    ``BITS_PER_KEY`` FPP budget; blob sizes double on rebuild (power-of-two
    sizing in ``_build_blob``), so each key is rebuilt O(log N) times over
    the crawl — amortized O(N log N) total versus O(R·N) for per-round full
    rebuilds. Matches the reference's O(1)-per-URL ``Exists()`` semantics
    (download/downloader.go:103-115) in aggregate cost.

    Exactness is untouched: OR-ing new keys into an existing blob can never
    introduce a false negative, and overflow only ever degrades the
    false-positive rate (caught by the rebuild threshold), never
    correctness — the exact seen probe stays downstream.

    Returns {"updated": [...], "built": [...], "rebuilt": [...],
    "carried": [...]} partition ids (driver-side; P is small).
    """
    os.makedirs(new_dir, exist_ok=True)
    P, k = num_partitions, _NUM_HASHES
    prev = _read_manifest(prev_dir) if prev_dir else {}
    if prev_dir and not prev:
        import glob as _glob

        if _glob.glob(os.path.join(prev_dir, "bloom_*.npy")):
            # blobs without a manifest: updating blind would rebuild
            # partitions from the delta alone and silently DROP the old
            # keys — a false-negative factory. Refuse loudly.
            raise ValueError(
                f"previous bloom dir {prev_dir!r} has blobs but no manifest; "
                "rebuild it with build_partitioned_bloom first"
            )

    def _delta(pid: int, hashes: np.ndarray) -> tuple:
        entry = prev.get(pid)
        out_path = _default_blob_path(new_dir, pid)
        if entry is None:
            # first keys ever seen in this partition: fresh build
            bitmap = _build_blob(hashes, BITS_PER_KEY, k)
            np.save(out_path, bitmap)
            return pid, len(hashes), len(bitmap) * 8, "built"
        n_total = int(entry["n_items"]) + len(hashes)
        if n_total * BITS_PER_KEY > int(entry["m_bits"]):
            # fill budget exceeded: needs a resize = rebuild from seen
            return pid, n_total, 0, "rebuild"
        bitmap = np.load(entry["path"])
        # same packbits OR-in as _build_blob: unpack once, set the delta's
        # bits by plain fancy assignment, repack (existing bits survive the
        # round-trip; byte-identical layout)
        bits = np.unpackbits(bitmap, bitorder="little")
        u = hashes.astype(np.uint64)
        for pos in _bloom_positions(u, len(bitmap) * 8, k):
            bits[pos] = 1
        np.save(out_path, np.packbits(bits, bitorder="little"))
        return pid, n_total, len(bitmap) * 8, "updated"

    delta_rows = _per_partition(seen_new, P, _delta, _PART_SCHEMA + ", op string").collect()

    entries: dict[int, dict] = dict(prev)  # untouched pids: pointer carry
    stats: dict[str, list[int]] = {"updated": [], "built": [], "rebuilt": [], "carried": []}
    rebuild_pids: list[int] = []
    for r in delta_rows:
        pid, op = int(r["partition_id"]), r["op"]
        if op == "rebuild":
            rebuild_pids.append(pid)
            continue
        entries[pid] = _local_entry(new_dir, r)
        stats[op].append(pid)

    if rebuild_pids:
        if seen_full is None:
            raise ValueError(
                f"partitions {rebuild_pids} exceed their fill budget and need a "
                "rebuild, but no seen_full DataFrame was provided"
            )
        sub = seen_full.filter(
            F.pmod(F.col("url_hash"), F.lit(P)).cast("int").isin(rebuild_pids)
        )
        for r in _build_partitions(sub, new_dir, P).collect():
            entries[int(r["partition_id"])] = _local_entry(new_dir, r)
            stats["rebuilt"].append(int(r["partition_id"]))

    touched = set(stats["updated"]) | set(stats["built"]) | set(stats["rebuilt"])
    stats["carried"] = sorted(set(prev) - touched)
    _write_manifest(new_dir, entries)
    return stats


def bloom_maybe_seen(df: DataFrame, spec: BloomSpec) -> DataFrame:
    """Add ``maybe_seen: boolean`` map-side (scalar Arrow UDF, zero shuffle).

    False means *definitely not seen* (Bloom has no false negatives);
    True must be confirmed against the seen table.
    """
    return df.withColumn("maybe_seen", make_bloom_udf(spec)(F.col("url_hash")))


def _maybe_seen_keys(candidates: DataFrame, bloom: BloomSpec) -> set | None:
    """The distinct ``url_hash`` values of ``candidates`` the Bloom flags as
    maybe-seen, collected in one job; None when there are more than
    ``PROBE_MAX_KEYS``. Each task stops at ``PROBE_MAX_KEYS + 1`` keys
    (``limit(n).collect()`` would plan ``CollectLimit``, which scans
    partitions over several jobs)."""
    paths, P, k = bloom.paths, bloom.num_partitions, bloom.num_hashes
    cap = PROBE_MAX_KEYS

    def _flagged(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys = np.empty(0, dtype=np.int64)
        for pdf in batches:
            h = pdf["url_hash"].to_numpy(dtype=np.int64)
            keys = np.union1d(keys, h[_bloom_check_arrays(h, paths, P, k)])
            if len(keys) > cap:
                break
        yield pd.DataFrame({"url_hash": keys[: cap + 1]})

    rows = candidates.select("url_hash").mapInPandas(_flagged, "url_hash long").collect()
    keys = {r[0] for r in rows}
    return keys if len(keys) <= cap else None


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: BloomSpec | None = None,
    cache: list | None = None,
) -> DataFrame:
    """P2/J1: rows of ``candidates`` whose ``url_hash`` is NOT in ``seen``.

    Without a Bloom: the exact shuffled ``candidates LEFT ANTI JOIN seen``.
    With one, an eager probe that runs jobs now:

    1. collect the distinct maybe-seen keys (one job over ``candidates``);
    2. none (the common case): return ``candidates`` — ``seen`` is not read;
    3. at most ``PROBE_MAX_KEYS``: collect the seen keys among them in one
       map-side pass (``seen ⋉ broadcast(keys)``, no exchange) and return
       ``candidates ▷ broadcast(hits)``, a plan that no longer reads ``seen``;
    4. more: the shuffled anti-join, as without a Bloom.

    The keys are collected rather than filtered inside a join, because
    constraint inference would copy the deterministic Bloom UDF onto the
    seen scan and run Python over every seen row.

    ``cache`` is accepted and unused (nothing stays persisted).
    """
    keys = None if bloom is None else _maybe_seen_keys(candidates, bloom)
    if keys is None:
        return candidates.join(seen.select("url_hash"), on="url_hash", how="left_anti")
    if not keys:
        return candidates
    spark, schema = candidates.sparkSession, "url_hash long"
    probe = F.broadcast(local_table(spark, [(h,) for h in keys], schema))
    hits = seen.select("url_hash").join(probe, "url_hash", "left_semi").collect()
    known = F.broadcast(local_table(spark, [tuple(r) for r in hits], schema))
    return candidates.join(known, "url_hash", "left_anti")
