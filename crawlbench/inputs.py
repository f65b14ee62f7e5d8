"""Seeded crawl-benchmark inputs, cached on disk, with oracle digests.

One cache entry per (workload, seed, sizes) holds what the engine is given —
the pages parquet, seeds, robots bodies and excludes — and the digests the
correctness gate compares against: per round, the sequential oracle's crawl
order and extracted texts, and the seen set after the round.

crawl_bigseen additionally needs a prior seen table of millions of hashes
with its partitioned Bloom. That template warehouse (frontier + seen written
through ``Warehouse``, Bloom from ``dedup.build_partitioned_bloom``, round -1
committed with its ``bloom_dir``) depends on the sizes only: it stands for an
earlier crawl's history, is built once per checkout and is shared by every
seed. Each site is asserted disjoint from it, so the oracle — which has no
initial-seen input — stays valid and the gate checks ``seen - prior``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass, replace

#: bump when the generator or the digest format changes: old entries go stale
GENERATOR_VERSION = 1
#: the board site's cross-board link is always /b{(b+1)%2}/t0, so boards >= 2
#: are unreachable from the seeds
BOARDS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    hosts: int
    threads: int
    pages_per_thread: int
    posts_per_page: int
    words_per_post: int
    budget: int
    max_rounds: int
    compact_every: int = 0
    expire_keep_rounds: int = 0
    bloom_partitions: int = 0
    prior_seen: int = 0  # rows of the pre-existing seen table (crawl_bigseen)
    seed_all_threads: bool = False  # seed page 1 of every thread, not 1 per host

    def site_kwargs(self, seed: int) -> dict:
        return dict(
            hosts=self.hosts, boards=BOARDS, threads=self.threads,
            pages_per_thread=self.pages_per_thread, seed=seed,
            posts_per_page=self.posts_per_page, words_per_post=self.words_per_post,
        )


WORKLOADS = {
    # many hosts, every thread's first page seeded, a large per-host budget
    # and realistic 25-post pages: round time grows with rows (politeness
    # window, pages join, fused extraction, new-link dedup); compaction and
    # expiry run as a production crawl would set them. No Bloom.
    "crawl_wide": Workload(
        "crawl_wide", hosts=8, threads=20, pages_per_thread=3,
        posts_per_page=25, words_per_post=20, budget=100, max_rounds=3,
        compact_every=2, expire_keep_rounds=2, seed_all_threads=True,
    ),
    # 2 hosts at the reference budget of 5 (DEFAULT_DL_JOBS) recrawled
    # against a seen table of millions of hashes with the persistent Bloom:
    # rounds carry almost no rows, so round time is the per-round fixed cost
    # plus reading the whole seen table (Bloom gate + exact new-link
    # anti-join) while appending to it and OR-ing its Bloom
    "crawl_bigseen": Workload(
        "crawl_bigseen", hosts=2, threads=8, pages_per_thread=8,
        posts_per_page=2, words_per_post=0, budget=5, max_rounds=3,
        bloom_partitions=16, prior_seen=2_000_000,
    ),
}


def tiny(w: Workload) -> Workload:
    """The same workload shape at a size that crawls in a few rounds."""
    return replace(
        w, hosts=min(w.hosts, 2), threads=3, pages_per_thread=2,
        posts_per_page=min(w.posts_per_page, 3), max_rounds=min(w.max_rounds, 3),
        prior_seen=min(w.prior_seen, 20_000),
    )


def _key(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:12]


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\0")
    return h.hexdigest()


def order_digest(urls: list[str]) -> str:
    """One round's crawl order (urls in global rank order)."""
    return _digest(urls)


def text_digest(texts: dict[str, str]) -> str:
    """One round's url -> extracted text, order-free."""
    return _digest(f"{u}\t{texts[u]}" for u in sorted(texts))


def seen_digest(hashes) -> str:
    return _digest(str(h) for h in sorted(hashes))


@dataclass
class Inputs:
    """A ready cache entry: the engine's inputs plus the oracle's digests."""

    dir: str
    workload: Workload
    seeds: list
    robots: dict
    excludes: list
    oracle: dict  # {"rounds": [{"order", "texts", "seen"} digests per round]}

    @property
    def pages_path(self) -> str:
        return os.path.join(self.dir, "pages.parquet")


def _write_pages(site, path: str) -> None:
    """The pages table as parquet (schema of ``boardsite.PAGES_SCHEMA``),
    in several row groups so Spark splits the scan across cores."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*site.rows))
    table = pa.table({
        "url": pa.array(cols[0], pa.string()),
        "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols[2], pa.binary()),
        "text": pa.array(cols[3], pa.string()),
        "lang": pa.array(cols[4], pa.string()),
        "content_type": pa.array(cols[5], pa.string()),
        "n_redirects": pa.array(cols[6], pa.int32()),
        "content_disposition": pa.array(cols[7], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table, os.path.join(path, "part-00000.parquet"),
        row_group_size=max(1, len(site.rows) // 8),
    )


def _oracle_digests(site, w: Workload) -> dict:
    from bbcrawl_spark import oracle
    from bbcrawl_spark.operators.robots import parse_robots_txt

    robots = {h: parse_robots_txt(t) for h, t in site.robots.items()}
    res = oracle.crawl_oracle(
        pages=site.pages, seeds=site.seeds, budget=w.budget, robots=robots,
        excludes=set(site.excludes), max_rounds=w.max_rounds,
        content_types=site.content_types,
    )
    by_round: list[list[str]] = [[] for _ in range(res.rounds)]
    for r, url in res.crawl_order:
        by_round[r].append(url)
    from bbcrawl_spark import urlkit

    rounds, seen = [], set()
    for r, urls in enumerate(by_round):
        seen.update(urlkit.xxhash64(urlkit.canonicalize(u)) for u in urls)
        texts = {u: res.texts[u] for u in urls if u in res.texts}
        rounds.append({
            "order": order_digest(urls), "texts": text_digest(texts),
            "seen": seen_digest(seen),
        })
    if seen != res.seen:
        raise RuntimeError("per-round seen sets disagree with the oracle's")
    return {"rounds": rounds}


def _site_hashes(site) -> list[int]:
    """Every url hash the crawl can meet: seeds and every link on every page."""
    from bbcrawl_spark import extract, urlkit
    from bbcrawl_spark.htmlkit import decode_html

    urls = {s[0] for s in site.seeds}
    for url, body in site.pages.items():
        html = decode_html(body, site.content_types.get(url, "text/html; charset=utf-8"))
        urls.add(url)
        urls.update(link.abs_url for link in extract.extract_links(html, url))
    return [urlkit.xxhash64(urlkit.canonicalize(u)) for u in urls]


def _prior_hashes(n: int):
    """The prior seen table's hashes: a fixed draw per size, sorted, unique."""
    import numpy as np

    rng = np.random.default_rng(0x5EE7)
    h = np.unique(rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64))
    while len(h) < n:  # collisions in 64 bits: practically never
        h = np.unique(np.concatenate(
            [h, rng.integers(-(2**63), 2**63 - 1, size=n - len(h), dtype=np.int64)]
        ))
    return h


def _check_disjoint(site, prior_hashes) -> None:
    import numpy as np

    site_h = np.array(sorted(set(_site_hashes(site))), dtype=np.int64)
    pos = np.clip(np.searchsorted(prior_hashes, site_h), 0, len(prior_hashes) - 1)
    clash = site_h[prior_hashes[pos] == site_h]
    if len(clash):
        raise RuntimeError(f"prior seen set overlaps the site: {clash[:5].tolist()}")


def load_or_make(work: str, w: Workload, seed: int) -> Inputs:
    """The cached inputs of (workload, seed), generating them on a miss."""
    from bbcrawl_spark.sources.boardsite import make_board_site

    key = _key({"v": GENERATOR_VERSION, "w": asdict(w), "seed": seed})
    d = os.path.join(work, "inputs", f"{w.name}-s{seed}-{key}")
    meta_path = os.path.join(d, "inputs.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        site = make_board_site(**w.site_kwargs(seed))
        if w.seed_all_threads:
            site.seeds = [
                (f"http://{host}/b{b}/t{t}", i, 0)
                for i, (host, b, t) in enumerate(
                    (h, b, t) for h in site.robots
                    for b in range(BOARDS) for t in range(w.threads))
            ]
        _write_pages(site, os.path.join(tmp, "pages.parquet"))
        meta = {
            "seeds": [list(s) for s in site.seeds], "robots": site.robots,
            "excludes": site.excludes, "oracle": _oracle_digests(site, w),
        }
        if w.prior_seen:
            _check_disjoint(site, _prior_hashes(w.prior_seen))
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(
        dir=d, workload=w, seeds=[tuple(s) for s in meta["seeds"]],
        robots=meta["robots"], excludes=meta["excludes"], oracle=meta["oracle"],
    )


def prior_template(spark, work: str, w: Workload, seeds: list) -> str:
    """Root of the crawl_bigseen template warehouse: round -1 committed with
    the seed frontier, the prior seen table and its Bloom dir. Built once
    per (sizes); never written to afterwards — crawls register it."""
    from bbcrawl_spark.operators import dedup
    from bbcrawl_spark.plans.round import frontier_from_urls
    from bbcrawl_spark.sources.warehouse import Warehouse

    if w.compact_every or w.expire_keep_rounds:
        # compaction + expiry would delete the shared template's data dirs
        raise ValueError("a registered prior cannot be compacted or expired")
    key = _key({"v": GENERATOR_VERSION, "n": w.prior_seen, "P": w.bloom_partitions,
                "seeds": [list(s) for s in seeds]})
    # relative to the checkout root: manifests stay valid wherever it lives
    root = os.path.relpath(os.path.join(work, "prior", f"n{w.prior_seen}-{key}"))
    if os.path.exists(os.path.join(root, "_rounds.json")):
        return root
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)  # stale sizes too
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = os.path.join(root, "_raw")
    os.makedirs(raw)
    pq.write_table(
        pa.table({"url_hash": _prior_hashes(w.prior_seen)}),
        os.path.join(raw, "part-00000.parquet"), row_group_size=1 << 20,
    )
    wh = Warehouse(spark, root)
    s_sid = wh.write("seen", spark.read.parquet(raw).repartition(8))
    seeds_df = spark.createDataFrame(
        [(s[0], s[1], s[2], s[3] if len(s) > 3 else -1) for s in seeds],
        "url string, seed_id long, priority int, page_num int",
    )
    f_sid = wh.write("frontier", frontier_from_urls(seeds_df, -1))
    bloom_dir = os.path.join(root, "bloom", "prior")
    dedup.build_partitioned_bloom(
        wh.read("seen", s_sid), bloom_dir, w.bloom_partitions
    ).unpersist()
    shutil.rmtree(raw)
    # the round log is written last: its presence marks a finished template
    wh.commit_round(-1, {"frontier": f_sid, "seen": s_sid, "bloom_dir": bloom_dir},
                    {"bootstrap": True, "prior_seen": w.prior_seen})
    return root


def register_prior(template: str, root: str) -> None:
    """Start a fresh warehouse at the template's round -1 by copying its
    manifests and round log: the snapshots keep pointing at the template's
    data and Bloom blobs (Iceberg-style register of existing files), so
    registration costs no data copy. The crawl's appends and Bloom updates
    land under ``root``; the template is only read."""
    os.makedirs(root, exist_ok=True)
    for table in ("frontier", "seen"):
        os.makedirs(os.path.join(root, table), exist_ok=True)
        shutil.copy(os.path.join(template, table, "_manifest.json"),
                    os.path.join(root, table, "_manifest.json"))
    shutil.copy(os.path.join(template, "_rounds.json"), os.path.join(root, "_rounds.json"))
