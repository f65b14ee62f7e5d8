"""The crawl loop: per-round batch DataFrame jobs over warehouse tables.

Spark-native re-expression of the reference's sequential loop
(``/root/reference/libcrawl/api.go:101-114``) per the normative round
contract in ``bbcrawl_spark.oracle`` (the two must match exactly — tested in
tests/test_crawl_e2e.py):

    frontier_r --anti-join--> gates (excludes, robots)
              --window------> politeness budget per host (scheduled/deferred)
              --append------> seen ∪ scheduled, then its Bloom
              --join--------> pages (the "fetch"; pre-crawled Common-Crawl-
                              style table replaces live HTTP)
              --pandas UDF--> link + text extraction (Arrow batches)
              --Bloom+probe-> links not in seen -> frontier_{r+1}
              --write-------> fetched_r, fetch_log_r, frontier_{r+1},
                              metrics_r   [round commit]

Invariant: every committed frontier is unique by url_hash and disjoint from
seen (deduped seeds; step 6 dedup; only unseen links enter), so the frontier
gets no seen gate and membership is checked once per url.

Shuffle profile per round (the 100-TB design):
  1. politeness window: ONE sort exchange on host (single-pass flag-style
     ranking — no anti-join reconstructing the deferred complement;
     optional salted pre-rank kills hot-host reducer skew)
  2. pages join: sort-merge on url (frontier side already deduped; AQE may
     demote to broadcast when a round is small)
  Everything else is map-side: the robots gate (broadcast anti-join to a
  local rules array per host, a per-row longest-match verdict), the
  new-link seen check (Bloom over url_hash, then a broadcast probe of seen
  for the few maybe-seen keys; a hash exchange on url_hash only without a
  Bloom or past the probe cap), excludes (broadcast local table),
  extraction (ArrowEvalPython).

State writes are snapshot commits; the round barrier (``commit_round``) is
written last, making a crashed round invisible and the resume path
deterministic (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Iterator
from functools import cached_property, reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import (
    CT_DEFAULT,
    header_filename_col,
    header_filename_field_col,
    header_filename_raw_field_col,
    host_of,
    local_table,
    make_extract_fused_udf,
    url_hash_col,
)
from .. import extract as extract_mod
from ..operators import dedup
from ..operators.politeness import rank_fetch_slots
from ..operators.priority import priority_score_col
from ..operators.robots import crawl_delay_budgets, robots_gate, robots_table
from ..sources.warehouse import Warehouse

FRONTIER_COLS = ["url", "url_hash", "host", "priority", "page_num", "seed_id", "discovered_in"]
METRICS_PARTITIONS = 16  # per-partition lineage granularity


@dataclass
class CrawlConfig:
    pages_path: str  # parquet dir of the pages table (Iceberg table on a cluster)
    warehouse_root: str
    # (url, seed_id, priority) or (url, seed_id, priority, page_num).
    # Pager-generated seeds MUST carry the pager's PageNum() (pagers.go:
    # 49-51,133-135) — re-deriving it from a '/pageN' suffix is wrong for the
    # query and cutter pagers (page_num would be 0 for every seed, breaking
    # crawler output names and per-host seed order).
    seeds: list[tuple] = field(default_factory=list)
    budget: int = 5  # per-host fetches per round (reference DEFAULT_DL_JOBS)
    # >0: honor robots Crawl-delay — a host asking for D seconds between
    # fetches gets crawl_delay_round_seconds // D fetches per round (capped
    # at budget; 0 when D exceeds the round, and then the host is never
    # scheduled). Composes with salt_partitions.
    crawl_delay_round_seconds: float = 0.0
    max_rounds: int = 100
    follow_links: bool = True
    salt_partitions: int = 0  # >1 enables two-phase salted politeness top-k
    bloom_partitions: int = 0  # >0 enables the persistent Bloom prefilter
    excludes: tuple[str, ...] = ()
    # host -> robots.txt body, matched per RFC 9309 (Allow/Disallow,
    # longest match wins, Allow wins ties, '*'/'$' wildcards); hosts and
    # user_agent compare case-insensitively
    robots: dict[str, str] = field(default_factory=dict)
    user_agent: str = "*"
    # crawler family (reference -crawler flag): '' = text+links only;
    # 'vb-attachments' / 'src' additionally emit the downloads table the
    # reference would have fetched (its primary output)
    crawler: str = ""
    headernames: bool = False  # vb -names-from-header
    # reference -redirect flag (crawlers.go:155-162): True -> redirect.Log
    # (error past 10 redirects), False -> redirect.Deny (error on any);
    # a pages table without an n_redirects column reads as 0 redirects
    allow_redirect: bool = True
    tags: tuple[str, ...] = ("audio", "img", "video")  # src -tags
    attrs: tuple[tuple[str, str], ...] = ()  # src -attrs pairs
    # warehouse maintenance (Iceberg rewrite_data_files / expire_snapshots).
    # Without them an append-per-round chain reads through O(rounds) parquet
    # dirs — at hundreds of rounds the dir list + file-open fan-out, not the
    # data, becomes the reader bottleneck.
    compact_every: int = 0  # >0: every K rounds rewrite append chains to 1 dir
    expire_keep_rounds: int = 0  # >0: keep only the last K rounds' snapshots


def page_num_col(url) -> F.Column:
    """Discovered-link page number: trailing '/pageN' else 0 (oracle twin:
    ``oracle.link_page_num``)."""
    url = F.col(url) if isinstance(url, str) else url
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    n = F.regexp_extract(path, r"/page([0-9]+)$", 1)
    # try_cast: '' -> NULL under ANSI mode (Spark 4 default) instead of error
    return F.coalesce(n.try_cast("int"), F.lit(0))


def frontier_from_urls(df: DataFrame, discovered_in: int) -> DataFrame:
    """Project (url, seed_id, priority[, page_num]) rows into the frontier
    schema using JVM column expressions only.

    If the input carries a non-negative ``page_num`` (a pager emission) it is
    kept verbatim; otherwise (discovered links, plain ``--seed`` URLs) the
    trailing-'/pageN' heuristic derives it.
    """
    if "page_num" in df.columns:
        pn = (
            F.when(F.col("page_num") >= 0, F.col("page_num"))
            .otherwise(page_num_col("url"))
            .cast("int")
        )
    else:
        pn = page_num_col("url")
    return df.select(
        F.col("url"),
        url_hash_col("url").alias("url_hash"),
        host_of("url").alias("host"),
        F.col("priority").cast("int").alias("priority"),
        pn.alias("page_num"),
        F.col("seed_id").cast("long").alias("seed_id"),
        F.lit(discovered_in).cast("int").alias("discovered_in"),
    )


def dedup_frontier(df: DataFrame) -> DataFrame:
    """One row per ``url_hash``, the min (priority, page_num, discovered_in,
    seed_id, url): oracle steps 1 and 6. 'url' completes the tiebreak, as
    ':80' / '#frag' variants share a url_hash and may tie on the rest."""
    w = Window.partitionBy("url_hash").orderBy(
        "priority", "page_num", "discovered_in", "seed_id", "url"
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def complete_headernames(downloads: DataFrame, pages: DataFrame) -> DataFrame:
    """K2: complete ``{postid}-{attid}`` prefixes from each attachment URL's
    Content-Disposition header — the batch re-expression of
    ``ADNameFromHeader`` (afterdownload.go:27-46; header read from the
    download response, downloader.go:121-143).

    Plain equi-join on the attachment URL: the per-round downloads side is
    small, so AQE broadcasts it against the big pages table. Reference error
    parity: no header/field -> "No Content-disposition header field found";
    matched-but-bad field -> "malformed filename ..." (both surface as err
    rows like the reference's RenameError, with out_name='').
    """
    hdrs = pages.select(
        F.col("url").alias("abs_url"), F.col("content_disposition").alias("_cd")
    )
    cols = downloads.columns
    joined = downloads.join(hdrs, "abs_url", "left")
    field = header_filename_field_col("_cd")
    raw_field = header_filename_raw_field_col("_cd")
    name = header_filename_col("_cd")
    had_err = F.col("err") != ""
    err = (
        F.when(had_err, F.col("err"))
        .when(field.isNull(), F.lit(extract_mod.NO_HEADER_FIELD_ERR))
        .when(
            name == "",
            # UNTRIMMED field in the message (downloader.go:133 parity)
            F.concat(
                F.lit("malformed filename in Content-disposition header: "),
                raw_field,
            ),
        )
        .otherwise(F.lit(""))
    )
    out_name = F.when(had_err | field.isNull() | (name == ""), F.lit("")).otherwise(
        F.concat(F.col("out_name"), F.lit("-"), name)
    )
    return (
        joined.withColumn("out_name", out_name)
        .withColumn("err", err)
        .select(*cols)
    )


class CrawlDriver:
    """Multi-round crawl driver with deterministic resume.

    All state lives in the warehouse; the driver instance is stateless —
    constructing a new driver over the same warehouse root continues the
    crawl exactly where the last committed round left it.
    """

    def __init__(self, spark: SparkSession, cfg: CrawlConfig):
        self.spark = spark
        self.cfg = cfg
        self.wh = Warehouse(spark, cfg.warehouse_root)
        # the gates' and politeness' small dims are local relations: their
        # broadcasts run no Spark job
        self._robots_df = (
            robots_table(spark, cfg.robots, cfg.user_agent) if cfg.robots else None
        )
        # composes with salt_partitions > 1: the salted single-pass ranker
        # takes per-host budget columns exactly (politeness.py phase-1
        # prune / phase-2 regroup are per-host expressions), so a
        # crawl-delayed hot host keeps both its tiny budget and the skew
        # defense. None when no host asks for a delay.
        self._host_budgets_df = (
            crawl_delay_budgets(
                spark, cfg.robots, cfg.budget,
                cfg.crawl_delay_round_seconds, cfg.user_agent,
            )
            if cfg.crawl_delay_round_seconds > 0
            else None
        )
        self._excludes_df = (
            local_table(spark, [(u,) for u in cfg.excludes], "url string")
            if cfg.excludes
            else None
        )

    @cached_property
    def _pages(self) -> DataFrame:
        """The pages table, read once per driver on first use (one schema-
        inference job); a driver that runs no round never needs it.

        Its shape is decided here: ``url, html`` plus the optional columns,
        each filled with a literal default when the table lacks it (no
        headers: every header completion fails loudly). A literal folds in
        the optimizer, so the redirect cap over a table without
        ``n_redirects`` plans no Filter and its scan reads only ``url, html``.
        """
        pages = self.spark.read.parquet(self.cfg.pages_path)
        defaults = {
            "content_type": F.lit(CT_DEFAULT),
            "n_redirects": F.lit(0),
            "content_disposition": F.lit(None).cast("string"),
        }
        return pages.select("url", "html", *[
            F.col(c) if c in pages.columns else v.alias(c)
            for c, v in defaults.items()
        ])

    # -- state access (always via round-log-pinned snapshots) -------------
    def _pinned(self, round_no: int, table: str) -> DataFrame:
        sid = self.wh.round_snapshot(round_no, table)
        return self.wh.read(table, sid)

    def bootstrap(self) -> None:
        if self.wh.last_committed_round() is not None:
            return
        seeds_df = self.spark.createDataFrame(
            [(t[0], t[1], t[2], t[3] if len(t) > 3 else -1) for t in self.cfg.seeds],
            "url string, seed_id long, priority int, page_num int",
        )
        # seen starts empty: deduped seeds satisfy the frontier invariant
        f_sid = self.wh.write(
            "frontier", dedup_frontier(frontier_from_urls(seeds_df, -1))
        )
        s_sid = self.wh.write(
            "seen", self.spark.createDataFrame([], "url_hash long")
        )
        self.wh.commit_round(-1, {"frontier": f_sid, "seen": s_sid}, {"bootstrap": True})

    def rounds(self, max_rounds: int | None = None) -> Iterator[dict[str, Any]]:
        """Run (or resume) the crawl one round per step, yielding each
        committed round's meta, until the frontier drains or the round cap
        is hit. Each round's commit is the exactly-once barrier, so a
        consumer driving this from a streaming trigger (one round per
        micro-batch) resumes from a new driver over the same warehouse."""
        self.bootstrap()
        cap = max_rounds if max_rounds is not None else self.cfg.max_rounds
        log = self.wh.round_log()
        last = max(int(k) for k in log)  # bootstrap committed round -1
        if log[str(last)]["meta"].get("done"):
            return
        for r in range(last + 1, cap):
            meta = self.run_round(r)
            yield meta
            if meta["done"]:
                return

    def run(self, max_rounds: int | None = None) -> dict[str, Any]:
        """Run (or resume) the crawl until the frontier drains or the round
        cap is hit. Returns a summary dict."""
        for _ in self.rounds(max_rounds):
            pass
        return self._summary()

    def run_round(self, r: int) -> dict[str, Any]:
        cfg = self.cfg
        # the round log is parsed once per round: round r-1's snapshots pin
        # every read and every append parent below ("" = fresh chain), so a
        # crashed round's orphan snapshots never enter the lineage on resume
        prev = self.wh.round_log().get(str(r - 1), {}).get("tables", {})
        pin = lambda t: prev.get(t) or ""
        frontier = self.wh.read("frontier", prev.get("frontier"))

        # --- gates (P1 excludes, P7 robots; no seen gate: the invariant) --
        cand = frontier
        if self._excludes_df is not None:
            cand = cand.join(F.broadcast(self._excludes_df), "url", "left_anti")
        if self._robots_df is not None:
            cand = robots_gate(cand, self._robots_df)

        # --- politeness window (W1) ---------------------------------------
        ranked = rank_fetch_slots(
            cand, cfg.budget, salt_partitions=cfg.salt_partitions,
            host_budgets=self._host_budgets_df,
        ).persist()
        scheduled = ranked.filter(F.col("scheduled"))
        deferred = ranked.filter(~F.col("scheduled")).select(*FRONTIER_COLS)

        # --- seen ∪= scheduled (oracle step 4), then its Bloom ------------
        sids = {"seen": self.wh.append(
            "seen", scheduled.select("url_hash"), parent_snapshot=pin("seen")
        )}
        seen_next = self.wh.read("seen", sids["seen"])
        # incremental Bloom: OR-in only this round's delta, carry untouched
        # partitions as manifest pointers (per-round cost ∝ the delta, not
        # |seen|); overflowing partitions alone rebuild from the full table,
        # and so does every partition when round r-1 left no Bloom of this P
        bloom_next = bloom_stats = None
        if cfg.bloom_partitions > 0:
            bloom_dir = f"{cfg.warehouse_root}/bloom/r{r:05d}"
            bloom_stats = dedup.update_partitioned_bloom(
                self.wh.read_delta("seen", sids["seen"]), prev.get("bloom_dir"),
                bloom_dir, cfg.bloom_partitions, seen_full=seen_next,
            )
            bloom_next = dedup.BloomSpec(bloom_dir, cfg.bloom_partitions)

        # --- fetch = join pages (J3) + extraction (H9/H10) ----------------
        # content_disposition stays out of the persisted fetched frame: only
        # the header completion reads it, from the pages table directly
        pages = self._pages.select("url", "html", "content_type", "n_redirects")
        # P6 redirect policy (redirect.go:16-33): Deny errors on ANY
        # redirect, Log past the cap of 10 — a failed GET means the page is
        # NOT fetched (no text, no links, no downloads) but the url stays
        # seen: the attempt happened.
        joined = scheduled.join(pages, "url", "inner").filter(
            F.col("n_redirects") <= (10 if cfg.allow_redirect else 0)
        )
        # Fused extraction: ONE ArrowEvalPython stage decodes + parses each
        # page once and emits struct(text, links, files); the text sink, the
        # frontier link growth and the crawler-family downloads are three
        # selects over the SAME persisted result (pre-fusion each ran its own
        # UDF = 2-3 decode+parse passes per page — the dominant 100-TB CPU
        # multiplier). html is dropped before the persist: nothing downstream
        # needs the raw blob once _ex is computed.
        fused = make_extract_fused_udf(
            cfg.crawler,
            cfg.headernames,
            cfg.tags,
            list(cfg.attrs) or None,
            want_links=cfg.follow_links,
        )
        fetched = (
            joined.withColumn(
                "_ex", fused("html", "url", "page_num", "content_type")
            )
            .drop("html")
            .persist()
        )
        fetched_out = fetched.select(
            F.lit(r).alias("round"),
            "url",
            "url_hash",
            "host",
            F.col("_ex.text").alias("text"),
        )

        if cfg.follow_links:
            links = fetched.select(
                F.col("url").alias("page_url"),
                F.col("seed_id"),
                F.explode("_ex.links").alias("l"),
            ).select("page_url", "seed_id", F.col("l.abs_url").alias("url"))
            entries = frontier_from_urls(links.select(
                "url", "seed_id",
                priority_score_col("page_url", "url").alias("priority"),
            ), r)
            # the one seen check a url gets: links not in seen ∪ scheduled
            # (with the Bloom its probe runs jobs here, materializing fetched)
            new_entries = dedup.dedup_against_seen(entries, seen_next, bloom_next).persist()
        else:
            new_entries = deferred.limit(0)

        # --- crawler-family downloads (the reference's primary output) ----
        downloads = None
        if cfg.crawler in ("vb-attachments", "src"):
            downloads = fetched.select(
                F.lit(r).alias("round"), F.col("url").alias("page_url"),
                "page_num", F.explode("_ex.files").alias("f"),
            ).select("round", "page_url", "page_num", "f.*")
            if cfg.crawler == "vb-attachments" and cfg.headernames:
                downloads = complete_headernames(downloads, self._pages)
        elif cfg.crawler == "file":
            # every frontier url IS the download (crawlers.go:191-212),
            # named from Go's decoded url.Path, where '+' stays literal
            path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
            name = F.regexp_extract(
                F.try_url_decode(F.regexp_replace(path, r"\+", "%2B")),
                r"/([^/]+)$", 1,
            )
            downloads = scheduled.select(
                F.lit(r).alias("round"), F.col("url").alias("page_url"),
                "page_num", F.lit("file").alias("kind"), F.col("url").alias("link"),
                F.col("url").alias("abs_url"),
                # "{page} - {name}"; empty name -> dispatcher temp-name case
                # (downloader.go:261-264), marked by an empty out_name here
                F.when(name == "", F.lit("")).otherwise(
                    F.concat(F.col("page_num").cast("string"), F.lit(" - "), name)
                ).alias("out_name"),
                F.lit("").alias("dir_rel"), F.lit("").alias("post_id"),
                F.lit(0).alias("att_id"), F.lit(-1).alias("element_index"),
                F.lit("").alias("err"),
            )

        # --- merge deferred ∪ new, dedup by url_hash (oracle step 6) ------
        frontier_next = dedup_frontier(deferred.unionByName(new_entries))

        # --- per-partition lineage metrics (A5) ---------------------------
        # one aggregation over the tagged union of the three row sets: a
        # partition gets a row when any of them has a row there
        P = METRICS_PARTITIONS
        counted = ("n_scheduled", "n_fetched", "n_new_links")
        tagged = reduce(DataFrame.union, [
            df.select(
                F.pmod(F.col("url_hash"), F.lit(P)).cast("int").alias("partition_id"),
                F.lit(i).alias("_src"),
            )
            for i, df in enumerate((scheduled, fetched, new_entries))
        ])
        metrics = tagged.groupBy("partition_id").agg(
            *[F.count_if(F.col("_src") == i).alias(c) for i, c in enumerate(counted)]
        ).select(F.lit(r).alias("round"), "partition_id", *counted)

        # --- snapshot writes, then the round commit barrier ---------------
        fetch_log_r = scheduled.select(
            F.lit(r).alias("round"), "url", "url_hash", "host", "priority",
            "page_num", "seed_id", "fetch_rank", "slot", "wave",
        )
        sids.update({
            "frontier": self.wh.write("frontier", frontier_next),
            "fetch_log": self.wh.append(
                "fetch_log", fetch_log_r, parent_snapshot=pin("fetch_log")
            ),
            "fetched": self.wh.append(
                "fetched", fetched_out, parent_snapshot=pin("fetched")
            ),
            "metrics": self.wh.append(
                "metrics", metrics, parent_snapshot=pin("metrics")
            ),
        })
        if downloads is not None:
            sids["downloads"] = self.wh.append(
                "downloads", downloads, parent_snapshot=pin("downloads")
            )
        ranked.unpersist()
        fetched.unpersist()
        new_entries.unpersist()

        # what this round's writes added, from their snapshot summaries (no
        # count job); read before compaction replaces the append snapshots
        added = {}
        for t, sid in sids.items():
            s = self.wh.summary(t, sid)
            added[t] = {k: s[k] for k in ("added_rows", "added_bytes", "added_files")}

        if bloom_next is not None:
            sids["bloom_dir"] = bloom_dir

        # --- small-file compaction (must run AFTER Bloom maintenance: the
        # delta read needs the APPEND snapshot — a compacted snapshot's own
        # dir is the whole table). The round log then pins the compacted
        # snapshot, so reads and resumes see O(compact_every) dirs.
        if cfg.compact_every > 0 and (r + 1) % cfg.compact_every == 0:
            for t in ("seen", "fetch_log", "fetched", "metrics", "downloads"):
                if t in sids:  # frontier is a full overwrite (1 dir) already
                    sids[t] = self.wh.compact(t, sids[t], meta={"round": r})

        # fetch_log's append holds exactly this round's scheduled rows
        n_next = added["frontier"]["added_rows"]
        n_sched = added["fetch_log"]["added_rows"]
        meta = {"round": r, "n_scheduled": n_sched, "n_frontier_next": n_next,
                "done": n_next == 0 or n_sched == 0,
                "n_fetched": added["fetched"]["added_rows"], "added": added}
        if bloom_stats is not None:
            meta["bloom"] = bloom_stats
        self.wh.commit_round(r, sids, meta)
        # --- snapshot expiry AFTER the commit barrier: the round log always
        # points at live snapshots; a crash mid-expiry leaves garbage dirs,
        # never a pinned-but-deleted snapshot.
        if cfg.expire_keep_rounds > 0:
            self._expire_old_rounds(r)
        return meta

    def _expire_old_rounds(self, r: int) -> None:
        """Keep only the last ``expire_keep_rounds`` rounds' snapshots (plus
        each table's current) and the Bloom dirs they reference."""
        cutoff = r - self.cfg.expire_keep_rounds + 1
        log = self.wh.round_log()
        kept = [log[k]["tables"] for k in log if int(k) >= cutoff]
        per_table: dict[str, set] = {}
        for tables in kept:
            for t, sid in tables.items():
                if t != "bloom_dir":
                    per_table.setdefault(t, set()).add(sid)
        for t, keep in per_table.items():
            self.wh.expire_snapshots(t, keep)
        dedup.expire_bloom_dirs(
            f"{self.cfg.warehouse_root}/bloom",
            {t["bloom_dir"] for t in kept if "bloom_dir" in t},
        )

    # -- result readers ----------------------------------------------------
    def _last(self, table: str) -> DataFrame:
        return self._pinned(self.wh.last_committed_round(), table)

    def crawl_order(self) -> DataFrame:
        """Exact global crawl order (W2): (rank, round, url).

        Scalable global numbering — the former ``Window.orderBy`` with no
        partition key forced every fetch_log row through ONE task (the
        driver-bottleneck shape the engine bans; dead at 10^10 rows). Now:
        range-partition + sort within partitions (a normal parallel sort),
        take per-partition counts (one tiny agg — P rows to the driver),
        and add each partition's cumulative offset to its local row number.
        ``monotonically_increasing_id`` is ``partition index << 33`` plus the
        row's position in its partition, so the position is read on the JVM
        with no further exchange. ``localCheckpoint`` pins the sorted layout
        so the count and numbering passes see identical partitions; its
        blocks free on GC.
        """
        keys = ["round", "priority", "page_num", "url_hash"]
        base = self._last("fetch_log").select(
            "round", "url", "priority", "page_num", "url_hash"
        )
        ranged = (
            base.repartitionByRange(*[F.col(k) for k in keys])
            .sortWithinPartitions(*keys)
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint()
        )
        counts = {
            r["_pid"]: r["n"]
            for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_map = (
            F.create_map(
                *[x for p, o in offsets.items() for x in (F.lit(p), F.lit(o))]
            )
            if offsets
            else F.create_map()
        )
        lrn = F.monotonically_increasing_id() - F.col("_pid") * (1 << 33) + 1
        return ranged.select(
            # long, not int: the whole point of this rewrite is 10^10-row
            # fetch logs, where offset+lrn exceeds 2^31 and an int cast
            # silently wraps to wrong/negative ranks.
            (F.coalesce(off_map[F.col("_pid")], F.lit(0)) + lrn)
            .cast("long")
            .alias("rank"),
            "round", "url", "priority", "page_num", "url_hash",
        )

    def seen_set(self) -> DataFrame:
        return self._last("seen")

    def fetched_texts(self) -> DataFrame:
        return self._last("fetched").select("url", "text")

    def downloads(self) -> DataFrame:
        """The crawler family's download rows (reference primary output)."""
        return self._last("downloads")

    def metrics(self) -> DataFrame:
        return self._last("metrics")

    def _summary(self) -> dict[str, Any]:
        log = self.wh.round_log()
        rounds = sorted(int(k) for k in log if int(k) >= 0)
        last = log[str(rounds[-1])] if rounds else None
        return {
            "rounds": len(rounds),
            "last_round": rounds[-1] if rounds else None,
            "n_seen": self.wh.read("seen", last["tables"]["seen"]).count() if last else 0,
            "done": last is not None and last["meta"].get("done", False),
        }
