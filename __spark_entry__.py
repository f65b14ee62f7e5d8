"""Driver contract for the crawl loop's relational operators (PySpark).

``entry(spark)`` — flagship crawl-round pipeline on sf0.001.
``queries()``    — one entry per crawl-loop operator (SURVEY.md §2),
                   each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twins (same column names, same
                   aliases). The incremental Bloom and the full crawl
                   roundtrip have no SQL twin — the driver records a
                   rows-only check for them.

Cross-engine determinism rules used throughout:
* no xxhash64 in compared outputs (DuckDB lacks it);
* every computed column aliased identically on both sides;
* decimal sums, so summation order cannot change a compared value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bbcrawl_spark import pagers
from bbcrawl_spark.functions import udfs
from bbcrawl_spark.operators import politeness, priority


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # The sf tables are single parquet files, so the scan yields 1-2 input
    # splits and every query riding it runs near-serial. Spread under-split
    # scans to cluster parallelism; a scan already at or above
    # defaultParallelism (the many-file case) is returned untouched, so no
    # exchange is ever added to a properly-split input. Row placement does
    # not affect any declared query's output: every query orders/ranks by
    # deterministic keys.
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    return df



#: deterministic synthetic URL built from the events table — used by the
#: URL-centric operator oracles (the TPC-H-ish tables have no URL column).
#: Covers: uppercase scheme/host, default and explicit ports, paths with
#: vb4-style /pageN suffixes, query-style pagination.
_URL_SQL = (
    "CASE CAST(event_id % 4 AS INT) "
    " WHEN 0 THEN 'HTTP://Forum' || CAST(user_id AS STRING) || '.Example.com:80/b' "
    "   || CAST(event_id % 3 AS STRING) || '/t' || CAST(event_id % 50 AS STRING) "
    " WHEN 1 THEN 'http://forum' || CAST(user_id AS STRING) || '.example.com/b' "
    "   || CAST(event_id % 3 AS STRING) || '/t' || CAST(event_id % 50 AS STRING) "
    "   || '/page' || CAST(1 + (event_id % 7) AS STRING) "
    " WHEN 2 THEN 'https://Forum' || CAST(user_id AS STRING) || '.example.com:443/board'"
    "   || '?page=' || CAST(1 + (event_id % 7) AS STRING) || '&id=' || CAST(event_id % 5 AS STRING) "
    " ELSE 'http://cdn' || CAST(user_id % 7 AS STRING) || '.example.net:8080/f/' "
    "   || CAST(event_id % 100 AS STRING) || '.jpg#frag' "
    "END"
)


def _events_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_events_tmp")
    return spark.sql(
        f"SELECT event_id, user_id, {_URL_SQL} AS url FROM _events_tmp"
    )


_URL_CTE = f"WITH u AS (SELECT event_id, user_id, {_URL_SQL} AS url FROM events)"

# canonical-form SQL (twin of udfs.canonicalize_col; identical regexes)
_CANON_SQL = """
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*):', 1)) || '://' ||
    CASE lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*):', 1))
      WHEN 'http'  THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':80$', '')
      WHEN 'https' THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':443$', '')
      ELSE lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1))
    END ||
    CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) = ''
         THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) END ||
    CASE WHEN regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) = ''
         THEN '' ELSE '?' || regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) END
"""


# ---------------------------------------------------------------------------
# the queries
# ---------------------------------------------------------------------------


def _pager_rows(spark: SparkSession, spec: pagers.PagerSpec) -> DataFrame:
    return udfs.local_table(
        spark,
        [(0, o, p, u) for o, p, u in pagers.pager_sequence(spec)],
        "seed_id long, ord long, page_num int, url string",
    )


def q_frontier_cutter(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = pagers.CutterPagerSpec(
        url="http://www.example.net/1/test", start=1, end=100, cut=(24, 1), digits=5
    )
    return _pager_rows(spark, spec)


def q_frontier_vb4(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = pagers.VB4PagerSpec(url="http://forum.example.net/threads/42", start=1, end=50)
    return _pager_rows(spark, spec)


def q_frontier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = pagers.QueryPagerSpec(url="http://h.example/f?z=9&a=1", start=2, end=60)
    return _pager_rows(spark, spec)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = _events_urls(spark, sf_dir)
    return u.select("event_id", udfs.canonicalize_col("url").alias("canon_url"))


def q_seen_dedup_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/J1 over events: candidate urls (clicks) anti-joined against the
    seen set (urls of error events)."""
    u = _events_urls(spark, sf_dir)
    ev = _read(spark, sf_dir, "events").select("event_id", "event_type")
    cand = (
        u.join(ev, "event_id")
        .filter(F.col("event_type") == "click")
        .select(udfs.canonicalize_col("url").alias("canon_url"))
        .distinct()
    )
    seen = (
        u.join(ev, "event_id")
        .filter(F.col("event_type") == "error")
        .select(udfs.canonicalize_col("url").alias("canon_url"))
        .distinct()
    )
    return cand.join(seen, "canon_url", "left_anti")


def q_exclude_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/J2: broadcast anti-join of lineitem against a tiny literal
    exclude list."""
    li = _read(spark, sf_dir, "lineitem")
    excl = spark.createDataFrame([(1,), (2,), (3,), (5,), (8,)], "l_orderkey long")
    return (
        li.join(F.broadcast(excl), "l_orderkey", "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), F.sum("l_quantity").alias("sum_qty"))
    )


def q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/O4: per-host (= customer) top-3 by deterministic order key."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("fetch_rank", F.row_number().over(w))
        .filter(F.col("fetch_rank") <= 3)
        .select("o_custkey", "o_orderkey", "fetch_rank")
    )


def q_politeness_host_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 + Crawl-delay: per-host budget OVERRIDES through the single-pass
    flag ranker — hosts ending in 0 get budget 1, ending in 5 get 2,
    everyone else the default 3 (the shape crawl_delay_budgets emits)."""
    o = _read(spark, sf_dir, "orders")
    frontier = o.select(
        F.col("o_custkey").cast("string").alias("host"),
        "o_orderkey",
        "o_orderdate",
    )
    budgets = (
        o.select(F.col("o_custkey").alias("ck")).distinct()
        .filter(F.pmod("ck", F.lit(10)).isin(0, 5))
        .select(
            F.col("ck").cast("string").alias("host"),
            F.when(F.pmod("ck", F.lit(10)) == 0, F.lit(1))
            .otherwise(F.lit(2))
            .alias("budget"),
        )
    )
    ranked = politeness.rank_fetch_slots(
        frontier,
        budget=3,
        order_cols=("o_orderdate", "o_orderkey"),
        key_col="o_orderkey",
        host_budgets=budgets,
    )
    return ranked.select(
        "host",
        "o_orderkey",
        F.col("fetch_rank").cast("int").alias("fetch_rank"),
        F.col("scheduled").cast("int").alias("sched_int"),
    )


def q_fetch_slot_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/W1: the dispatcher's slot/wave layout (concurrency 5) per host."""
    o = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("host"),
        F.col("o_orderkey").alias("url_id"),
        F.col("o_orderdate").alias("ts"),
    )
    w = Window.partitionBy("host").orderBy("ts", "url_id")
    r = F.row_number().over(w)
    return o.select(
        "host",
        "url_id",
        r.alias("fetch_rank"),
        ((r - 1) % 5).cast("int").alias("slot"),
        F.floor((r - 1) / 5).cast("int").alias("wave"),
    ).filter(F.col("fetch_rank") <= 10)


def q_crawl_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: global deterministic order over a bounded scheduled set."""
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    w = Window.orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.row_number().over(w).alias("rank"), "o_orderkey", "o_orderdate"
    )


def q_seen_union_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/U4: seen ∪ new, exactly once."""
    ev = _read(spark, sf_dir, "events")
    seen = ev.filter(F.col("event_type") == "view").select("user_id")
    new = ev.filter(F.col("event_type") == "click").select("user_id")
    return seen.unionByName(new).distinct()


def q_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: round metrics aggregation shape."""
    ev = _read(spark, sf_dir, "events")
    # decimal sum: double summation order differs across engines and floor
    # sits exactly on integer boundaries for 2-decimal inputs
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long").alias("sum_value_c"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_redirect_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: Deny/Log redirect policies as columns (cap 10, redirect.go:12)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % 13).alias("n_redirects")
    )
    deny = F.when(F.col("n_redirects") > 0, F.lit("error")).otherwise(F.lit("ok"))
    log = F.when(F.col("n_redirects") > 10, F.lit("error")).otherwise(F.lit("ok"))
    return ev.select(
        "event_id", "n_redirects", deny.alias("deny_status"), log.alias("log_status")
    )


#: robots.txt bodies over the synthetic URL table: an Allow carve-out under
#: a Disallow (longest match wins), '*' wildcards, a '$' end anchor, and a
#: mixed-case host key and agent line (both compare case-insensitively)
_ROBOTS_TXTS = {
    "Forum1.Example.com": "User-agent: *\nDisallow: /b0\nAllow: /b0/t1\n",
    "forum2.example.com": "User-agent: *\nDisallow: /b*/t1\n",
    "cdn1.example.net": "USER-AGENT: *\nDisallow: /f/*.jpg\n",
    "cdn2.example.net": "User-agent: *\nDisallow: /f/9$\n",
}


def _robots_values() -> str:
    """DuckDB VALUES rows for the robots oracle — rules from the same parser
    and regexes from the same robots_regex translation the Spark rules
    table uses (twin lockstep)."""
    from bbcrawl_spark.operators import robots

    return ", ".join(
        f"('{h.lower()}', {str(a).upper()}, {len(p)}, '{robots.robots_regex(p)}')"
        for h, txt in _ROBOTS_TXTS.items()
        for p, a in robots.parse_robots_txt(txt)
    )


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: Allow/Disallow with longest-match precedence (allow wins ties)
    and '*'/'$' wildcards, per RFC 9309."""
    from bbcrawl_spark.operators import robots

    u = _events_urls(spark, sf_dir)
    rules = robots.robots_table(spark, _ROBOTS_TXTS)
    return robots.robots_gate(u, rules).select("event_id", "url")


def q_header_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: Content-Disposition filename extraction as a column expr."""
    d = _read(spark, sf_dir, "documents")
    hdr = F.concat(
        F.lit('attachment; filename="'),
        F.col("source"),
        F.lit("-"),
        F.col("doc_id").cast("string"),
        F.lit('.txt"'),
    )
    hdr = F.when(F.col("doc_id") % 7 == 0, F.lit("inline")).otherwise(hdr)
    return d.select(
        "doc_id", udfs.header_filename_col(hdr).alias("header_name")
    )


def q_vb_headername_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: '{prefix}-{headername}' completion with the reference's exact
    NameFromHeader semantics (downloader.go:121-143, afterdownload.go:27-46):
    ok / missing-field / malformed ('=' in name) / path-separator branches."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    hdr = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('attachment; filename="f'), did, F.lit('.pdf"')))
        .when(F.col("doc_id") % 4 == 1, F.lit("inline"))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit('attachment; filename="a='), did, F.lit('.pdf"')))
        .otherwise(F.concat(F.lit('attachment; filename="p/'), did, F.lit('.pdf"')))
    )
    field = udfs.header_filename_field_col(hdr)
    name = udfs.header_filename_col(hdr)
    prefix = F.concat(F.col("source"), F.lit("-"), (F.col("doc_id") % 9 + 1).cast("string"))
    return d.select(
        "doc_id",
        F.when(name == "", F.lit("")).otherwise(
            F.concat(prefix, F.lit("-"), name)
        ).alias("out_name"),
        F.when(field.isNull(), F.lit("no_header"))
        .when(name == "", F.lit("malformed"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


def q_priority_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: pagination-aware priority over constructed (page, link) pairs."""
    u = _events_urls(spark, sf_dir).filter(F.col("event_id") % 4 == 1)
    page = F.col("url")
    nxt = F.regexp_replace(F.col("url"), "/page[0-9]+$", "/page9")
    cross = F.lit("http://other.example.org/b0/t0")
    samehost = F.concat(
        F.lit("http://"), udfs.host_of("url"), F.lit("/elsewhere")
    )
    pairs = u.select(
        "event_id", page.alias("page_url"),
        F.when(F.col("event_id") % 3 == 0, nxt)
        .when(F.col("event_id") % 3 == 1, samehost)
        .otherwise(cross)
        .alias("link_url"),
    )
    return pairs.select(
        "event_id", "page_url", "link_url",
        priority.priority_score_col("page_url", "link_url").alias("priority"),
    )


# --- rows-only (no SQL twin) ---------------------------------------------


def q_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only evidence of the incremental seen-Bloom maintenance: build
    over a base set, OR-in a delta, and report the per-partition operation
    mix plus a zero-false-negative check (must be 0) — all deterministic
    given the sf tables."""
    import tempfile

    from bbcrawl_spark.operators import dedup

    u = _events_urls(spark, sf_dir).select(
        "event_id", udfs.url_hash_col("url").alias("url_hash")
    )
    # small delta (~6% of events) confined to bloom partitions 0-1 so the
    # result exercises BOTH the OR-in update and the pointer-carry paths
    # without overflowing the pow2 fill headroom
    base = u.filter(F.col("event_id") % 16 != 0).select("url_hash").distinct()
    delta = (
        u.filter((F.col("event_id") % 16 == 0) & (F.pmod("url_hash", F.lit(8)) < 2))
        .select("url_hash")
        .distinct()
        .join(base, "url_hash", "left_anti")
    )
    tmp = tempfile.mkdtemp(prefix="bloom_incr_entry_")
    d0, d1 = f"{tmp}/r0", f"{tmp}/r1"
    dedup.build_partitioned_bloom(base, d0, num_partitions=8)
    stats = dedup.update_partitioned_bloom(
        delta, d0, d1, 8, seen_full=base.unionByName(delta)
    )
    spec = dedup.BloomSpec(d1, 8)
    flagged = dedup.bloom_maybe_seen(base.unionByName(delta), spec)
    n_fn = flagged.filter("NOT maybe_seen").count()  # bloom law: must be 0
    rows = [(f"n_{op}", len(pids)) for op, pids in sorted(stats.items())]
    rows.append(("n_false_negatives", n_fn))
    return spark.createDataFrame(rows, "metric string, value long")


def q_crawl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-round crawl over the deterministic board-site fixture
    (rows-only: the equivalence gate lives in tests/test_crawl_e2e.py)."""
    import tempfile

    from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver
    from bbcrawl_spark.sources.boardsite import make_board_site

    site = make_board_site(hosts=2, boards=2, threads=2, pages_per_thread=2)
    tmp = tempfile.mkdtemp(prefix="bbcrawl_entry_")
    pages = f"{tmp}/pages.parquet"
    site.to_df(spark).write.mode("overwrite").parquet(pages)
    cfg = CrawlConfig(
        pages_path=pages, warehouse_root=f"{tmp}/wh", seeds=site.seeds,
        budget=3, max_rounds=12, excludes=tuple(site.excludes), robots=site.robots,
    )
    drv = CrawlDriver(spark, cfg)
    drv.run()
    return drv.crawl_order().select("rank", "round", "url", "priority", "page_num")


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl-round relational core (dedup anti-join ->
    politeness window -> slot assignment) over sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    return q_fetch_slot_assignment(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "frontier_cutter": q_frontier_cutter,
        "frontier_vb4": q_frontier_vb4,
        "frontier_query": q_frontier_query,
        "url_canonicalize": q_url_canonicalize,
        "seen_dedup_antijoin": q_seen_dedup_antijoin,
        "exclude_filter": q_exclude_filter,
        "politeness_topk": q_politeness_topk,
        "politeness_host_budgets": q_politeness_host_budgets,
        "fetch_slot_assignment": q_fetch_slot_assignment,
        "crawl_order_rank": q_crawl_order_rank,
        "seen_union_growth": q_seen_union_growth,
        "metrics_rollup": q_metrics_rollup,
        "redirect_policy": q_redirect_policy,
        "robots_gate": q_robots_gate,
        "header_filename": q_header_filename,
        "vb_headername_complete": q_vb_headername_complete,
        "priority_score": q_priority_score,
        # rows-only (no SQL equivalent):
        "bloom_incremental": q_bloom_incremental,
        "crawl_roundtrip": q_crawl_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "frontier_cutter": """
            SELECT CAST(0 AS BIGINT) AS seed_id, CAST(p - 1 AS BIGINT) AS ord,
                   CAST(p AS INT) AS page_num,
                   'http://www.example.net/' || lpad(CAST(p AS STRING), 5, '0') || '/test' AS url
            FROM generate_series(1, 100) AS t(p)
        """,
        "frontier_vb4": """
            SELECT CAST(0 AS BIGINT) AS seed_id, CAST(p - 1 AS BIGINT) AS ord,
                   CAST(p AS INT) AS page_num,
                   CASE WHEN p = 1 THEN 'http://forum.example.net/threads/42'
                        ELSE 'http://forum.example.net/threads/42/page' || CAST(p AS STRING) END AS url
            FROM generate_series(1, 50) AS t(p)
        """,
        "frontier_query": """
            SELECT CAST(0 AS BIGINT) AS seed_id, CAST(p - 2 AS BIGINT) AS ord,
                   CAST(p AS INT) AS page_num,
                   'http://h.example/f?a=1&page=' || CAST(p AS STRING) || '&z=9' AS url
            FROM generate_series(2, 60) AS t(p)
        """,
        "url_canonicalize": f"""
            {_URL_CTE}
            SELECT event_id, {_CANON_SQL} AS canon_url FROM u
        """,
        "seen_dedup_antijoin": f"""
            {_URL_CTE}
            SELECT DISTINCT {_CANON_SQL} AS canon_url
            FROM u JOIN events USING (event_id)
            WHERE events.event_type = 'click'
            AND {_CANON_SQL} NOT IN (
                SELECT {_CANON_SQL} FROM u JOIN events USING (event_id)
                WHERE events.event_type = 'error')
        """,
        "exclude_filter": """
            SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty
            FROM lineitem WHERE l_orderkey NOT IN (1, 2, 3, 5, 8)
            GROUP BY l_returnflag
        """,
        "politeness_host_budgets": """
            WITH r AS (
              SELECT CAST(o_custkey AS STRING) AS host, o_orderkey,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS rn,
                     CASE WHEN o_custkey % 10 = 0 THEN 1
                          WHEN o_custkey % 10 = 5 THEN 2
                          ELSE 3 END AS b
              FROM orders)
            SELECT host, o_orderkey,
                   CAST(CASE WHEN rn <= b THEN rn ELSE 0 END AS INT) AS fetch_rank,
                   CAST(rn <= b AS INT) AS sched_int
            FROM r
        """,
        "politeness_topk": """
            SELECT o_custkey, o_orderkey, fetch_rank FROM (
                SELECT o_custkey, o_orderkey,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS fetch_rank
                FROM orders) WHERE fetch_rank <= 3
        """,
        "fetch_slot_assignment": """
            SELECT host, url_id, fetch_rank,
                   CAST((fetch_rank - 1) % 5 AS INT) AS slot,
                   CAST(floor((fetch_rank - 1) / 5) AS INT) AS wave
            FROM (
                SELECT o_custkey AS host, o_orderkey AS url_id,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS fetch_rank
                FROM orders)
            WHERE fetch_rank <= 10
        """,
        "crawl_order_rank": """
            SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rank,
                   o_orderkey, o_orderdate
            FROM orders WHERE o_orderkey % 10 = 0
        """,
        "seen_union_growth": """
            SELECT user_id FROM events WHERE event_type = 'view'
            UNION
            SELECT user_id FROM events WHERE event_type = 'click'
        """,
        "metrics_rollup": """
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "redirect_policy": """
            SELECT event_id, CAST(event_id % 13 AS BIGINT) AS n_redirects,
                   CASE WHEN event_id % 13 > 0 THEN 'error' ELSE 'ok' END AS deny_status,
                   CASE WHEN event_id % 13 > 10 THEN 'error' ELSE 'ok' END AS log_status
            FROM events
        """,
        "robots_gate": f"""
            {_URL_CTE},
            d AS (SELECT event_id, url,
                    regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS host,
                    CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) = ''
                         THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) END AS path
                  FROM u),
            rules AS (SELECT * FROM (VALUES {_robots_values()}) AS r(r_host, allow, plen, rx)),
            m AS (SELECT d.event_id, r.allow,
                         ROW_NUMBER() OVER (PARTITION BY d.event_id
                                            ORDER BY r.plen DESC, r.allow DESC) AS rn
                  FROM d JOIN rules r
                    ON d.host = r.r_host AND regexp_matches(d.path, r.rx))
            SELECT event_id, url FROM d
            WHERE event_id NOT IN (SELECT event_id FROM m WHERE rn = 1 AND NOT allow)
        """,
        "header_filename": """
            SELECT doc_id,
                   CASE WHEN contains(name_match, '/') THEN '' ELSE name_match END AS header_name
            FROM (
                SELECT doc_id,
                       regexp_extract(
                         CASE WHEN doc_id % 7 = 0 THEN 'inline'
                              ELSE 'attachment; filename="' || source || '-' || CAST(doc_id AS STRING) || '.txt"' END,
                         '(?:^|;)\\s*filename="([^"]*)"', 1) AS name_match
                FROM documents)
        """,
        "vb_headername_complete": """
            WITH h AS (
              SELECT doc_id, source,
                CASE WHEN doc_id % 4 = 0 THEN 'attachment; filename="f' || CAST(doc_id AS STRING) || '.pdf"'
                     WHEN doc_id % 4 = 1 THEN 'inline'
                     WHEN doc_id % 4 = 2 THEN 'attachment; filename="a=' || CAST(doc_id AS STRING) || '.pdf"'
                     ELSE 'attachment; filename="p/' || CAST(doc_id AS STRING) || '.pdf"' END AS hdr
              FROM documents),
            f AS (
              SELECT doc_id, source,
                trim(list_filter(string_split(hdr, ';'), x -> starts_with(trim(x), 'filename="'))[1]) AS fld
              FROM h),
            n AS (
              SELECT doc_id, source, fld,
                CASE WHEN fld IS NULL THEN ''
                     WHEN len(string_split(fld, '=')) != 2 THEN ''
                     WHEN contains(trim(string_split(fld, '=')[2], '"'), '/') THEN ''
                     ELSE trim(string_split(fld, '=')[2], '"') END AS name
              FROM f)
            SELECT doc_id,
              CASE WHEN name = '' THEN ''
                   ELSE source || '-' || CAST(doc_id % 9 + 1 AS STRING) || '-' || name END AS out_name,
              CASE WHEN fld IS NULL THEN 'no_header'
                   WHEN name = '' THEN 'malformed'
                   ELSE 'ok' END AS status
            FROM n
        """,
        "priority_score": f"""
            {_URL_CTE},
            pairs AS (
              SELECT event_id, url AS page_url,
                CASE WHEN event_id % 3 = 0 THEN regexp_replace(url, '/page[0-9]+$', '/page9')
                     WHEN event_id % 3 = 1 THEN 'http://' ||
                        regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':[0-9]+$', '') || '/elsewhere'
                     ELSE 'http://other.example.org/b0/t0' END AS link_url
              FROM u WHERE event_id % 4 = 1),
            parts AS (
              SELECT event_id, page_url, link_url,
                regexp_replace(lower(regexp_extract(page_url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS p_host,
                regexp_replace(lower(regexp_extract(link_url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS l_host,
                regexp_extract(page_url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS p_path,
                regexp_extract(link_url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS l_path,
                regexp_extract(page_url, '^[^#?]*\\?([^#]*)', 1) AS p_q,
                regexp_extract(link_url, '^[^#?]*\\?([^#]*)', 1) AS l_q
              FROM pairs)
            SELECT event_id, page_url, link_url,
              CAST(CASE
                WHEN p_host = l_host AND (
                  (regexp_replace(p_path, '/page[0-9]+$', '') = regexp_replace(l_path, '/page[0-9]+$', '')
                   AND (regexp_matches(l_path, '/page[0-9]+$') OR regexp_matches(p_path, '/page[0-9]+$'))
                   AND (p_path != l_path OR p_q != l_q))
                  OR
                  (p_path = l_path
                   AND regexp_replace(p_q, '(^|&)page=[0-9]+', '') = regexp_replace(l_q, '(^|&)page=[0-9]+', '')
                   AND (regexp_matches(l_q, '(^|&)page=[0-9]+') OR regexp_matches(p_q, '(^|&)page=[0-9]+'))
                   AND p_q != l_q)
                ) THEN 0
                WHEN p_host = l_host THEN 1
                ELSE 2 END AS INT) AS priority
            FROM parts
        """,
    }
