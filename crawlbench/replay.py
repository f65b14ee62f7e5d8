"""Lazy-layer replay for the traced run.

Robots, dedup, politeness, the pages join and extraction only build plans
inside ``CrawlDriver.run_round``; their work executes inside the frontier
write, so a span around the call would time plan building. After round r
the traced run therefore rebuilds each layer's input from round r-1's pinned
snapshots (the round's own inputs), materializes it (untimed), and times the
layer alone forced by a ``noop`` write. The steps mirror ``run_round``; the
replayed scheduled count is checked against the round's own.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bbcrawl_spark.functions.udfs import host_of, make_extract_fused_udf, url_hash_col
from bbcrawl_spark.operators import dedup
from bbcrawl_spark.operators.politeness import rank_fetch_slots
from bbcrawl_spark.operators.priority import priority_score_col
from bbcrawl_spark.operators.robots import robots_gate, robots_table
from bbcrawl_spark.plans.round import page_num_col


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df):
    df = df.persist()
    df.count()
    return df


def replay_round(spark, tracer, drv, r: int) -> dict:
    """Time each lazy layer of round ``r`` in isolation; return its counts."""
    cfg, wh = drv.cfg, drv.wh
    frontier = wh.read("frontier", wh.round_snapshot(r - 1, "frontier"))
    seen = wh.read("seen", wh.round_snapshot(r - 1, "seen"))
    c: dict = {}
    held = []

    def hold(df):
        held.append(_materialize(df))
        return held[-1]

    cand = frontier
    if cfg.excludes:
        ex = spark.createDataFrame([(u,) for u in cfg.excludes], "url string")
        cand = cand.join(F.broadcast(ex), "url", "left_anti")
    cand = hold(cand)

    # operators.robots
    robots_df = robots_table(spark, cfg.robots, cfg.user_agent)
    with tracer.span("robots.gate", r):
        _force(robots_gate(cand, robots_df))
    gated = hold(robots_gate(cand, robots_df))
    c["robots.rows_in"] = cand.count()
    c["robots.rows_dropped"] = c["robots.rows_in"] - gated.count()

    # operators.dedup: Bloom gate + exact confirm against the seen table
    bloom_dir = wh.round_snapshot(r - 1, "bloom_dir")
    spec = (dedup.BloomSpec(bloom_dir, cfg.bloom_partitions)
            if cfg.bloom_partitions > 0 and bloom_dir else None)
    cache: list = []
    with tracer.span("dedup.gate", r):
        _force(dedup.dedup_against_seen(gated, seen, spec, cache=cache))
    for df in cache:
        df.unpersist()
    c["dedup.seen_rows"] = seen.count()
    if spec is not None:
        flags = dedup.bloom_maybe_seen(gated, spec).groupBy().agg(
            F.count("*").alias("n"), F.sum(F.col("maybe_seen").cast("long")).alias("m")
        ).first()
        c["dedup.bloom_probed"], c["dedup.bloom_maybe"] = flags["n"], flags["m"] or 0
    cand2 = hold(dedup.dedup_against_seen(gated, seen, spec))

    # operators.politeness
    with tracer.span("politeness.rank", r):
        _force(rank_fetch_slots(cand2, cfg.budget, salt_partitions=cfg.salt_partitions))
    ranked = hold(rank_fetch_slots(cand2, cfg.budget, salt_partitions=cfg.salt_partitions))
    scheduled = hold(ranked.filter(F.col("scheduled")))
    c["politeness.rows_in"] = cand2.count()
    c["politeness.scheduled"] = scheduled.count()
    c["politeness.deferred"] = c["politeness.rows_in"] - c["politeness.scheduled"]

    # plans.round: the fetch = join against the pages table
    pages = spark.read.parquet(cfg.pages_path)

    def fetch_join():
        j = scheduled.join(pages.select("url", "html", "content_type", "n_redirects"),
                           "url", "inner")
        return j.filter(F.col("n_redirects") <= (10 if cfg.allow_redirect else 0))

    with tracer.span("round.fetch_join", r):
        _force(fetch_join())
    joined = hold(fetch_join())
    c["round.fetched"] = joined.count()

    # functions.udfs: fused extraction
    fused = make_extract_fused_udf(cfg.crawler, cfg.headernames, cfg.tags,
                                   list(cfg.attrs) or None, want_links=cfg.follow_links)

    def extract():
        return joined.withColumn(
            "_ex", fused("html", "url", "page_num", "content_type")
        ).drop("html")

    with tracer.span("udfs.extract", r):
        _force(extract())
    fetched = hold(extract())
    agg = joined.groupBy().agg(F.sum(F.length("html")).alias("b")).first()
    c["udfs.extract_pages"] = c["round.fetched"]
    c["udfs.extract_html_mb"] = (agg["b"] or 0) / 1e6

    # operators.dedup: new-link anti-join against seen ∪ scheduled
    links = fetched.select(
        F.col("url").alias("page_url"), "seed_id", F.explode("_ex.links").alias("l")
    ).select("page_url", "seed_id", F.col("l.abs_url").alias("url"))
    entries = hold(links.select(
        "url", url_hash_col("url").alias("url_hash"), host_of("url").alias("host"),
        priority_score_col("page_url", "url").alias("priority"),
        page_num_col("url").alias("page_num"), "seed_id",
        F.lit(r).cast("int").alias("discovered_in"),
    ))
    c["udfs.links_out"] = entries.count()
    known = seen.select("url_hash").unionByName(scheduled.select("url_hash"))
    with tracer.span("dedup.newlink_antijoin", r):
        _force(entries.join(known, "url_hash", "left_anti"))

    for df in held:
        df.unpersist()
    return c
