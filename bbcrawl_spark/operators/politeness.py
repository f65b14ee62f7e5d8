"""Per-host politeness scheduling: window-ranked fetch-slot assignment.

The reference bounds fetch concurrency with a 5-slot goroutine pool whose
``Dispatch`` spin-waits for a free slot (``/root/reference/libcrawl/
download/downloader.go:38-70, 232-238``; ``DEFAULT_DL_JOBS = 5``,
``libcrawl/api.go:17``).  Spark-native, "at most B fetches per host per
round" becomes a ranking window: rows ranked per host by the deterministic
crawl-order key; ranks ≤ budget are scheduled this round, the rest spill to
the next round's frontier (W1/O4 in SURVEY.md §2.6-2.7).

Single pass: every frontier row must be OUTPUT either way — scheduled rows
go to the fetch join, unscheduled rows are carried to the next round's
frontier. So the ranker ranks once and FLAGS instead of filtering: one scan,
one exchange, and the deferred majority flows through the plan exactly once
(no anti-join reconstructing the unscheduled complement).

Hot-host skew (north_rule): one host holding 10^8 frontier URLs would pin a
single reducer in the per-host sort. The explicit **salted pre-rank**
(``salt = pmod(url_hash, S)``) splits each host's volume across S balanced
partitions: phase 1 ranks per (host, salt) — any row in the host's true
top-budget is in its salt's top-budget, so rows with salted rank > budget
are provably unscheduled and are flagged immediately (no join, no second
scan); only the ≤ S·budget survivors per host re-rank in phase 2. The salt
splits *volume*, never reorders *within* a host: the ordering key is
identical in both phases, so the schedule is byte-identical to the unsalted
one (asserted by tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["rank_fetch_slots", "DEFAULT_ORDER_COLS", "CONCURRENCY", "HOST_COL"]

#: deterministic crawl-order key replacing every racy reference counter
#: (A1 global download id, goroutine completion order): priority score
#: first (W3), then pager page order, then stable hash tiebreak.
DEFAULT_ORDER_COLS = ("priority", "page_num", "url_hash")

#: dispatcher slots per host: the reference's DEFAULT_DL_JOBS
#: (libcrawl/api.go:17)
CONCURRENCY = 5

#: the politeness partition key of every frontier
HOST_COL = "host"


def rank_fetch_slots(
    frontier: DataFrame,
    budget: int,
    order_cols: tuple[str, ...] = DEFAULT_ORDER_COLS,
    salt_partitions: int = 0,
    key_col: str = "url_hash",
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Add scheduling columns to a round's frontier.

    Output columns added (flag-style: every input row is output once):
      fetch_rank  per-host rank in deterministic crawl order (1-based;
                  0 on unscheduled rows)
      scheduled   fetch_rank <= budget (this round) vs spill to next round
      slot        (fetch_rank-1) % CONCURRENCY — the reference's dispatcher
                  slot the fetch would have occupied (-1 unscheduled)
      wave        (fetch_rank-1) / CONCURRENCY — dispatch wave within the
                  round, the reference's "≤5 in flight" progression (-1
                  unscheduled)

    Rank once per host and FLAG scheduled/deferred: one scan of the
    frontier, one exchange. With ``salt_partitions > 1`` the rank runs per
    (host, salt) first — balanced partitions kill hot-host reducer skew —
    and only the ≤ S·budget survivors per host re-rank; salted-out rows are
    flagged unscheduled directly (provably outside the top-budget), never
    reconstructed via a join. Both give the same schedule.
    """
    order = [F.col(c) for c in order_cols]

    # per-host budget overrides (robots Crawl-delay, host reputation, ...):
    # a tiny broadcast dim (host, budget); hosts not listed keep the default.
    # Both paths compare rank against this COLUMN, exactly. That INCLUDES
    # the salted ranker: its phase-1 prune and phase-2 regroup are per-host
    # expressions, and b(h) is constant within a host, so the pigeonhole
    # argument (a row in the host's true top-b(h) is in its salt's
    # top-b(h)) holds per host with the broadcast column exactly as it does
    # with the literal. A crawl-delayed hot host therefore keeps BOTH its
    # tiny budget and the salted skew defense.
    budget_col: Column = F.lit(budget)
    if host_budgets is not None:
        hb = host_budgets.select(
            F.col("host").alias("_hb_host"),
            F.col("budget").cast("int").alias("_hb_budget"),
        )
        frontier = frontier.join(
            F.broadcast(hb), frontier[HOST_COL] == hb["_hb_host"], "left"
        ).drop("_hb_host")
        budget_col = F.coalesce(F.col("_hb_budget"), F.lit(budget))

    if salt_partitions <= 1:
        w = Window.partitionBy(HOST_COL).orderBy(*order)
        ranked = frontier.withColumn("_r", F.row_number().over(w))
        r = F.col("_r")
        sched = r <= budget_col
    else:
        # Salted, as ONE linear plan (no branch -> the phase-1 window is
        # never recomputed; no union; no join):
        #   phase 1: rank per (host, salt) — S balanced partitions per host
        #     kill reducer skew; any row in the host's true top-budget is in
        #     its salt's top-budget, so rows with _r1 > budget are provably
        #     unscheduled.
        #   phase 2: a second window whose partition key REGROUPS only the
        #     ≤ S·budget survivors under the true host (losers keep their
        #     balanced (host, salt) buckets via a synthetic key, their rank
        #     is discarded) — survivors' _r2 is exactly the re-rank among
        #     survivors, which equals the unsalted per-host rank.
        salted = frontier.withColumn(
            "_salt", F.pmod(F.col(key_col), F.lit(salt_partitions)).cast("int")
        )
        w1 = Window.partitionBy(HOST_COL, "_salt").orderBy(*order)
        pre = salted.withColumn("_r1", F.row_number().over(w1))
        regroup = F.when(F.col("_r1") <= budget_col, F.col(HOST_COL)).otherwise(
            F.concat(F.col(HOST_COL), F.lit("\x00"), F.col("_salt").cast("string"))
        )
        w2 = Window.partitionBy("_h2").orderBy(*order)
        ranked = pre.withColumn("_h2", regroup).withColumn(
            "_r", F.row_number().over(w2)
        )
        r = F.col("_r")
        sched = (F.col("_r1") <= budget_col) & (r <= budget_col)

    return (
        ranked.withColumn("fetch_rank", F.when(sched, r).otherwise(F.lit(0)))
        .withColumn("scheduled", sched)
        .withColumn(
            "slot", F.when(sched, (r - 1) % CONCURRENCY).otherwise(F.lit(-1)).cast("int")
        )
        .withColumn(
            "wave",
            F.when(sched, F.floor((r - 1) / CONCURRENCY)).otherwise(F.lit(-1)).cast("int"),
        )
        .drop("_r", "_salt", "_r1", "_h2", "_hb_budget")
    )
