#!/usr/bin/env python3
"""Crawl-loop benchmark: drives ``plans.round.CrawlDriver`` end to end.

    python3 crawlbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics (the traced run also writes its spans under ``.crawlbench/traces``).
``attempted``/``failed`` count crawl rounds; a round fails when it raises or
its crawl order, texts or seen set differ from the sequential oracle. Any
failed round makes the exit code 1. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

_T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE0 = _process_age()

#: spans whose Spark stage metrics are reported per layer
STAGE_SPANS = (
    "round", "round.bootstrap", "warehouse.write", "warehouse.append",
    "warehouse.compact", "warehouse.expire", "warehouse.commit",
    "dedup.bloom_update", "robots.gate", "dedup.gate", "dedup.newlink_antijoin",
    "politeness.rank", "round.fetch_join", "udfs.extract",
)
SETUP_REPEATS = 3


# -- processes and disk ------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the driver JVM and the
    Python workers: every process this one started."""
    return sum(_status_kb(p, "VmHWM") for p in descendants(os.getpid())) / 1024


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop Spark, end the gateway JVM and wait for every started process."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout)
            except Exception:  # subprocess.TimeoutExpired: killed below
                pass
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in pids:  # reap our own children; others are reaped by init
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


# -- the crawl -----------------------------------------------------------------
def make_driver(spark, inp, root: str, template: str | None, instrument=None):
    """Fresh warehouse at ``root`` -> bootstrapped ``CrawlDriver``."""
    from inputs import register_prior

    from bbcrawl_spark.plans.round import CrawlConfig, CrawlDriver

    w = inp.workload
    shutil.rmtree(root, ignore_errors=True)
    if template:
        register_prior(template, root)
    cfg = CrawlConfig(
        pages_path=inp.pages_path, warehouse_root=root, seeds=inp.seeds,
        budget=w.budget, max_rounds=w.max_rounds, excludes=tuple(inp.excludes),
        robots=inp.robots, bloom_partitions=w.bloom_partitions,
        compact_every=w.compact_every, expire_keep_rounds=w.expire_keep_rounds,
    )
    drv = CrawlDriver(spark, cfg)
    if instrument is not None:
        instrument(drv)
    drv.bootstrap()
    return drv


def crawl(drv, seconds: float, start: int = 0, stop: int | None = None, after=None):
    """Run rounds ``start``, ``start+1``, ... until the crawl is done, round
    ``stop`` (default ``max_rounds``) is reached, a round raises, or
    ``seconds`` of round time have passed. ``after(r)`` runs untimed after
    each round. Returns [(round, wall_s, meta | None)]; meta is None for a
    round that raised (always the last)."""
    out = []
    for r in range(start, drv.cfg.max_rounds if stop is None else stop):
        t = time.perf_counter()
        try:
            meta = drv.run_round(r)
        except Exception:
            traceback.print_exc()
            out.append((r, time.perf_counter() - t, None))
            break
        out.append((r, time.perf_counter() - t, meta))
        if after is not None:
            after(r)
        if meta["done"] or sum(s for _, s, _ in out) >= seconds:
            break
    return out


def gate(drv, inp, rounds, prior_rows: int) -> tuple[set[int], dict[int, tuple]]:
    """Compare the crawl with the oracle digests; return the failed rounds
    and each round's (scheduled, fetched) row counts. Untimed."""
    import inputs as I

    ok = [r for r, _, meta in rounds if meta is not None]
    failed = {r for r, _, meta in rounds if meta is None}
    want = inp.oracle["rounds"]
    if not ok:
        return failed, {}
    wh, last = drv.wh, ok[-1]
    order: dict[int, list] = {}
    for row in sorted(drv.crawl_order().select("rank", "round", "url").collect()):
        order.setdefault(row["round"], []).append(row["url"])
    texts: dict[int, dict] = {}
    fetched = wh.read("fetched", wh.round_snapshot(last, "fetched"))
    for row in fetched.select("round", "url", "text").collect():
        texts.setdefault(row["round"], {})[row["url"]] = row["text"]
    for r in ok:
        if (r >= len(want) or I.order_digest(order.get(r, [])) != want[r]["order"]
                or I.text_digest(texts.get(r, {})) != want[r]["texts"]):
            failed.add(r)
    # a crawl that stopped early on its own must match the oracle's length
    if rounds[-1][2] is not None and rounds[-1][2]["done"] and len(want) != len(ok):
        failed.add(last)
    if prior_rows:  # seen - prior: the rows this crawl appended, per round
        got = set()
        for r in ok:
            got.update(x["url_hash"] for x in wh.read_delta(
                "seen", wh.round_snapshot(r, "seen")).collect())
        total = drv.seen_set().count()
        seen_ok = total == prior_rows + len(got)
    else:
        got = {x["url_hash"] for x in drv.seen_set().collect()}
        seen_ok = True
    if not seen_ok or last >= len(want) or I.seen_digest(got) != want[last]["seen"]:
        failed.update(ok)
    return failed, {r: (len(order.get(r, [])), len(texts.get(r, {}))) for r in ok}


def warehouse_mb(root: str, template: str | None) -> float:
    """Bytes of the crawl's warehouse: its own tables and Bloom dirs, plus
    the registered prior tables it points at."""
    return (tree_bytes(root) + (tree_bytes(template) if template else 0)) / 1e6


# -- traced run ----------------------------------------------------------------
class Instrument:
    """Spans around the eager public calls of one driver: ``run_round``,
    ``bootstrap``, ``Warehouse.write/append/compact/expire_snapshots/
    commit_round`` and ``dedup.update_partitioned_bloom``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.round = -1
        self.reads: list[int] = []  # dirs per Warehouse.read inside rounds
        self.in_round = False

    def __call__(self, drv) -> None:
        t, wh, cur = self.tracer, drv.wh, lambda: self.round

        def on_snapshot(rec, args, kwargs, sid):
            d = wh.snapshots(args[0])[sid]["dirs"][-1]
            files = [f for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")]
            rec["attrs"].update(table=args[0], bytes=tree_bytes(d), files=len(files))

        for name in ("write", "append", "compact"):
            setattr(wh, name, t.wrap(getattr(wh, name), f"warehouse.{name}", cur, on_snapshot))
        wh.expire_snapshots = t.wrap(wh.expire_snapshots, "warehouse.expire", cur)
        wh.commit_round = t.wrap(wh.commit_round, "warehouse.commit", cur)
        read = wh.read

        def counted_read(table, snapshot_id=None):
            if self.in_round:
                sid = snapshot_id or wh.current_snapshot(table)
                self.reads.append(len(wh.snapshots(table)[sid]["dirs"]))
            return read(table, snapshot_id)

        wh.read = counted_read
        run_round = t.wrap(drv.run_round, "round", cur)

        def traced_round(r):
            self.round, self.in_round = r, True
            try:
                return run_round(r)
            finally:
                self.in_round = False
                t.harvest()  # part of the traced round's wall time

        drv.run_round = traced_round
        drv.bootstrap = t.wrap(drv.bootstrap, "round.bootstrap", lambda: -1)


def layer_metrics(tracer, inst, counts: dict[int, dict], rounds, untraced) -> dict:
    """Per-layer metrics of the traced crawl: means per round over its
    ``rounds`` except where the README says otherwise."""
    from tracer import STAGE_FIELDS

    R = {r for r, _, meta in rounds if meta is not None}
    n = max(len(R), 1)
    spans = [s for s in tracer.spans if s["round"] in R]
    boot = [s for s in tracer.spans if s["name"] == "round.bootstrap"]

    def by(name):
        return [s for s in spans if s["name"] == name]

    def per_round(name):
        return sum(s["end"] - s["start"] for s in by(name)) / n

    def total(key):
        return sum(c.get(key, 0) for r, c in counts.items() if r in R)

    m: dict[str, float] = {}
    rs = by("round")
    m["round.self_s"] = sum(tracer.self_time(s["id"]) for s in rs) / n
    for k in ("jobs", "tasks"):
        m[f"round.spark_{k}"] = sum(
            tracer.inclusive(s["id"], lambda x: x.get(k, 0)) for s in rs) / n
    m["round.fetch_join_s"] = per_round("round.fetch_join")
    m["round.urls_scheduled"] = total("politeness.scheduled") / n
    m["round.fetch_hit_ratio"] = total("round.fetched") / max(total("politeness.scheduled"), 1)
    m["round.bootstrap_s"] = sum(s["end"] - s["start"] for s in boot)
    m["round_s.tail"] = max(s for _, s, _ in untraced)
    for op in ("write", "append", "compact", "expire", "commit"):
        m[f"warehouse.{op}_s"] = per_round(f"warehouse.{op}")
        m[f"warehouse.{op}_calls"] = len(by(f"warehouse.{op}")) / n
    m["warehouse.dirs_per_read"] = statistics.fmean(inst.reads) if inst.reads else 0.0
    written = by("warehouse.write") + by("warehouse.append") + by("warehouse.compact")
    m["warehouse.bytes_written_mb"] = sum(s["attrs"]["bytes"] for s in written) / 1e6 / n
    m["warehouse.files_written"] = sum(s["attrs"]["files"] for s in written) / n
    m["robots.gate_s"] = per_round("robots.gate")
    m["robots.rows_in"] = total("robots.rows_in") / n
    m["robots.rows_dropped"] = total("robots.rows_dropped") / n
    m["dedup.gate_s"] = per_round("dedup.gate")
    m["dedup.newlink_antijoin_s"] = per_round("dedup.newlink_antijoin")
    m["dedup.seen_rows"] = total("dedup.seen_rows") / n
    m["dedup.bloom_probed"] = total("dedup.bloom_probed") / n
    m["dedup.bloom_maybe_ratio"] = total("dedup.bloom_maybe") / max(total("dedup.bloom_probed"), 1)
    m["dedup.bloom_update_s"] = per_round("dedup.bloom_update")
    for k in ("updated", "rebuilt", "carried"):
        m[f"dedup.bloom_{k}"] = sum(s["attrs"].get(k, 0) for s in by("dedup.bloom_update")) / n
    m["politeness.rank_s"] = per_round("politeness.rank")
    for k in ("rows_in", "scheduled", "deferred"):
        m[f"politeness.{k}"] = total(f"politeness.{k}") / n
    m["udfs.extract_s"] = per_round("udfs.extract")
    for k in ("extract_pages", "extract_html_mb", "links_out"):
        m[f"udfs.{k}"] = total(f"udfs.{k}") / n
    for name in STAGE_SPANS:
        # round and bootstrap include their children's Spark work
        group, div = (boot, 1) if name == "round.bootstrap" else (by(name), n)
        for k, _, _ in STAGE_FIELDS:
            def stage(x, k=k):
                return x.get("stage", {}).get(k, 0.0)
            if name in ("round", "round.bootstrap"):
                v = sum(tracer.inclusive(s["id"], stage) for s in group)
            else:
                v = sum(stage(s) for s in group)
            m[f"{name}.{k}"] = v / div
    return m


# -- entry point ---------------------------------------------------------------
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the workload's shape at a few-round size (tests)")
    p.add_argument("--work-dir", default=".crawlbench",
                   help="caches, warehouses and traces (relative to the cwd)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    checkout = os.getcwd()
    work = os.path.relpath(os.path.abspath(args.work_dir))
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # the engine package is imported from the checkout, by workers too;
    # every temp file stays inside the work dir
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    # no more threads than cores: one task thread per core, and the Python
    # workers' numeric libraries single-threaded
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"

    import inputs as I

    if args.workload not in I.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(I.WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = I.WORKLOADS[args.workload]
    if args.size == "tiny":
        w = I.tiny(w)
    excluded = 0.0  # input generation: cached, kept out of setup_s
    t = time.perf_counter()
    inp = I.load_or_make(work, w, args.seed)
    excluded += time.perf_counter() - t

    from bbcrawl_spark.plans.session import build_session

    ncpu = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = build_session(
        app_name="crawlbench", master=f"local[{ncpu}]", cores=ncpu, driver_memory="3g",
        extra={"spark.local.dir": os.path.abspath(os.path.join(work, "spark-local")),
               "spark.ui.showConsoleProgress": "false"},
    )
    build_s = time.perf_counter() - t
    run_dir = os.path.join(work, "runs", f"{w.name}-{os.getpid()}")
    try:
        template = None
        if w.prior_seen:
            t = time.perf_counter()
            template = I.prior_template(spark, work, w, inp.seeds)
            excluded += time.perf_counter() - t
        t_ready = time.perf_counter()
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            drv = make_driver(spark, inp, os.path.join(run_dir, "wh"), template)
            setups.append(time.perf_counter() - t)
        # round 0 is the warm-up: it forks the Python workers and compiles
        # the round's JVM code, which costs the first rounds after start 2-3x
        # a warm round, by a different amount each run. It counts in
        # setup_s; crawl_s and the rates cover the warm rounds after it.
        warm = crawl(drv, float("inf"), stop=1)
        warm_s = warm[0][1]
        setup_s = (_AGE0 + (t_ready - _T0) - excluded + statistics.median(setups)
                   + warm_s)
        timed = crawl(drv, args.seconds, start=1) if warm[-1][2] is not None else []
        rounds = warm + timed
        t_gate = time.perf_counter()
        failed, rows = gate(drv, inp, rounds, w.prior_seen)
        print(f"# phases: inputs+prior {excluded:.2f}s, session {build_s:.2f}s, setups "
              f"{sum(setups):.2f}s, rounds {[round(s, 2) for _, s, _ in rounds]}, gate "
              f"{time.perf_counter() - t_gate:.2f}s", file=sys.stderr)
        attempted, metrics = len(rounds), {}
        if not timed or any(m is None for _, _, m in timed):
            failed.add("no timed round completed")
        elif not args.trace:
            crawl_s = sum(s for _, s, _ in timed)
            n_sched = sum(rows.get(r, (0, 0))[0] for r, _, _ in timed)
            n_fetch = sum(rows.get(r, (0, 0))[1] for r, _, _ in timed)
            metrics = {
                "setup_s": setup_s,
                "crawl_s": crawl_s,
                "urls_scheduled_per_s": n_sched / crawl_s,
                "pages_fetched_per_s": n_fetch / crawl_s,
                "round_s.p50": statistics.median(s for _, s, _ in timed),
                "warehouse_mb": warehouse_mb(drv.cfg.warehouse_root, template),
                "peak_rss_mb": peak_rss_mb(),
            }
            print(f"# {w.name} seed={args.seed}: warm-up round {warm_s:.2f}s, then "
                  f"{len(timed)} timed rounds (round_s.p50 over n={len(timed)}), "
                  f"{n_sched} urls scheduled, {n_fetch} pages fetched; setup "
                  f"repeats {[round(s, 3) for s in setups]}")
        else:
            metrics, tfailed, tattempted = traced(
                spark, inp, template, timed, args, run_dir, work, build_s, warm_s)
            failed |= {("traced", r) for r in tfailed}
            attempted += tattempted
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        print(f"# stop {time.perf_counter() - t:.2f}s, "
              f"total {_AGE0 + time.perf_counter() - _T0:.2f}s", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    missing = sorted(set(units) - set(metrics))
    ok = not failed and not missing
    if missing:
        print(f"missing metrics: {missing}", file=sys.stderr)
    if failed:
        print(f"failed rounds: {sorted(map(str, failed))}", file=sys.stderr)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": len(failed),
                      "metrics": {k: {"value": metrics[k], "unit": u}
                                  for k, u in units.items() if k in metrics}}))
    return 0 if ok else 1


def traced(spark, inp, template, untraced, args, run_dir, work, build_s, warm_s):
    """The traced crawl: a fresh crawl through the last of the untraced
    timed rounds, with spans, per-span stage metrics and the lazy-layer
    replay after each round. Per-layer metrics cover the timed rounds."""
    from replay import replay_round
    from tracer import Tracer

    from bbcrawl_spark.operators import dedup

    tracer = Tracer(spark)
    inst = Instrument(tracer)
    counts: dict[int, dict] = {}
    timed = {r for r, _, _ in untraced}
    orig_bloom = dedup.update_partitioned_bloom
    dedup.update_partitioned_bloom = tracer.wrap(
        orig_bloom, "dedup.bloom_update", lambda: inst.round,
        lambda rec, a, k, out: rec["attrs"].update({x: len(v) for x, v in out.items()}),
    )
    try:
        drv = make_driver(spark, inp, os.path.join(run_dir, "wh-traced"), template, inst)
        tracer.harvest()

        def after(r):
            # round r's inputs (round r-1's snapshots) are still pinned
            # here; replaying after the round keeps it from warming the
            # caches the round itself reads
            if r in timed:
                counts[r] = replay_round(spark, tracer, drv, r)
                tracer.harvest()

        rounds = crawl(drv, float("inf"), stop=untraced[-1][0] + 1, after=after)
    finally:
        dedup.update_partitioned_bloom = orig_bloom
    failed, _ = gate(drv, inp, rounds, inp.workload.prior_seen)
    for r, _, meta in rounds:  # the replay must schedule what the round did
        if r in counts and counts[r]["politeness.scheduled"] != meta["n_scheduled"]:
            print(f"replay of round {r} scheduled {counts[r]['politeness.scheduled']}, "
                  f"the round {meta['n_scheduled']}", file=sys.stderr)
            failed.add(r)
    t_rounds = [x for x in rounds if x[0] in timed]
    m = layer_metrics(tracer, inst, counts, t_rounds, untraced)
    m["session.build_s"] = build_s
    m["session.worker_warm_s"] = warm_s
    done = {r for r, _, _ in t_rounds}
    m["trace.overhead_s"] = (sum(s for _, s, _ in t_rounds)
                             - sum(s for r, s, _ in untraced if r in done))
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    path = os.path.join(work, "traces", f"{inp.workload.name}-s{args.seed}.json")
    tracer.dump(path)
    print(f"# spans: {path}")
    return m, failed, len(rounds)


if __name__ == "__main__":
    sys.exit(main())
