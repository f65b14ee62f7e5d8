"""The crawl benchmark's own tests. From the repository root:

    python3 -m pytest crawlbench/tests -q

The first tests need no Spark. The ``run.py`` tests start Spark in a
subprocess at the tiny size of each workload (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs as I  # noqa: E402
from tracer import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _fingerprint(inp: I.Inputs) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(inp.pages_path)):
        with open(os.path.join(inp.pages_path, name), "rb") as f:
            h.update(f.read())
    h.update(json.dumps([inp.seeds, inp.robots, inp.excludes], sort_keys=True).encode())
    return h.hexdigest()


# -- inputs ----------------------------------------------------------------------
@pytest.mark.parametrize("name", sorted(I.WORKLOADS))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, name):
    w = I.tiny(I.WORKLOADS[name])
    a = I.load_or_make(str(tmp_path / "a"), w, 7)
    b = I.load_or_make(str(tmp_path / "b"), w, 7)
    c = I.load_or_make(str(tmp_path / "c"), w, 8)
    assert _fingerprint(a) == _fingerprint(b)
    assert a.oracle == b.oracle
    assert _fingerprint(a) != _fingerprint(c)
    assert a.oracle != c.oracle


def test_cache_hit_returns_the_stored_entry(tmp_path):
    w = I.tiny(I.WORKLOADS["crawl_wide"])
    a = I.load_or_make(str(tmp_path), w, 3)
    mtime = os.path.getmtime(os.path.join(a.dir, "inputs.json"))
    b = I.load_or_make(str(tmp_path), w, 3)
    assert b.dir == a.dir and b.oracle == a.oracle
    assert os.path.getmtime(os.path.join(b.dir, "inputs.json")) == mtime


def test_prior_overlapping_the_site_is_refused():
    import numpy as np

    from bbcrawl_spark.sources.boardsite import make_board_site

    site = make_board_site(hosts=2, threads=3, pages_per_thread=2, seed=1)
    clash = I._site_hashes(site)[0]
    prior = np.sort(np.array([clash - 1, clash, clash + 1], dtype=np.int64))
    with pytest.raises(RuntimeError, match="overlaps"):
        I._check_disjoint(site, prior)
    I._check_disjoint(site, np.array([clash + 1], dtype=np.int64))


# -- tracer ----------------------------------------------------------------------
class _FakeSc:
    def __init__(self):
        self.props: dict = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSc()


def test_tracer_nesting_and_self_time():
    spark = _FakeSpark()
    t = Tracer(spark)
    with t.span("round", 0) as outer:
        time.sleep(0.01)
        with t.span("warehouse.write", 0) as a:
            assert spark.sparkContext.props["spark.jobGroup.id"] == a["group"]
            time.sleep(0.02)
        assert spark.sparkContext.props["spark.jobGroup.id"] == outer["group"]
        with t.span("warehouse.append", 0):
            time.sleep(0.01)
    assert spark.sparkContext.props["spark.jobGroup.id"] is None
    kids = t.children(outer["id"])
    assert [k["name"] for k in kids] == ["warehouse.write", "warehouse.append"]
    covered = sum(k["end"] - k["start"] for k in kids)
    assert t.self_time(outer["id"]) == pytest.approx(
        outer["end"] - outer["start"] - covered)
    assert t.self_time(outer["id"]) >= 0.01


# -- run.py at tiny sizes ----------------------------------------------------------
def _run(work, workload, trace=0, seed=1):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "60", "--trace", str(trace),
         "--size", "tiny", "--work-dir", str(work)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p


def _names(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", sorted(I.WORKLOADS))
def test_tiny_workload_passes_gate_and_prints_every_metric(tmp_path, workload):
    rc, out, p = _run(tmp_path, workload)
    assert rc == 0, p.stderr[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _names("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_spans_nest_and_metrics_match(tmp_path):
    rc, out, p = _run(tmp_path, "crawl_bigseen", trace=1)
    assert rc == 0, p.stderr[-3000:]
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _names("per_layer")
    assert out["metrics"]["dedup.bloom_update_s"]["value"] > 0
    with open(tmp_path / "traces" / "crawl_bigseen-s1.json") as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    assert any(s["parent"] is not None for s in spans.values())
    for s in spans.values():
        assert s["self_s"] >= 0
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]


def test_a_crawl_that_differs_from_the_oracle_fails(tmp_path):
    w = I.tiny(I.WORKLOADS["crawl_wide"])
    inp = I.load_or_make(str(tmp_path), w, 1)
    path = os.path.join(inp.dir, "inputs.json")
    with open(path) as f:
        meta = json.load(f)
    meta["oracle"]["rounds"][1]["order"] = "0" * 64
    with open(path, "w") as f:
        json.dump(meta, f)
    rc, out, _ = _run(tmp_path, "crawl_wide")
    assert rc == 1
    assert not out["correct"] and out["failed"] == 1
