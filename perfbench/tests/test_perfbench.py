"""The benchmark's own tests.

Unit tests of the statistics, the span recorder and the serving answers
run in milliseconds.  The smoke tests run each workload end to end at
``--size tiny`` (about a minute each) and assert that every metric named
in BENCHMARK.json prints with its unit and that every output check
passes.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, serve  # noqa: E402
from perfbench.common import quantile, tail, tail_percentile  # noqa: E402
from perfbench.datagen import BASE_MS, HOUR_MS, SeriesSet  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(10_000) == 95
    for n in (11, 37, 200):
        p = tail_percentile(n)
        assert n * (1 - p / 100) >= 10
    assert tail([1.0] * 5)["p"] is None
    assert quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5


def test_self_time_subtracts_children_once():
    tr = Tracer()
    t0 = time.perf_counter()
    tr.spans = [
        {"id": 0, "name": "outer", "start": t0, "end": t0 + 10, "parent": None},
        {"id": 1, "name": "inner", "start": t0 + 1, "end": t0 + 4, "parent": 0},
        {"id": 2, "name": "inner", "start": t0 + 3, "end": t0 + 5, "parent": 0},
    ]
    lay = tr.layers()
    assert lay["outer"]["self_s"] == pytest.approx(6.0)
    assert lay["inner"]["calls"] == 2
    assert lay["inner"]["total_s"] == pytest.approx(5.0)


def test_wrap_records_parent_and_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.wrap(Box, "f", "box.f")
    with tr.span("outer"):
        assert Box.f(1) == 2
    tr.restore()
    assert Box.f(1) == 2 and len(tr.spans) == 2
    inner = next(s for s in tr.spans if s["name"] == "box.f")
    outer = next(s for s in tr.spans if s["name"] == "outer")
    assert inner["parent"] == outer["id"]


def _series():
    s = SeriesSet(1, 2, seed=3)
    for p in s.grid(BASE_MS, 120):
        s.add(p)
    return s


def test_expected_answers_follow_visible_puts():
    s = _series()
    m, h = s.metrics[0], s.hosts[0]
    body = {"start": BASE_MS, "end": BASE_MS + HOUR_MS, "queries": [{
        "metric": m, "aggregator": "sum", "downsample": "1h-avg",
        "filters": [{"tagk": "dc", "type": "wildcard", "filter": "*", "groupBy": True}]}]}
    op = {"kind": "1h", "body": body}
    before = serve.expected(s, op, set())
    p = s.point(m, h, BASE_MS + 30_500, 1000.0)
    s.add(p, put=0)
    assert serve.expected(s, op, set()) == before
    after = serve.expected(s, op, {0})
    key = (((("dc", s.dc_of(h)),), ()))
    assert after[key][str(BASE_MS // 1000)] > before[key][str(BASE_MS // 1000)]


def test_check_response_accepts_overlapping_put_either_way():
    s = _series()
    m, h = s.metrics[0], s.hosts[1]
    body = {"start": BASE_MS, "end": BASE_MS + 2 * HOUR_MS, "queries": [{
        "metric": m, "aggregator": "sum",
        "filters": [{"tagk": "host", "type": "literal_or", "filter": h, "groupBy": True}]}]}
    op = {"kind": "raw", "body": body}
    s.add(s.point(m, h, BASE_MS + 61_000, 5.0), put=0)

    def resp(visible):
        return [{"metric": m, "tags": dict(k[0]), "aggregateTags": list(k[1]), "dps": d}
                for k, d in serve.expected(s, op, visible).items()]

    overlapping = [{"put": 0, "t0": 1.0, "t1": 3.0}]
    done_before = [{"put": 0, "t0": 0.0, "t1": 0.5}]
    for visible in (set(), {0}):
        rec = {"op": op, "t0": 2.0, "t1": 2.5, "resp": resp(visible)}
        assert serve.check_response(s, rec, overlapping)[0]
    stale = {"op": op, "t0": 2.0, "t1": 2.5, "resp": resp(set())}
    assert not serve.check_response(s, stale, done_before)[0]


def _record(tmp_path, name, nproc, ms):
    """A run's captured stdout: a log line, the record line, the result."""
    rec = {"perfbench_record": {
        "host": {"nproc": nproc, "cpu": "x", "mem_gb": 16, "machine": "x86_64"},
        "master": f"local[{nproc}]", "shuffle_partitions": "8",
        "workload": "tsdb_serve", "trace": False, "size": "full", "seconds": 15}}
    res = {"correct": True, "attempted": 1, "failed": 0,
           "metrics": {"op_geomean_ms": {"value": ms, "unit": "ms"}}}
    path = tmp_path / name
    path.write_text("starting\n" + json.dumps(rec) + "\n" + json.dumps(res) + "\n")
    return str(path)


def test_compare_refuses_other_hosts(tmp_path, capsys):
    a = _record(tmp_path, "a.json", 4, 100.0)
    b = _record(tmp_path, "b.json", 4, 110.0)
    assert compare.main(["--base", a, "--head", b]) == 0
    assert "10.0%" in capsys.readouterr().out
    c = _record(tmp_path, "c.json", 32, 50.0)
    assert compare.main(["--base", a, "--head", c]) == 3


def test_schedule_fresh_queries_are_new_and_repeats_wait():
    s = SeriesSet(2, 4, seed=5)
    sched = serve.Schedule(5, s, BASE_MS + 240 * 60_000)
    ops = [sched.take() for _ in range(7 * 30)]
    for c in range(30):
        kinds = [o["kind"] for o in ops if o["cycle"] == c]
        assert kinds == list(serve.CYCLE) + ["refresh"]
    fresh = [json.dumps(o.get("body") or o["exp"], sort_keys=True)
             for o in ops if o["kind"] in serve.MISSES]
    assert len(fresh) == len(set(fresh)) >= 4 * 30
    by_id = {o["id"]: o for o in ops}
    for o in ops:
        if o["kind"] == "repeat":
            src = by_id[o["after"]]
            assert src["id"] < o["id"] and src["body"] == o["body"]
        if o["kind"] == "refresh":
            assert by_id[o["after"]]["kind"] == "put"


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_and_checks_pass(workload, trace):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    for v in res["metrics"].values():
        assert isinstance(v["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "analytics_batch":
        assert res["metrics"]["registry.construct_jobs"]["value"] > 0
    rec = json.loads(p.stdout.strip().splitlines()[-2])["perfbench_record"]
    assert rec["host"]["nproc"] >= 1 and rec["versions"]["pyspark"]
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    assert not [d for d in (os.listdir(tmp) if os.path.isdir(tmp) else [])
                if d.startswith(f"{workload}-1-")]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "tsdb_serve", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
