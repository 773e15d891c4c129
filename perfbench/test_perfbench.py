"""Tests of the benchmark itself (not of pyspider_spark).

    python3 -m pytest perfbench -q

The statistics, span and load-generator tests take under a second; the
smoke tests run each workload end to end on tiny inputs (about a minute
each) and check the result line's contract.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import pytest

from perfbench import common
from perfbench.loadgen import run_plan
from perfbench.tracing import Tracer, layer_self_seconds, self_times

ROOT = common.ROOT


# ------------------------------------------------------------ percentile rule
def test_tail_needs_ten_samples_beyond():
    assert common.tail_index(10) is None
    assert common.tail_index(11) == 0
    samples = list(range(1, 101))  # 1..100
    pct, v = common.tail_value(samples)
    # exactly ten samples (91..100) lie beyond the reported value
    assert v == 90 and sum(1 for s in samples if s > v) == 10
    assert pct == 90.0


def test_tail_falls_back_to_max_below_eleven():
    assert common.tail_value([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_tail_is_order_independent():
    xs = [5.0, 1.0, 9.0, 7.0, 3.0, 2.0, 8.0, 6.0, 4.0, 0.0, 10.0, 11.0]
    assert common.tail_value(xs) == common.tail_value(sorted(xs))
    # 12 samples: index 1 of the sorted list, ten beyond it
    assert common.tail_value(xs)[1] == 1.0


# ------------------------------------------------------------ spans
def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": f"s{i}", "run_id": "r"}


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0, "loop"), _span(2, 1, 1.0, 4.0, "tables"),
             _span(3, 1, 6.0, 7.0, "tables")]
    st = self_times(spans)
    assert st == {1: 6.0, 2: 3.0, 3: 1.0}
    assert layer_self_seconds(spans) == {"loop": 6.0, "tables": 4.0}


def test_self_time_counts_overlapping_children_once():
    # concurrent write families: three children overlap inside the round
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 2.0, 6.0),
             _span(3, 1, 3.0, 8.0), _span(4, 1, 7.0, 7.5)]
    assert self_times(spans)[1] == pytest.approx(10.0 - 6.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, None, 0.0, 5.0), _span(2, 1, 4.0, 9.0)]
    assert self_times(spans)[1] == pytest.approx(4.0)


def test_tracer_parents_and_orphan_adoption():
    tr = Tracer()
    with tr.span("round", "loop") as rnd:
        with tr.span("inner", "tables"):
            pass
        with tr.adopt_orphans(rnd):

            def worker():
                with tr.span("write", "seen"):
                    pass

            t = threading.Thread(target=worker)
            t.start()
            t.join(timeout=5)
            assert not t.is_alive()
    by = {s["name"]: s for s in tr.spans}
    assert by["inner"]["parent"] == rnd["id"]
    assert by["write"]["parent"] == rnd["id"]
    assert by["write"]["run_id"] == rnd["run_id"]
    with tr.span("later", "x") as later:
        pass
    assert later["parent"] is None and later["run_id"] != rnd["run_id"]


def test_wrap_and_unwrap_restore_originals():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer()
    orig = Box.__dict__["f"]
    tr.wrap(Box, "f", "box")
    assert Box().f(1) == 2
    assert [s["name"] for s in tr.spans] == ["Box.f"]
    tr.unwrap_all()
    assert Box.__dict__["f"] is orig


# ------------------------------------------------------------ open loop
def _plan(n, gap, conns):
    return {"base": "", "token": "t", "connections": conns, "start_delay_s": 0.0,
            "requests": [{"due_s": i * gap, "path": f"/{i}"} for i in range(n)]}


def test_open_loop_latency_counts_queueing_from_due_time():
    service = 0.05

    def sender(url, token, timeout):
        time.sleep(service)
        return 200, "{}"

    # one connection, requests due every 10 ms, each served in 50 ms:
    # the queue grows, and latency from the due time grows with it
    recs = run_plan(_plan(8, 0.01, 1), sender=sender)
    assert [r["i"] for r in recs] == list(range(8))
    lat = [r["done"] - r["due"] for r in recs]
    for i, x in enumerate(lat):
        assert x >= (i + 1) * service - i * 0.01 - 0.005
    # the generator itself kept to its schedule
    assert max(r["dispatched"] - r["due"] for r in recs) < 0.02
    # service started late because every connection was busy
    assert recs[-1]["sent"] - recs[-1]["due"] > 0.2


def test_open_loop_records_generator_lateness():
    def late_sleep(s):
        time.sleep(s + 0.03)

    recs = run_plan(_plan(5, 0.01, 4), sender=lambda *a: (200, "{}"),
                    sleep=late_sleep)
    lateness = [r["dispatched"] - r["due"] for r in recs]
    assert max(lateness) >= 0.025
    # latency still runs from the due time, so the lateness is in it
    for r in recs:
        assert r["done"] - r["due"] >= r["dispatched"] - r["due"]


def test_open_loop_does_not_wait_for_replies():
    def slow(url, token, timeout):
        time.sleep(0.2)
        return 200, "{}"

    t0 = time.perf_counter()
    recs = run_plan(_plan(4, 0.01, 4), sender=slow)
    # four connections: all four go out together and finish together
    assert time.perf_counter() - t0 < 0.5
    assert max(r["sent"] for r in recs) - min(r["sent"] for r in recs) < 0.1


# ------------------------------------------------------------ smoke runs
def _run(workload, trace, seed):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "2",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


@pytest.mark.parametrize("workload", ["crawl_graph", "serve_keyword", "corpus_ops"])
def test_smoke_workload(workload):
    res = _run(workload, 0, 7)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = _declared("end_to_end")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_crawl_reports_every_layer():
    res = _run("crawl_graph", 1, 7)
    assert res["correct"] is True
    want = _declared("per_layer")
    assert set(res["metrics"]) == set(want)
    for layer in ("loop", "scheduler", "seen", "canon", "fetch", "stages",
                  "neardup", "tables"):
        assert res["metrics"][f"{layer}.self_s"]["value"] > 0, layer


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    with open(os.path.join(ROOT, "BENCHMARK.json")) as src:
        (tmp_path / "BENCHMARK.json").write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_graph",
         "--seed", "1", "--seconds", "2", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
