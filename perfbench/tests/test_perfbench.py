"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, workloads as W  # noqa: E402
from perfbench import collect  # noqa: E402
from perfbench.trace import Span, Tracer, layer_self_times, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


# ---------------------------------------------------------------- generator


def test_backfill_is_deterministic_per_seed():
    a, b, c = gen.backfill(7, 200, 3), gen.backfill(7, 200, 3), gen.backfill(8, 200, 3)
    assert a.files == b.files and a.files != c.files
    # the seed picks values, not sizes: the same work on every seed
    assert (a.sessions, len(a.keys)) == (c.sessions, len(c.keys))


def test_tables_are_deterministic_per_seed():
    a, b = gen.make_tables(3, 0.001), gen.make_tables(3, 0.001)
    for name in a:
        assert a[name].equals(b[name]), name
    c = gen.make_tables(4, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {k: len(v) for k, v in a.items()} == {k: len(v) for k, v in c.items()}


def test_backfill_truth_and_rates():
    b = gen.backfill(2, 2000, 4)
    s = gen.decode_sessions(b)
    assert len(s) == b.sessions

    def key(x):
        e = x["entries"]
        uid = x["uid"] or next(y["values"][0]["value"] for y in e if y["key"] == "NeoTreeID")
        return uid, x["script"]["id"]

    assert {key(x) for x in s} == b.keys
    assert b.admissions == sum(k[1] == gen.ADM_SCRIPT for k in b.keys) == 2000
    assert b.discharges == sum(k[1] == gen.DIS_SCRIPT for k in b.keys)
    fresh = b.admissions + b.discharges
    assert abs((len(s) - fresh) / fresh - gen.DUP_RATE) < 0.01  # re-uploads
    assert abs(b.discharges / b.admissions - gen.DISCHARGE_RATE) < 0.01
    adm = [x for x in s if x["script"]["id"] == gen.ADM_SCRIPT]
    old = sum(isinstance(x["entries"], list) for x in adm) / len(adm)
    assert abs(old - gen.OLD_RATE) < 0.03


# ------------------------------------------------------------------- tracer


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, "r", "root", "bench", 0.0, 10.0),
        Span(1, 0, "r", "a", "plans", 1.0, 4.0),
        Span(2, 1, "r", "a.exec", "exec", 2.0, 3.0),
        Span(3, 0, "r", "b", "plans", 3.5, 6.0),  # overlaps a
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 1.0, 3: 2.5}
    assert layer_self_times(spans) == {"bench": 5.0, "plans": 4.5, "exec": 1.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("x", "plans") as s:
        assert s is None
    assert tr.spans == [] and tr.overhead_s == 0.0


# ------------------------------------------------------------- failures/report


def _run(trace: bool) -> W.Run:
    run = W.Run(spark=None, tracer=Tracer("r", enabled=False), cpus=4)
    run.tracer = Tracer("r", enabled=trace)
    return run


def test_injected_failure_is_counted():
    run = _run(False)

    def boom():
        raise RuntimeError("injected")

    assert run.attempt("ok", lambda: 1.0) == 1.0
    assert run.attempt("bad", boom) is None
    run.fail("check x", "mismatch")
    assert (run.attempted, run.failed) == (2, 2)
    assert "bad: RuntimeError: injected" in run.failures


def test_a_child_that_has_not_exec_d_is_not_counted_twice():
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:  # holds the parent's pages until it exits
        os.read(r, 1)
        os._exit(0)
    try:
        own = collect._proc(os.getpid())[2] * os.sysconf("SC_PAGE_SIZE")
        assert collect.tree_rss_bytes(os.getpid()) < 1.5 * own
    finally:
        os.write(w, b"x")
        os.waitpid(pid, 0)


class _Counters:
    def begin(self, label):
        pass

    def end(self):
        return {"task_run_s": 3.0, "input_bytes": 10.0}


def test_streaming_calls_add_their_wall_time():
    # exec.utilization divides task time by the wall time of the same calls
    run = _run(True)
    run.counters = _Counters()
    assert W.stream_call(run, "streaming.x", lambda: 5) == 5
    assert run.sums["exec.task_run_s"] == 3.0 and run.sums["exec.input_bytes"] == 10.0
    assert run.sums["exec.wall_s"] > 0


@pytest.mark.parametrize("trace", [False, True])
def test_every_reported_metric_is_declared_with_its_unit(trace):
    run = _run(trace)
    run.passes, run.pass_cpu = [4.0, 1.0, 2.0], [9.5, 3.0, 4.0]
    setup = {"setup_s": 9.0, "start_s": 6.0, "py_worker_warm_s": 2.0}
    got = W.report(run, setup, 2**30, (0.5, 0.7))
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {k: u for k, (_, u, _) in got.items()}
    if not trace:
        # a timing carries its sample count; the cold pass is the first
        assert got["cold_pass_s"] == (4.0, "s", 1)
    else:
        assert got["host.cold_pass_cpu_s"] == (9.5, "s", 1)


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert set(BENCH["workloads"][0]) == {"name", "why"}
    assert {w["name"] for w in BENCH["workloads"]} == set(W.WORKLOADS)
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_backfill", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_tree_cpu_counts_reaped_children():
    before = collect.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3 * 10**6))"], check=True)
    assert collect.tree_cpu_s(os.getpid()) - before > 0.05
