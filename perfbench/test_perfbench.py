"""The benchmark's own tests (no Spark): metric names and BENCHMARK.json,
the tail-percentile rule, the ledger sum, span and event-log plumbing.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_metrics as bm  # noqa: E402
import bench_trace as bt  # noqa: E402

BENCH_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _bench():
    with open(BENCH_JSON) as f:
        return json.load(f)


# ---- metric names -----------------------------------------------------------

def test_metric_names_and_units_are_valid_and_unique():
    names = bm.E2E_NAMES + bm.LAYER_NAMES
    assert len(names) == len(set(names))
    for name in names:
        assert bm.valid_name(name), name
        assert bm.valid_unit(bm.UNITS[name]), name
    for _n, _u, better, bound in bm.END_TO_END:
        assert better in ("higher", "lower")
        assert 0 < bound <= 0.25
    for _n, _u, better, moves, workloads in bm.PER_LAYER:
        assert better in ("higher", "lower")
        assert moves is None or moves in bm.E2E_NAMES
        assert workloads


@pytest.mark.parametrize("name,ok", [
    ("docs_per_s", True), ("job.wall_s", True), ("operators.parse_s.pdf",
                                                 True),
    ("9lives", True), ("_hidden", False), (".dot", False), ("a b", False),
    ("x" * 64, True), ("x" * 65, False), ("api/latency", False), ("", False),
])
def test_name_syntax(name, ok):
    assert bm.valid_name(name) is ok


@pytest.mark.parametrize("unit,ok", [
    ("ms", True), ("docs/s", True), ("%", True), ("B/B", True),
    ("count", True), ("a" * 17, False), ("m s", False), ("", False),
])
def test_unit_syntax(unit, ok):
    assert bm.valid_unit(unit) is ok


def test_benchmark_json_matches_registry_and_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["end_to_end"] == [
        {"name": n, "unit": u, "better": d, "bound": bound}
        for n, u, d, bound in bm.END_TO_END]
    assert b["per_layer"] == [
        {"name": n, "unit": u, "better": d}
        for n, u, d, _m, _w in bm.PER_LAYER]
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert bm.valid_name(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(b["per_layer"]) <= 128
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert not p.startswith("/") and ".." not in p.split("/")
    assert len(b["command"]) <= 32
    assert all(len(c) <= 200 for c in b["command"])
    assert os.path.getsize(BENCH_JSON) <= 64 * 1024


def test_every_workload_is_registered_and_layer_workloads_exist():
    names = {w["name"] for w in _bench()["workloads"]}
    for *_rest, workloads in bm.PER_LAYER:
        assert set(workloads) <= names


# ---- tail percentile -----------------------------------------------------------

def _beyond(xs, p):
    rank = math.ceil(p * len(xs) / 100)
    return len(xs) - rank


@pytest.mark.parametrize("n,expect", [(20, 50), (100, 90), (1000, 99),
                                      (11, 9), (40, 75)])
def test_tail_percentile_known_cases(n, expect):
    xs = list(range(1, n + 1))
    p, v = bm.tail_percentile(xs)
    assert p == expect
    assert v == xs[math.ceil(p * n / 100) - 1]


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    assert bm.tail_percentile(list(range(n))) is None


def test_tail_percentile_is_highest_with_ten_beyond():
    rng = random.Random(7)
    for _ in range(300):
        n = rng.randint(11, 2000)
        xs = [rng.random() for _ in range(n)]
        p, v = bm.tail_percentile(xs)
        assert _beyond(xs, p) >= 10
        assert p == 99 or _beyond(xs, p + 1) < 10
        assert v == sorted(xs)[math.ceil(p * n / 100) - 1]


# ---- intervals and the ledger -------------------------------------------------

def test_interval_union_and_subtraction():
    assert bm.interval_union([]) == 0
    assert bm.interval_union([(0, 2), (1, 3), (5, 6), (6, 7)]) == 5
    assert bm.interval_union([(3, 1)]) == 0
    assert bm.subtract_len([(0, 10)], [(2, 3), (5, 8)]) == 6
    assert bm.subtract_len([(0, 1)], [(0, 10)]) == 0
    assert bm.clip([(0, 5), (8, 9)], 1, 8) == [(1, 5)]


@pytest.mark.parametrize("seed", range(20))
def test_ledger_rows_sum_to_job_wall(seed):
    rng = random.Random(seed)
    wall = rng.uniform(1, 60)
    spark_s = rng.uniform(0, wall)
    rows = bm.extraction_ledger(
        wall_s=wall, operators_core_s=rng.uniform(0, 40),
        cores=rng.choice([1, 4, 32]), udf_stage_s=rng.uniform(0, spark_s),
        spark_s=spark_s, commit_s=rng.uniform(0, wall - spark_s))
    assert set(rows) == set(bm.LEDGER_ROWS)
    assert math.isclose(sum(rows.values()), wall, rel_tol=1e-12)
    assert rows["job.unattributed_s"] >= -1e-9
    assert all(r in bm.LAYER_NAMES for r in bm.LEDGER_ROWS)


# ---- spans, wrappers, event log -----------------------------------------------

def test_spans_nest_and_wrappers_restore():
    mod = types.ModuleType("fake_io")

    def work(x):
        return inner(x) + 1

    def inner(x):
        return x * 2
    work.__module__ = inner.__module__ = "fake_io"
    mod.work, mod.inner = work, inner

    class commit_lock:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return None
    mod.commit_lock = commit_lock

    tr = bt.Tracer()
    with bt.wrap_modules(tr, {"io": mod}):
        assert mod.work(3) == 7
        with mod.commit_lock():
            pass
        assert isinstance(mod.commit_lock(), commit_lock)
    assert mod.work is work and mod.commit_lock is commit_lock
    names = [s["name"] for s in tr.spans]
    assert names == ["io.work", "io.commit_lock.wait", "io.commit_lock.held"]
    assert all(s["end"] >= s["start"] and s["run_id"] == tr.run_id
               for s in tr.spans)
    with tr.span("outer"):
        with tr.span("child") as child:
            pass
    assert tr.spans[child["parent"]]["name"] == "outer"


def test_event_log_window_stats(tmp_path):
    t0 = 1_700_000_000_000
    events = [
        {"Event": "SparkListenerSQLExecutionStart", "sparkPlanInfo": {
            "nodeName": "WriteFiles", "metrics": [], "children": [{
                "nodeName": "MapInPandas", "children": [], "metrics": [
                    {"name": "data sent to Python workers",
                     "accumulatorId": 11},
                    {"name": "data returned from Python workers",
                     "accumulatorId": 12}]}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": t0, "Stage IDs": [0]},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
           "Stage Attempt ID": 0,
           "Task Info": {"Launch Time": t0, "Finish Time": t0 + d},
           "Task Metrics": {"JVM GC Time": 10, "Disk Bytes Spilled": 0,
                            "Memory Bytes Spilled": 0,
                            "Shuffle Write Metrics": {
                                "Shuffle Bytes Written": 100}}}
          for d in (1000, 1000, 3000)],
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": t0,
            "Completion Time": t0 + 3000, "Accumulables": [
                {"ID": 11, "Value": "500"}, {"ID": 12, "Value": "700"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": t0 + 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": t0 + 9000, "Stage IDs": []},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": t0 + 9500},
    ]
    (tmp_path / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    log = bt.EventLog.read_dir(str(tmp_path))
    st = bt.window_stats(log, t0 / 1000, (t0 + 5000) / 1000)
    assert st["spark_jobs"] == 1 and st["tasks"] == 3
    assert st["spark_s"] == pytest.approx(3.0)
    assert st["udf_task_skew"] == pytest.approx(3.0)
    assert st["python_bytes_sent"] == 500
    assert st["python_bytes_received"] == 700
    assert st["shuffle_bytes"] == 300
    assert st["gc_s"] == pytest.approx(0.03)
    assert len(log.jobs_in(t0 / 1000, (t0 + 10000) / 1000)) == 2


# ---- process-tree CPU time ------------------------------------------------------

def test_tree_cpu_counts_reaped_children_and_no_jit_in_python():
    import subprocess

    import bench_spark as bs
    before, jit0 = bs.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"],
                   check=True)
    after, jit1 = bs.tree_cpu_s()
    assert after - before >= 0.25
    assert jit0 == jit1 == 0
