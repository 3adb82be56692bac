"""Self-tests of the harness's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402


# -- the tail-percentile rule ------------------------------------------------


@pytest.mark.parametrize(
    "n, p, rank",
    [
        (10, None, None),  # too few: no percentile has 10 samples beyond it
        (11, 9, 1),  # only the minimum has 10 beyond
        (20, 50, 10),
        (100, 90, 90),
        (1000, 99, 990),
    ],
)
def test_tail_percentile_rule(n, p, rank):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    got = stats.tail_percentile(samples)
    if p is None:
        assert got is None
        return
    assert got == (p, float(rank), n)
    beyond = sum(1 for s in samples if s > got[1])
    assert beyond >= stats.TAIL_MIN_BEYOND
    # one percentile higher would leave fewer than ten beyond
    if p < 99:
        nxt = stats.tail_percentile(samples, min_beyond=stats.TAIL_MIN_BEYOND + 1)
        assert nxt is None or nxt[0] <= p


# -- self time = span - children ---------------------------------------------


def test_self_time_is_span_minus_children():
    spans = [
        {"id": "binned", "parent": None, "dur": 10.0},
        {"id": "join", "parent": "binned", "dur": 7.0},
        {"id": "grid", "parent": "join", "dur": 3.0},
        {"id": "synth", "parent": "grid", "dur": 2.5},
        {"id": "sel", "parent": None, "dur": 4.0},
        {"id": "synth2", "parent": "sel", "dur": 1.0},
        {"id": "synth3", "parent": "sel", "dur": 0.5},
    ]
    got = stats.self_times(spans)
    assert got == pytest.approx(
        {"binned": 3.0, "join": 4.0, "grid": 0.5, "synth": 2.5,
         "sel": 2.5, "synth2": 1.0, "synth3": 0.5}
    )
    # the self times of a tree add up to its root span
    assert got["binned"] + got["join"] + got["grid"] + got["synth"] == pytest.approx(10.0)


def test_nested_span_tags_jobs_and_restores_outer_tag():
    from tracing import Tracer

    class FakeContext:
        def __init__(self):
            self.props, self.seen = {}, []

        def getLocalProperty(self, key):
            return self.props.get(key)

        def setLocalProperty(self, key, value):
            self.props[key] = value

    class FakeSession:
        sparkContext = FakeContext()

    sc = FakeSession.sparkContext
    tr = Tracer(FakeSession(), prefix="p-")
    outer = tr.open("sources.snapshot.lookup")
    with tr.timed(outer, blocking=True):
        with tr.timed(tr.open("sources.snapshot.prune", outer)):
            sc.seen.append(sc.getLocalProperty(eventlog.SPAN_PROPERTY))
        sc.seen.append(sc.getLocalProperty(eventlog.SPAN_PROPERTY))
    assert sc.seen == ["p-s1", "p-s0"]  # jobs after the child belong to the parent
    assert sc.getLocalProperty(eventlog.SPAN_PROPERTY) is None
    assert [s["blocking"] for s in tr.spans] == [True, False]
    assert tr.spans[0]["dur"] >= tr.spans[1]["dur"]


# -- /proc CPU time and VmHWM over a process tree ------------------------------


def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, comm, utime, stime, cutime, cstime, hwm_kb)."""
    for pid, (ppid, comm, ut, st, cut, cst, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)]
        fields += ["0"] * 4 + ["100"] + ["0"] * 10
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmPeak:\t999 kB\nVmHWM:\t{hwm} kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped


def test_proc_tree_cpu_and_hwm_sum(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, {
        100: (1, "python3", 1 * tick, 1 * tick, 0, 0, 1024),
        200: (100, "java", 10 * tick, 2 * tick, 3 * tick, 1 * tick, 4096),
        300: (200, "python3 -m pyspark.daemon", 5 * tick, 0, 0, 0, 2048),
        301: (300, "weird) (name", 2 * tick, 1 * tick, 0, 0, 512),
        999: (1, "unrelated", 50 * tick, 50 * tick, 0, 0, 99999),
    })
    proc = str(tmp_path)
    assert procstat.tree(100, proc) == [100, 200, 300, 301]
    assert procstat.cpu_seconds(100, proc) == pytest.approx(2 + 16 + 5 + 3)
    assert procstat.hwm_mb(100, proc) == pytest.approx((1024 + 4096 + 2048 + 512) / 1024)


def test_proc_tree_live_child_counts():
    """A live grandchild that burns CPU and touches memory is counted."""
    code = (
        "import subprocess, sys;"
        "subprocess.run([sys.executable, '-c', "
        "'import time; b = bytearray(64 << 20); t = time.process_time();\\n"
        "while time.process_time() - t < 0.6: pass\\ntime.sleep(5)'])"
    )
    cpu0 = procstat.cpu_seconds(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if procstat.cpu_seconds(os.getpid()) - cpu0 >= 0.6 and len(
                procstat.tree(os.getpid())
            ) >= 3:
                break
            time.sleep(0.1)
        assert len(procstat.tree(os.getpid())) >= 3
        assert procstat.cpu_seconds(os.getpid()) - cpu0 >= 0.6
        assert procstat.hwm_mb(os.getpid()) >= 64
    finally:
        child.kill()
        child.wait(timeout=10)


# -- event log attribution -----------------------------------------------------


def test_eventlog_attributes_task_and_sql_metrics(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    plan = {
        "nodeName": "WholeStageCodegen (1)", "simpleString": "WholeStageCodegen (1)",
        "metrics": [],
        "children": [{
            "nodeName": "Filter", "simpleString": "Filter (aggregate(_edges, ...))",
            "metrics": [{"name": "number of output rows", "accumulatorId": 7,
                         "metricType": "sum"}],
            "children": [{
                "nodeName": "FlatMapGroupsInPandas", "simpleString": "FlatMapGroupsInPandas",
                "metrics": [{"name": "time to run Python workers", "accumulatorId": 8,
                             "metricType": "nsTiming"}],
                "children": [],
            }],
        }],
    }
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 1,
         "sparkPlanInfo": plan, "time": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.sql.execution.id": "1", eventlog.SPAN_PROPERTY: "s1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [4], "Properties": {}},
    ]
    for stage, failed in ((3, False), (3, True), (4, False)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Failed": failed, "Accumulables": [
                {"ID": 7, "Name": "number of output rows", "Update": "5"},
                {"ID": 8, "Name": "time to run Python workers", "Update": 2_000_000_000},
                {"ID": 99, "Name": "internal.metrics.x", "Update": 1},
            ]},
            "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 250,
                             "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
        })
    events.append({"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 1,
                   "accumUpdates": [[7, 3]]})
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    assert eventlog.find_log(str(tmp_path)) == str(path)
    got = eventlog.read(str(path))
    assert set(got) == {"s1"}  # the untagged job is not attributed
    m = got["s1"]
    assert (m.tasks, m.failed_tasks) == (2, 1)
    assert m.run_s == pytest.approx(3.0)
    assert m.gc_s == pytest.approx(0.5)
    assert (m.spill_bytes, m.shuffle_bytes) == (22, 200)
    assert m.sql_sum("number of output rows", node="Filter", text="aggregate(") == 13
    assert m.sql_sum("time to run Python workers") == pytest.approx(4.0)


# -- BENCHMARK.json names what run.py prints -----------------------------------


def test_benchmark_json_matches_harness():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    from_json = {w["name"] for w in bench["workloads"]}
    assert from_json == {"spatial_scan", "ingest_resume"}
