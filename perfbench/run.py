#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload spatial_scan --seed 1 --seconds 20 --trace 0

Runs from any working directory; the package under test is the
``fast_carpenter_spark`` directory next to ``perfbench/``.  The run:

1. set-up (timed as ``setup_s``, from process start to the first timed
   pass): Spark session on local[N] (N = min(4, usable CPUs)), the seeded
   inputs built afresh in a per-run scratch directory, one warm-up pass
   whose outputs are kept for the check, and one plain warm-up pass;
2. closed-loop timed passes, one client, back to back, for ``--seconds``;
3. the check of the warm-up pass's outputs against DuckDB, outside the
   timed passes; every timed pass's digest must equal the checked one;
4. with ``--trace 1`` only: traced passes with the Spark event log on, and
   per-layer metrics instead of the end-to-end ones.  Spans and the
   per-layer JSON are written to ``.perfbench_out/`` when the run ends.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
Everything the run writes stays under the checkout: ``.perfbench_work/``
(deleted at start and end) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

PLAIN_WARMUP_PASSES = 1  # after the checked one: the first passes still warm the JIT
TRACED_PASSES = 2  # the first warms the prefix plans; the last is reported
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "pass_s_p50": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_pass": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.spill_bytes": "bytes",
    "session.failed_tasks": "count",
    "synth.s": "s",
    "synth.spans": "count",
    "grid.encode_s": "s",
    "spatial.join.covers_s": "s",
    "spatial.join.cover_cells": "count",
    "spatial.join.candidates": "count",
    "spatial.join.matches": "count",
    "spatial.join.refine_keep_ratio": "ratio",
    "spatial.join.s": "s",
    "spatial.join.shuffle_bytes": "bytes",
    "operators.binned.s": "s",
    "operators.binned.groups": "count",
    "operators.binned.shuffle_bytes": "bytes",
    "operators.selection.s": "s",
    "operators.selection.cuts": "count",
    "spatial.knn.s": "s",
    "spatial.knn.points": "count",
    "spatial.knn.halo_factor": "ratio",
    "spatial.knn.arrow_bytes_sent": "bytes",
    "spatial.knn.arrow_bytes_returned": "bytes",
    "spatial.knn.python_s": "s",
    "spatial.knn.python_share": "ratio",
    "spatial.knn.shuffle_bytes": "bytes",
    "sources.snapshot.commit_s": "s",
    "sources.snapshot.files_written": "count",
    "sources.snapshot.bytes_written": "bytes",
    "sources.snapshot.manifest_bytes": "bytes",
    "sources.snapshot.prune_s": "s",
    "sources.snapshot.scan_s": "s",
    "sources.snapshot.files_scanned_ratio": "ratio",
    "sources.snapshot.lookup_rows": "count",
    "sources.snapshot.lookup_s_p50": "s",
    "sources.snapshot.lookup_s_tail": "s",
    "sources.snapshot.lookup_tail_samples": "count",
    "sources.snapshot.stored_bytes_per_input_byte": "ratio",
    "checkpoint.execute_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.finalize_s": "s",
    "checkpoint.units": "count",
    "checkpoint.units_redone": "count",
    "checkpoint.partial_bytes": "bytes",
    "trace.untraced_pass_s_p50": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.accounted_ratio": "ratio",
}

#: traced blocking self times must account for the untraced median pass
#: within this share (reported as trace.accounted_ratio); outside it the
#: traced run is not correct
ACCOUNTED_TOLERANCE = 0.25


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(work: str, trace: bool):
    """Spark session sized to this machine; the event log only if traced."""
    from fast_carpenter_spark.session import build_session

    n = cpus()
    conf = {
        "spark.default.parallelism": str(n),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        master=f"local[{n}]", app_name="perfbench", shuffle_partitions=2 * n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(tracer, span_metrics: dict, wl, untraced_p50: float, start_s: float) -> dict:
    """Per-layer metrics of one traced pass (see README for definitions)."""
    import stats
    from eventlog import SpanMetrics

    m = {name: 0.0 for name in PER_LAYER}
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    self_s = stats.self_times(spans)
    no_jobs = SpanMetrics()  # a span that started no Spark job

    def sm(span_id):
        return span_metrics.get(span_id, no_jobs)

    self_shuffle = stats.self_times(
        {"id": s["id"], "parent": s["parent"], "dur": sm(s["id"]).shuffle_bytes} for s in spans
    )

    def layer_time(name):
        return sum(v for k, v in self_s.items() if by_id[k]["name"] == name)

    def layer_shuffle(name):
        return sum(v for k, v in self_shuffle.items() if by_id[k]["name"] == name)

    def layer_spans(name):
        return [sm(s["id"]) for s in spans if s["name"] == name]

    m["session.start_s"] = start_s
    for s in spans:
        x = sm(s["id"])
        m["session.gc_s"] += x.gc_s
        m["session.spill_bytes"] += x.spill_bytes
        m["session.failed_tasks"] += x.failed_tasks

    m["synth.s"] = layer_time("synth")
    m["synth.spans"] = max(
        [x.sql_sum("number of output rows", node="Generate") for x in layer_spans("synth")] or [0]
    )
    m["grid.encode_s"] = layer_time("grid")
    m["spatial.join.s"] = layer_time("spatial.join")
    m["spatial.join.shuffle_bytes"] = layer_shuffle("spatial.join")
    for x in layer_spans("spatial.join"):
        # cover equi-join on the cell key, then the polygon join that
        # carries the PIP refine as its condition (or a Filter above it)
        m["spatial.join.candidates"] += x.sql_sum(
            "number of output rows", node="BroadcastHashJoin", text="[_cell")
        m["spatial.join.matches"] += x.sql_sum(
            "number of output rows", text="aggregate(_edges")
    if m["spatial.join.candidates"]:
        m["spatial.join.refine_keep_ratio"] = m["spatial.join.matches"] / m["spatial.join.candidates"]
    m["operators.binned.s"] = layer_time("operators.binned")
    m["operators.binned.shuffle_bytes"] = layer_shuffle("operators.binned")
    m["operators.selection.s"] = layer_time("operators.selection")

    m["spatial.knn.s"] = layer_time("spatial.knn")
    m["spatial.knn.shuffle_bytes"] = layer_shuffle("spatial.knn")
    run_s = 0.0
    kernel_rows = 0.0
    for x in layer_spans("spatial.knn"):
        m["spatial.knn.arrow_bytes_sent"] += x.sql_sum("data sent to Python workers")
        m["spatial.knn.arrow_bytes_returned"] += x.sql_sum("data returned from Python workers")
        m["spatial.knn.python_s"] += x.sql_sum("time to run Python workers")
        kernel_rows += x.sql_sum("shuffle records written", node="Exchange", text="_salt")
        run_s += x.run_s
    if run_s:
        m["spatial.knn.python_share"] = m["spatial.knn.python_s"] / run_s

    m["sources.snapshot.commit_s"] = layer_time("sources.snapshot.commit")
    m["sources.snapshot.prune_s"] = layer_time("sources.snapshot.prune")
    m["sources.snapshot.scan_s"] = layer_time("sources.snapshot.scan")
    m["checkpoint.execute_s"] = layer_time("checkpoint.execute")
    m["checkpoint.resume_s"] = layer_time("checkpoint.resume")
    m["checkpoint.finalize_s"] = layer_time("checkpoint.finalize")

    c = tracer.counters
    for name in PER_LAYER:
        if name in c:
            m[name] = c[name]
    if m["spatial.knn.points"]:
        m["spatial.knn.halo_factor"] = kernel_rows / m["spatial.knn.points"]
    if c.get("sources.snapshot.files_total"):
        m["sources.snapshot.files_scanned_ratio"] = (
            c["sources.snapshot.files_scanned"] / c["sources.snapshot.files_total"])
    lookups = getattr(wl, "lookup_s", [])
    if lookups:
        m["sources.snapshot.lookup_s_p50"] = stats.median(lookups)
        tail = stats.tail_percentile(lookups)
        if tail is not None:
            m["sources.snapshot.lookup_s_tail"] = tail[1]
            m["sources.snapshot.lookup_tail_samples"] = tail[2]
    if getattr(wl, "input_bytes", 0):
        m["sources.snapshot.stored_bytes_per_input_byte"] = wl.stored_bytes / wl.input_bytes

    traced = sum(s["dur"] for s in spans if s["parent"] is None and s["blocking"])
    m["trace.untraced_pass_s_p50"] = untraced_p50
    m["trace.traced_pass_s"] = traced
    m["trace.overhead_s"] = traced - untraced_p50
    m["trace.accounted_ratio"] = traced / untraced_p50 if untraced_p50 else 0.0
    return m


def run(args, age_at_start: float, t_start: float) -> dict:
    import procstat
    import stats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (launcher and driver): no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # as bench.py: keep the Arrow workers' numpy buffers on the reused brk
    # heap instead of mmap/munmap churn (page faults stall on this host)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    pid = os.getpid()

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    try:
        wl.setup()
        log(f"session {session_start_s:.2f}s, inputs {time.perf_counter() - t0:.2f}s")
        # the warm-up pass is also the checked one: its outputs are kept
        # and verified against DuckDB after the timed passes
        t0 = time.perf_counter()
        try:
            checked, evidence = wl.checked_pass()
        except Exception:
            log("checked pass failed:\n" + traceback.format_exc())
            checked = evidence = None
        log(f"checked warm-up pass {time.perf_counter() - t0:.2f}s")
        for _ in range(PLAIN_WARMUP_PASSES):
            t0 = time.perf_counter()
            wl.run_pass()
            log(f"warm-up pass {time.perf_counter() - t0:.2f}s")
        if hasattr(wl, "lookup_s"):
            wl.lookup_s.clear()
        setup_s = age_at_start + (time.perf_counter() - t_start)
        log(f"{wl.name}: {wl.n_docs} docs, setup {setup_s:.2f}s")

        cpu0 = procstat.cpu_seconds(pid)
        deadline = time.perf_counter() + args.seconds
        samples, digests = [], []
        while True:
            t0 = time.perf_counter()
            try:
                digests.append(wl.run_pass())
            except Exception:
                log("pass failed:\n" + traceback.format_exc())
                digests.append(None)
            samples.append(time.perf_counter() - t0)
            if time.perf_counter() >= deadline:
                break
        cpu_s = procstat.cpu_seconds(pid) - cpu0
        peak_mb = procstat.hwm_mb(pid)
        p50 = stats.median(samples)
        log(f"passes {[round(s, 3) for s in samples]}")

        correct = evidence is not None
        t0 = time.perf_counter()
        try:
            if correct:
                wl.verify(evidence)
                log(f"verify {time.perf_counter() - t0:.2f}s")
        except Exception:
            log("output check failed:\n" + traceback.format_exc())
            correct = False

        traced_digests, tracer = [], None
        if args.trace:
            from tracing import Tracer

            for i in range(TRACED_PASSES):
                tracer = Tracer(spark, prefix=f"p{i}-")
                traced_digests.append(wl.traced_pass(tracer))
    finally:
        wl.close()
        stop_session(spark)

    ops = wl.ops_per_pass()
    attempted = ops * (len(digests) + len(traced_digests))
    failed = sum(wl.failed_ops(d, checked) for d in digests + traced_digests)
    correct = correct and failed == 0

    if args.trace:
        import eventlog

        span_metrics = eventlog.read(eventlog.find_log(os.path.join(work, "eventlog")))
        values = layer_metrics(tracer, span_metrics, wl, p50, session_start_s)
        if abs(values["trace.accounted_ratio"] - 1.0) > ACCOUNTED_TOLERANCE:
            log(f"traced blocking self times account for {values['trace.accounted_ratio']:.2f} "
                f"of the untraced pass, outside the {ACCOUNTED_TOLERANCE} tolerance")
            correct = False
        units = PER_LAYER
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"trace-{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "spans": tracer.spans,
                       "counters": tracer.counters, "per_layer": values}, f, indent=1)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s_p50": p50,
            "docs_per_s": wl.n_docs / p50,
            "cpu_s_per_pass": cpu_s / len(samples),
            "peak_rss_mb": peak_mb,
        }
        units = END_TO_END
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, HERE)
    import procstat

    age_at_start = procstat.process_age_s()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fast_carpenter_spark")):
        log(f"no fast_carpenter_spark package beside {HERE}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    shutil.rmtree(WORK_ROOT, ignore_errors=True)
    try:
        result = run(args, age_at_start, t_start)
    finally:
        shutil.rmtree(WORK_ROOT, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
