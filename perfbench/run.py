"""Benchmark entry point: one workload, one fresh SparkSession.

    python3 perfbench/run.py --workload monitor_sync --seed 1 --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics (tracing off), with ``--trace 1`` the per-layer
metrics of a traced run. A readable summary of every named metric goes
to stderr; ``--ledger PATH`` also writes the whole report as JSON.
Everything the run writes lives under ``perfbench/_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Gated by BENCHMARK.json: (name, unit), reported on every workload.
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_p75_s", "s"),
)
# Reported by traced runs; 0 where a workload never reaches the layer.
PER_LAYER = (
    ("session.start_s", "s"),
    ("driver.peak_rss_mb", "MB"),
    ("changes.read_s", "s"),
    ("changes.read_jobs", "count"),
    ("document.flatten_s", "s"),
    ("document.conform_s", "s"),
    ("upsert.merge_plan_s", "s"),
    ("upsert.checkpoint_write_s", "s"),
    ("upsert.checkpoint_write_jobs", "count"),
    ("warehouse.process_batch_s", "s"),
    ("warehouse.jobs_per_batch", "count"),
    ("warehouse.stages_per_batch", "count"),
    ("warehouse.tasks_per_batch", "count"),
    ("warehouse.files_added_per_batch", "count"),
    ("warehouse.rows_rewritten_per_change", "count"),
    ("warehouse.files_per_bucket", "count"),
    ("warehouse.stored_bytes_per_doc", "B"),
    ("warehouse.lookup_files_read", "count"),
    ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"),
    ("stream.latest_offset_ms", "ms"),
    ("stream.query_planning_ms", "ms"),
    ("stream.self_ms", "ms"),
    ("stream.source_rows_per_change", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("catalog.load_table_s", "s"),
    ("catalog.load_table_calls", "count"),
    ("catalog.register_views_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.exec_s", "s"),
    ("plans.exec_jobs", "count"),
    ("spark.job_busy_frac", "frac"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
)
WRITE_OPS = ("spool", "batch", "write")
STREAM_PHASES = (
    ("stream.trigger_ms", "triggerExecution"),
    ("stream.add_batch_ms", "addBatch"),
    ("stream.wal_commit_ms", "walCommit"),
    ("stream.commit_offsets_ms", "commitOffsets"),
    ("stream.latest_offset_ms", "latestOffset"),
    ("stream.query_planning_ms", "queryPlanning"),
)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs: a run that saw much of it ran on a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layout_metrics(run) -> dict:
    import layout

    footers = layout.Footers()
    commits = [c for d in run.warehouses for c in layout.commits(d, footers)]
    writes = [o for o in run.ops if o["kind"] in WRITE_OPS]
    added = [c for c in commits if any(o["t0"] <= c["ts"] <= o["t1"] for o in writes)]
    live = layout.live(run.warehouses[-1], footers) if run.warehouses else None
    changes = sum(o["changes"] for o in writes)
    return {
        "warehouse.files_added_per_batch": (
            sum(c["files_added"] for c in added) / len(writes) if writes else 0.0
        ),
        "warehouse.rows_rewritten_per_change": (
            sum(c["rows_added"] for c in added) / changes if changes else 0.0
        ),
        "warehouse.files_per_bucket": live["files"] / live["buckets"] if live else 0.0,
        "warehouse.stored_bytes_per_doc": live["bytes"] / live["rows"] if live else 0.0,
    }


def per_layer(run, tracer, session_s: float, rss_mb: float, layout_m: dict) -> dict:
    from tracer import busy_seconds, within

    jobs = tracer.jobs()
    ops = run.ops
    n = len(ops)
    windows = [(o["t0"], o["t1"]) for o in ops]
    spans = [s for s in tracer.spans if any(a <= s["t0"] <= b for a, b in windows)]

    def span_s(name):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name) / n

    def span_jobs(name):
        return sum(
            len(within(jobs, s["t0"], s["t1"])) for s in spans if s["name"] == name
        ) / n

    op_jobs = [j for a, b in windows for j in within(jobs, a, b)]
    writes = [o for o in ops if o["kind"] in WRITE_OPS]
    per_write = [within(jobs, o["t0"], o["t1"]) for o in writes]
    m = {
        "session.start_s": session_s,
        "driver.peak_rss_mb": rss_mb,
        "changes.read_s": span_s("changes.read"),
        "changes.read_jobs": span_jobs("changes.read"),
        "document.flatten_s": span_s("document.flatten"),
        "document.conform_s": span_s("document.conform"),
        "upsert.merge_plan_s": span_s("upsert.merge_plan"),
        "upsert.checkpoint_write_s": span_s("upsert.checkpoint_write"),
        "upsert.checkpoint_write_jobs": span_jobs("upsert.checkpoint_write"),
        "warehouse.process_batch_s": span_s("warehouse.process_batch"),
        "warehouse.jobs_per_batch": _mean(len(js) for js in per_write),
        "warehouse.stages_per_batch": _mean(sum(j["stages"] for j in js) for js in per_write),
        "warehouse.tasks_per_batch": _mean(sum(j["tasks"] for j in js) for js in per_write),
        **layout_m,
        "warehouse.lookup_files_read": _mean(run.trace.get("files_read", [])),
        "catalog.load_table_s": span_s("catalog.load_table"),
        "catalog.load_table_calls": sum(1 for s in spans if s["name"] == "catalog.load_table") / n,
        "catalog.register_views_s": span_s("catalog.register_views"),
        "plans.build_s": span_s("plans.build"),
        "plans.build_jobs": span_jobs("plans.build"),
        "plans.exec_s": span_s("plans.exec"),
        "plans.exec_jobs": span_jobs("plans.exec"),
        "spark.job_busy_frac": busy_seconds(jobs, windows) / sum(b - a for a, b in windows),
        "spark.executor_run_s": sum(j["run_s"] for j in op_jobs) / n,
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in op_jobs) / n,
        "spark.gc_s": sum(j["gc_s"] for j in op_jobs) / n,
        "spark.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in op_jobs) / n,
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in op_jobs) / n,
        "spark.spill_bytes": sum(j["spill_bytes"] for j in op_jobs) / n,
    }
    phases = run.trace.get("phases", [])
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = _mean(p[k] for p in phases)
    progress = run.trace.get("progress", [])
    for name, key in STREAM_PHASES:
        m[name] = _mean(p.get(key, 0) for p in progress)
    m["stream.self_ms"] = (
        m["stream.add_batch_ms"] - 1e3 * m["warehouse.process_batch_s"] if progress else 0.0
    )
    m["stream.source_rows_per_change"] = (
        sum(p["rows"] for p in progress) / sum(o["changes"] for o in ops) if progress else 0.0
    )
    return {name: float(m[name]) for name, _ in PER_LAYER}


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledger", help="also write the full report to this JSON file")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def _run(args, work: str) -> int:
    import workloads
    from couchwarehouse_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    steal0 = _steal_s()
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    session_s = time.perf_counter() - t
    try:
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        try:
            named = workloads.WORKLOADS[args.workload](run)
        finally:
            if tracer:
                tracer.uninstall()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        layout_m = layout_metrics(run)
        e2e = {
            "setup_s": session_s + run.setup_s,
            **workloads.primary(args.workload, named),
        }
        layers = per_layer(run, tracer, session_s, rss, layout_m) if tracer else None
    finally:
        _stop(spark)

    failed = len(run.failed)
    attempted = max(run.attempted, 1)
    summary = {
        "setup_s": e2e["setup_s"],
        **{k: v for k, v in named.items() if not isinstance(v, dict)},
        "stored_bytes_per_doc": layout_m["warehouse.stored_bytes_per_doc"],
        "peak_rss_mb": rss,
        "failed_op_frac": failed / attempted,
        "host_steal_s": _steal_s() - steal0,
    }
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
          file=sys.stderr)
    for k, v in summary.items():
        print(f"#   {k:<24} {v:.6g}", file=sys.stderr)
    for why in run.failures:
        print(f"# FAILED {why}", file=sys.stderr)
    if layers is None:
        units = dict(END_TO_END)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    if args.ledger:
        with open(args.ledger, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "trace": args.trace,
                    "named": named,
                    "summary": summary,
                    "end_to_end": e2e,
                    "per_layer": layers,
                    "ops": {
                        kind: {
                            "n": sum(1 for o in run.ops if o["kind"] == kind),
                            "p50_s": statistics.median(
                                o["dt"] for o in run.ops if o["kind"] == kind
                            ),
                        }
                        for kind in sorted({o["kind"] for o in run.ops})
                    },
                    "failures": run.failures,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
