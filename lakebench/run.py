"""Lakehouse benchmark: CDC cycles, merge-on-read interop and a query
sweep, run against the package's public API on local[<cores>].

    python3 lakebench/run.py                      # every workload, timed
                                                  # and traced, with overhead
    python3 lakebench/run.py --workload cdc_cycles --seed 1 --seconds 10 --trace 0

With `--workload`, the last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`). The exit code
is 0 only when every check passed. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "hybrid_data_lakehouse_lab_spark"
WORKLOAD_NAMES = ["cdc_cycles", "mor_interop"]

E2E_UNITS = {
    "setup_s": "s",
    "op_s.p50": "s",
    "read_s.p50": "s",
    "items_per_s": "1/s",
}

# span -> (metric prefix, name of its per-call time metric)
SPANS = {
    "job.run": ("job.run_", "s"),
    "job.serve": ("job.serve_", "s"),
    "lanes.bronze": ("lanes.bronze.", "drain_s"),
    "maintenance.compact": ("maintenance.compact_", "s"),
    "pipeline.process_batch": ("pipeline.process_batch_", "s"),
    "timetravel.write": ("timetravel.write_", "s"),
    "timetravel.read": ("timetravel.read_", "s"),
    "delta_log.export": ("delta_log.export_", "s"),
    "delta_log.read": ("delta_log.read_", "s"),
    "iceberg_meta.export_v2": ("iceberg_meta.export_v2_", "s"),
    "iceberg_meta.export_v3": ("iceberg_meta.export_v3_", "s"),
    "iceberg_meta.read": ("iceberg_meta.read_", "s"),
    "plans": ("plans.", "query_s"),
}
EVENT_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "job_s": "s",
    "driver_gap_s": "s",
    "shuffle_write_mb": "MiB",
}
SPILL_SPANS = ["pipeline.process_batch", "plans"]
# StreamingQueryProgress.durationMs key -> metric suffix
STREAM_DURATIONS = {
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "triggerExecution": "trigger_ms",
}
# per-call means of values the workloads note while tracing
EXTRAS = {
    "maintenance.compact_files_rewritten": "count",
    "timetravel.write_amp": "ratio",
    "timetravel.space_amp": "ratio",
    "delta_log.export_mb": "MiB",
    "delta_log.export_files": "count",
    "iceberg_meta.export_v2_mb": "MiB",
    "iceberg_meta.export_v2_files": "count",
    "iceberg_meta.export_v3_mb": "MiB",
    "iceberg_meta.export_v3_files": "count",
}


def per_layer_metrics(run, groups, calib_s: float, jvm_rss_mb: float) -> dict:
    """Per-call layer metrics: spans joined with the folded event log.

    A span's time is its self time (nested spans excluded); its
    event-log fields count only jobs tagged with its own group, and
    `driver_gap_s` is self time minus job time."""
    from eventlog import GroupStats
    from workloads import LANES

    m: dict[str, tuple[float, str]] = {}
    for span, (prefix, time_name) in SPANS.items():
        st = run.tracer.spans.get(span)
        calls = st.calls if st else 0
        g = groups.get(run.tracer.group(span), GroupStats())
        per = (lambda x: x / calls) if calls else (lambda x: 0.0)
        self_s = st.self_s if st else 0.0
        m[prefix + time_name] = (per(self_s), "s")
        m[prefix + "jobs"] = (per(g.jobs), "count")
        m[prefix + "tasks"] = (per(g.tasks), "count")
        m[prefix + "job_s"] = (per(g.job_s), "s")
        m[prefix + "driver_gap_s"] = (per(self_s - g.job_s), "s")
        m[prefix + "shuffle_write_mb"] = (per(g.shuffle_write_bytes / 2**20), "MiB")
        if span in SPILL_SPANS:
            m[prefix + "spill_mb"] = (per(g.spill_bytes / 2**20), "MiB")

    streams = run.tracer.streams
    progress = [p for q in streams for p in q.recentProgress]
    n = len(streams)
    m["lanes.bronze.batches"] = (
        sum(1 for p in progress if p["numInputRows"] > 0) / n if n else 0.0,
        "count",
    )
    m["lanes.bronze.rows_in"] = (
        sum(p["numInputRows"] for p in progress) / n if n else 0.0,
        "count",
    )
    for key, suffix in STREAM_DURATIONS.items():
        total = sum(p["durationMs"].get(key, 0) for p in progress)
        m["lanes.bronze." + suffix] = (total / n if n else 0.0, "ms")

    def mean(name: str) -> float:
        xs = run.extra.get(name, [])
        return statistics.fmean(xs) if xs else 0.0

    for name, unit in EXTRAS.items():
        m[name] = (mean(name), unit)
    m["timetravel.write_mb"] = (mean("timetravel.write_bytes") / 2**20, "MiB")
    for lane in LANES:
        m["plans.lane_s." + lane] = (mean("plans.lane_s." + lane), "s")
    starts = run.extra.get("session.start_s", [])
    m["session.start_s"] = (statistics.median(starts) if starts else 0.0, "s")
    m["session.jvm_peak_rss_mb"] = (jvm_rss_mb, "MiB")
    m["session.py_peak_rss_mb"] = (_py_rss(), "MiB")
    m["host.calib_s"] = (calib_s, "s")
    return m


def _py_rss() -> float:
    from host import peak_rss_mb

    return peak_rss_mb()


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside `work`, and let Spark's
    Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [CHECKOUT, HERE]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # half the cores: the driver JVM's JIT and GC threads and the Python
    # side need the rest, and a run that oversubscribes them times the
    # scheduler as much as the program
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [CHECKOUT, HERE]


def _stop_jvm() -> None:
    """End the Spark gateway JVM and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    if not os.path.isfile(os.path.join(CHECKOUT, PACKAGE, "__init__.py")):
        print(f"lakebench: package {PACKAGE!r} not found under {CHECKOUT}", file=sys.stderr)
        return 2
    work = os.path.join(CHECKOUT, ".lakebench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from eventlog import read_events, summarize
    from host import host_calibration, peak_rss_mb
    from spans import Tracer
    from workloads import WORKLOADS, Run

    run = Run(name, seed, seconds, work, Tracer(name, trace))
    try:
        calib = [host_calibration()] if trace else []
        e2e = WORKLOADS[name](run)
        run.tracer.unpatch()
        layers = None
        if trace:
            calib.append(host_calibration())
            jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
            jvm_rss = peak_rss_mb(jvm_pid)
            print(f"host.calib_s before={calib[0]:.4f} after={calib[1]:.4f}")
            run.spark.stop()
            run.spark = None
            log_dir = os.path.join(work, "eventlog")
            events = (
                ev
                for f in sorted(os.listdir(log_dir))
                for ev in read_events(os.path.join(log_dir, f))
            )
            groups = summarize(events, run.tracer.run_groups)
            layers = per_layer_metrics(run, groups, min(calib), jvm_rss)
    finally:
        run.tracer.unpatch()
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    for err in run.errors:
        print(f"FAILED: {err}", file=sys.stderr)
    if trace:
        print("e2e " + json.dumps(e2e))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    ok = run.failed == 0 and run.attempted > 0
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if ok else 1


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process;
    prints the end-to-end metrics and the tracing overhead."""
    status = 0
    for name in WORKLOAD_NAMES:
        results = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(line)
            if proc.returncode != 0 or not lines:
                status = 1
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{name} trace={trace}: exit {proc.returncode}")
                continue
            results[trace] = json.loads(lines[-1])
            if trace:
                results["traced_e2e"] = json.loads(
                    next(x for x in lines if x.startswith("e2e "))[4:]
                )
        if 0 not in results:
            continue
        r = results[0]
        print(f"{name}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for k, v in r["metrics"].items():
            print(f"  {k:14s} {v['value']:.4f} {v['unit']}")
        if 1 in results:
            for k, v in results[1]["metrics"].items():
                print(f"  layer {k:45s} {v['value']:.4f} {v['unit']}")
            for k, v in results["traced_e2e"].items():
                base = r["metrics"][k]["value"]
                print(f"  tracing overhead {k:14s} {100 * (v / base - 1):+.1f}%")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload is None:
        return run_all(args.seed, args.seconds)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
