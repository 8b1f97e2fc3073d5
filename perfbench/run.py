"""Benchmark of the log-analysis engine, end to end and per layer.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run it from the repository root. One process, one Spark session
(``local[nproc]``), one client in a closed loop. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Per-operation records of the run are written as
JSON lines under ``.perfbench_out/``. The exit code is 1 when an operation
or an output check failed, and 2 when the engine's sources are not in the
working directory.
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "log_analysis_system_spark"

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.input_gen_s": "s",
    "sources.scan_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.pass_wall_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.codegen_compiles": "count",
    "catalyst.codegen_compile_s": "s",
    "executor.wall_s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.busy_frac": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "arrow.worker_start_s": "s",
    "arrow.worker_init_s": "s",
    "arrow.python_run_s": "s",
    "arrow.sent_mb": "MB",
    "arrow.recv_mb": "MB",
    "cache.resident_mb": "MB",
    "cache.rdds": "count",
    "sinks.write_s": "s",
    "sinks.mb": "MB",
    "sinks.files": "count",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.log_commit_s": "s",
    "streaming.source_s": "s",
    "streaming.batch_jobs": "count",
    "streaming.batch_tail_s": "s",
    "streaming.events_per_s": "1/s",
    "streaming.state_mb": "MB",
    "streaming.state_files": "count",
    "streaming.kept_frac": "ratio",
    "streaming.growth_ratio": "ratio",
}

#: Span keys summed per unit of work before taking the median over units.
SUMMED = [
    k for k in PER_LAYER
    if k.split(".")[0] in ("queries", "catalyst", "executor", "shuffle", "arrow", "sinks")
    and k not in ("queries.pass_wall_s", "executor.busy_frac")
] + ["sources.scan_mb"]


def process_age() -> float:
    """Seconds since this process started: its start time from /proc (in
    clock ticks since boot) against the clock /proc/uptime reads."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    uptime = time.clock_gettime(time.CLOCK_BOOTTIME)
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["registry", "ad_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_session(work: str, nproc: int):
    """The engine's own session factory, with this host's core count and
    every scratch path inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Both JVMs spark-submit starts: temp files in the checkout, and no
    # hsperfdata file, which HotSpot always puts under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    ).strip()
    from log_analysis_system_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # The status stores must keep every job of a run for tracing.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM that PySpark launched for it, and wait
    until that process has exited (Spark's Python workers are its children
    and are stopped with the session)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pass_layers(spans: list[dict], warm, nproc: int) -> dict:
    """Per-layer metrics of a pass workload: each metric summed over a warm
    pass's operations, then the median over warm passes. Cache figures are
    those left after the pass's last operation."""
    per_pass = []
    for u in warm:
        recs = [r for r in spans if r["pass"] == u.index]
        row = {k: sum(r.get(k, 0.0) for r in recs) for k in SUMMED}
        row["queries.pass_wall_s"] = u.wall_s
        row["executor.busy_frac"] = row["executor.run_s"] / (u.wall_s * nproc)
        row["cache.resident_mb"] = recs[-1].get("cache.resident_mb", 0.0)
        row["cache.rdds"] = recs[-1].get("cache.rdds", 0)
        per_pass.append(row)
    return {k: median([row[k] for row in per_pass]) for k in per_pass[0]}


def stream_layers(wl, spans: list[dict], nproc: int) -> dict:
    """Per-layer metrics of the stream: medians over steady micro-batches."""
    from workloads import dir_size

    steady = wl.steady()
    ids = {p["batchId"] for p in steady}
    recs = [r for r in spans if r.get("batch") in ids]
    out = {k: median([r.get(k, 0.0) for r in recs]) for k in SUMMED}
    out["queries.pass_wall_s"] = median([r["wall_s"] for r in recs])
    out["executor.busy_frac"] = median(
        [r.get("executor.run_s", 0.0) / (r["wall_s"] * nproc) for r in recs]
    )
    out["cache.resident_mb"] = median([r.get("cache.resident_mb", 0.0) for r in recs])
    out["cache.rdds"] = median([r.get("cache.rdds", 0) for r in recs])

    def phase(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0

    lat = [phase(p, "triggerExecution") for p in steady]
    out["streaming.add_batch_s"] = median([phase(p, "addBatch") for p in steady])
    out["streaming.plan_s"] = median([phase(p, "queryPlanning") for p in steady])
    out["streaming.log_commit_s"] = median(
        [phase(p, "walCommit", "commitOffsets") for p in steady]
    )
    out["streaming.source_s"] = median(
        [phase(p, "getBatch", "latestOffset") for p in steady]
    )
    out["streaming.batch_jobs"] = out["executor.jobs"]
    srt = sorted(lat)
    out["streaming.batch_tail_s"] = srt[-11] if len(srt) >= 11 else srt[-1]
    out["streaming.events_per_s"] = (
        sum(p["numInputRows"] for p in steady) / sum(lat)
    )
    out["streaming.state_mb"], out["streaming.state_files"] = dir_size(wl.state)
    out["streaming.kept_frac"] = wl.kept
    q = max(1, len(lat) // 4)
    out["streaming.growth_ratio"] = median(lat[-q:]) / median(lat[:q])
    return out


def run(args: argparse.Namespace) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    nproc = len(os.sched_getaffinity(0))
    load0 = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_session(work, nproc)
    session_s = process_age()
    try:
        # Importing the workloads imports the engine; that is set-up too.
        from tracing import Tracer
        from workloads import WORKLOADS

        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        input_gen = wl.setup()
        setup_s = process_age()
        steal0, total0 = cpu_ticks()
        units = wl.run(time.perf_counter() + args.seconds)
        steal1, total1 = cpu_ticks()
        cache_mb, cache_rdds = tracer.cache_state()
        bad = wl.check()
        if args.workload == "ad_stream":
            warm = [p["durationMs"]["triggerExecution"] / 1000.0 for p in wl.steady()]
        else:
            warm = [u.wall_s for u in wl.warm(units)]
        e2e = {
            "setup_s": setup_s,
            "cold_s": units[0].wall_s,
            "warm_s": median(warm),
        }
        if args.trace:
            layers = (
                stream_layers(wl, tracer.spans, nproc)
                if args.workload == "ad_stream"
                else pass_layers(tracer.spans, wl.warm(units), nproc)
            )
            layers["session.start_s"] = session_s
            layers["sources.input_gen_s"] = input_gen
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(u.ops for u in units)
    failed = min(attempted, sum(u.failed for u in units)
                 + sum(wl.ops_run.get(name, 1) for name in bad))
    header = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_start": load0,
        # Share of CPU time the hypervisor took while the units ran.
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "loadavg_end": os.getloadavg()[0], "session_s": session_s,
        "unit_walls_s": [u.wall_s for u in units], "warm_samples": len(warm),
        "cache_resident_mb": cache_mb, "cache_rdds": cache_rdds,
        "failed_checks": bad, "end_to_end": e2e, "trace_read_s": tracer.read_s,
        "metrics": {k: m["value"] for k, m in metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"),
        header,
    )
    print(f"# {args.workload} seed={args.seed} nproc={nproc} loadavg={load0:.2f} "
          f"steal={header['steal_frac']:.3f} units={len(units)} "
          f"warm_samples={len(warm)} failed_checks={bad}")
    for k, m in metrics.items():
        print(f"# {k:28s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def main() -> int:
    return run(parse_args(sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
