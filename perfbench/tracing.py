"""Per-layer tracing from the benchmark's side of the program boundary.

A ``Tracer`` wraps each operation the benchmark issues. In a traced run it
gives the operation its own Spark job group, waits for the listener bus once
the operation has returned, and reads what the operation did from Spark's
status stores (jobs, stages, tasks, executor and CPU time, shuffle and spill
bytes, Python-worker SQL metrics, Janino compiles). Everything is read
through py4j with the UI disabled. Records stay in memory until ``dump``.

Jobs are attributed to a span by job id: the benchmark is a closed loop
with one operation in flight, so every job the scheduler numbers between a
span's start and end belongs to it. That also covers jobs launched from the
streaming thread, which does not inherit the caller's job group.

An untraced run uses the same object with ``enabled=False``: spans still time
the calls (the benchmark needs those numbers anyway) but nothing is read from
the JVM, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import gc
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")

#: SQL-metric names of the Arrow/pandas boundary -> per-layer metric.
ARROW_METRICS = {
    "time to start Python workers": "arrow.worker_start_s",
    "time to initialize Python workers": "arrow.worker_init_s",
    "time to run Python workers": "arrow.python_run_s",
    "data sent to Python workers": "arrow.sent_mb",
    "data returned from Python workers": "arrow.recv_mb",
}

#: SQL-metric names of a file-writing command -> per-layer metric.
SINK_METRICS = {
    "number of written files": "sinks.files",
    "written output": "sinks.mb",
}


def parse_metric(text: str, metric_type: str) -> float:
    """Value of a SQL-metric string as Spark renders it ('1.3 s', '921.0 B',
    'total (min, med, max ...)\\n25 ms (...)'), in seconds or MB."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if metric_type == "size":
        return num * _UNITS.get(unit, 1.0) / MB
    if metric_type in ("timing", "nsTiming"):
        return num * _UNITS.get(unit, 1.0)
    return num


class Tracer:
    """Spans and per-layer counters for one benchmark process."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = 0
        #: Seconds spent reading the stores, which callers subtract from
        #: the wall time of the work the spans cover.
        self.read_s = 0.0
        if enabled:
            jvm = spark.sparkContext._jvm
            self._jsc = spark.sparkContext._jsc.sc()
            self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
            self._arrays = jvm.java.util.Arrays
            self._empty = jvm.java.util.ArrayList()
            self._no_q = spark.sparkContext._gateway.new_array(jvm.double, 0)
            # Status-store records cross py4j as one JSON string each; a
            # getter call per field would cost a round trip per field.
            scala = jvm.com.fasterxml.jackson.module.scala
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._json.registerModule(
                getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
            )

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, op: str, pass_no: int, **attrs):
        """Time one call into ``layer``; in a traced run also attribute the
        Spark work it caused to it. Yields the record so callers can add
        counts measured at the same boundary."""
        rec = {"layer": layer, "op": op, "pass": pass_no, **attrs}
        if self.enabled:
            r0 = time.perf_counter()
            self._seq += 1
            self.spark.sparkContext.setJobGroup(
                f"perfbench-{self._seq}", f"{layer}:{op}"
            )
            cg_n, cg_s = self._codegen_totals()
            rec["first_job"] = self._next_job_id()
            first_exec = self._sql_store().executionsCount()
            self.read_s += time.perf_counter() - r0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.enabled:
                r0 = time.perf_counter()
                self._jsc.listenerBus().waitUntilEmpty()
                n, s = self._codegen_totals()
                rec["catalyst.codegen_compiles"] = n - cg_n
                rec["catalyst.codegen_compile_s"] = s - cg_s
                rec.update(self._jobs(range(rec["first_job"], self._next_job_id())))
                rec.update(self._sql_executions(first_exec))
                rec["cache.resident_mb"], rec["cache.rdds"] = self.cache_state()
                self.spark.sparkContext._jsc.clearJobGroup()
                # Release the py4j proxies the reads created now, not from a
                # finalizer in the middle of the next operation.
                gc.collect()
                self.read_s += time.perf_counter() - r0
            self.spans.append(rec)

    def jobs_since(self, rec: dict) -> int:
        """Jobs launched since the span ``rec`` started (0 untraced)."""
        return self._next_job_id() - rec["first_job"] if self.enabled else 0

    def time_planning(self, df) -> float:
        """Force Catalyst analysis, optimisation and physical planning of
        ``df`` (traced runs only) and return the seconds it took."""
        if not self.enabled:
            return 0.0
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t0

    # -- JVM readers ---------------------------------------------------------
    def _codegen_totals(self) -> tuple[int, float]:
        """Janino compiles so far and their total seconds. The histogram's
        reservoir keeps every sample up to 1028, beyond which the sum is
        estimated from the mean."""
        h = self._codegen.METRIC_COMPILATION_TIME()
        n = h.getCount()
        snap = h.getSnapshot()
        if n <= 1028:
            total_ms = self._arrays.stream(snap.getValues()).sum()
        else:
            total_ms = snap.getMean() * n
        return n, total_ms / 1000.0

    def _next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def _jobs(self, job_ids: range) -> dict:
        store = self._jsc.statusStore()
        out = defaultdict(float)
        for job_id in job_ids:
            out["executor.jobs"] += 1
            job = json.loads(self._json.writeValueAsString(store.job(job_id)))
            for stage_id in job["stageIds"]:
                attempts = json.loads(self._json.writeValueAsString(
                    store.stageData(stage_id, False, self._empty, False, self._no_q)
                ))
                for st in attempts:
                    if st["status"] == "SKIPPED":
                        continue
                    out["executor.stages"] += 1
                    out["executor.tasks"] += st["numCompleteTasks"]
                    out["executor.run_s"] += st["executorRunTime"] / 1000.0
                    out["executor.cpu_s"] += st["executorCpuTime"] / 1e9
                    out["shuffle.write_mb"] += st["shuffleWriteBytes"] / MB
                    out["shuffle.read_mb"] += st["shuffleReadBytes"] / MB
                    out["shuffle.spill_mb"] += (
                        st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    ) / MB
                    out["sources.scan_mb"] += st["inputBytes"] / MB
        return dict(out)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_executions(self, first: int) -> dict:
        """Metrics of the SQL executions numbered from ``first``: the
        Arrow/pandas-boundary lines, and for executions that write files
        their duration, files and bytes."""
        store = self._sql_store()
        count = store.executionsCount()
        out = dict.fromkeys(
            [*ARROW_METRICS.values(), "sinks.write_s", "sinks.mb", "sinks.files"],
            0.0,
        )
        if count <= first:
            return out
        execs = json.loads(
            self._json.writeValueAsString(store.executionsList(first, count - first))
        )
        for ex in execs:
            values = ex.get("metricValues") or {}
            names = {m["accumulatorId"]: m for m in ex["metrics"]}
            writes = any(m["name"] in SINK_METRICS for m in names.values())
            if writes and ex.get("completionTime"):
                out["sinks.write_s"] += (
                    ex["completionTime"] - ex["submissionTime"]
                ) / 1000.0
            for acc, m in names.items():
                key = (SINK_METRICS.get(m["name"]) if writes else None) or (
                    ARROW_METRICS.get(m["name"])
                )
                if key is not None and str(acc) in values:
                    out[key] += parse_metric(values[str(acc)], m["metricType"])
        return out

    def cache_state(self) -> tuple[float, int]:
        """(MB, RDD count) of blocks the session holds: cached DataFrames and
        local checkpoints, in memory or on disk."""
        mb, rdds = 0.0, 0
        for info in self.spark.sparkContext._jsc.sc().getRDDStorageInfo():
            size = info.memSize() + info.diskSize()
            if size > 0:
                mb += size / MB
                rdds += 1
        return mb, rdds

    # -- output --------------------------------------------------------------
    def dump(self, path: str, header: dict) -> None:
        """Write the header and every span as JSON lines."""
        with open(path, "w") as fh:
            fh.write(json.dumps(header) + "\n")
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
