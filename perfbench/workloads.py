"""The workloads. Each drives the engine only through its public surface:
``Engine.query`` and ``streaming.ad_analytics``.

A workload has three phases, all called by ``run.py``:

- ``setup()`` builds its inputs and engine objects and returns the seconds
  spent generating inputs;
- ``run(deadline)`` is the closed loop: one operation at a time until the
  deadline, returning the per-unit wall times (a unit is a pass over the
  workload's operations, or one micro-batch);
- ``check()`` verifies the outputs outside the timed region and returns the
  names of the operations whose output was wrong or empty.
"""

from __future__ import annotations

import os
import time
from typing import NamedTuple

import duckdb

import gen
from checks import value_hash

from log_analysis_system_spark.engine import Engine
from log_analysis_system_spark.queries import ORACLES
from log_analysis_system_spark.sources.catalog import TABLES
from log_analysis_system_spark.streaming.ad_analytics import (
    BLACKLIST_THRESHOLD,
    AdAnalyticsPipeline,
    parse_ad_click_log,
)

MB = 1024.0 * 1024.0


def dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, ignoring hidden and marker files."""
    mb, files = 0.0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                mb += os.path.getsize(os.path.join(root, n)) / MB
                files += 1
    return mb, files


class Unit(NamedTuple):
    """Timing of one unit of work (a pass or a micro-batch)."""

    index: int
    wall_s: float
    ops: int
    failed: int


# ----------------------------------------------------------- registry -------

class Registry:
    """An analyst session: ``Engine.query`` over generated registry tables,
    each result fully materialized with a ``noop`` write. The queries stress
    different layers: ``session_agg`` (the reference's session aggregate)
    and ``local_supplier_volume`` (a TPC-H six-way join) are Catalyst
    planning, codegen and shuffle with no Python worker; ``ann_ivf_topk``
    trains its index in driver-side rounds of ``mapInPandas`` jobs before
    the result action, crosses the Arrow/pandas boundary and leaves cached
    blocks.

    Closed loop: pass 0 is the cold pass; every later pass starts with
    ``clearCache`` so it cannot be served from the previous pass's cached
    copy of the same plan. Pass time falls fastest over the first few
    passes, while the JVM compiles hot code, so the first four warm passes
    are a warm-up and ``warm_s`` is the median of the (at least three) after
    them."""

    name = "registry"
    queries = ("session_agg", "local_supplier_volume", "ann_ivf_topk")
    warmup_passes = 4
    min_warm = 7

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.ops_run: dict[str, int] = {}

    def setup(self) -> float:
        data = os.path.join(self.work, "registry")
        t0 = time.perf_counter()
        gen.write_registry_tables(data, self.seed)
        t1 = time.perf_counter()
        self.engine = Engine(data, self.spark)
        self.data = data
        self.order = gen.shuffled(self.queries, self.seed)
        return t1 - t0

    def run(self, deadline: float) -> list[Unit]:
        units = []
        p = 0
        while p <= self.min_warm or time.perf_counter() < deadline:
            if p > 0:
                self.spark.catalog.clearCache()
            t0, r0 = time.perf_counter(), self.tracer.read_s
            ops, failed = self.run_pass(p)
            wall = time.perf_counter() - t0 - (self.tracer.read_s - r0)
            units.append(Unit(p, wall, ops, failed))
            p += 1
        return units

    def warm(self, units: list[Unit]) -> list[Unit]:
        """The units ``warm_s`` and the per-layer medians are taken over."""
        return [u for u in units if u.index > self.warmup_passes]

    def run_pass(self, p: int) -> tuple[int, int]:
        # The cold pass keeps one order for every seed, so it always pays
        # the same first-call costs; warm passes take the seed's order.
        failed = 0
        for name in self.order if p > 0 else self.queries:
            self.ops_run[name] = self.ops_run.get(name, 0) + 1
            with self.tracer.span("queries", name, p) as rec:
                try:
                    self._query(name, rec)
                except Exception as exc:  # counted in `failed`, run goes on
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                    failed += 1
        return len(self.order), failed

    def _query(self, name: str, rec: dict) -> None:
        t0 = time.perf_counter()
        df = self.engine.query(name)
        rec["queries.build_s"] = time.perf_counter() - t0
        rec["queries.build_jobs"] = self.tracer.jobs_since(rec)
        rec["catalyst.plan_s"] = self.tracer.time_planning(df)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        rec["executor.wall_s"] = time.perf_counter() - t1

    def check(self) -> list[str]:
        """Each query's result against its DuckDB oracle over the same
        parquet: row count, column names and an order-insensitive value
        hash. A 0-row result fails."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'"
            )
        bad = []
        for name in self.queries:
            sdf = self.engine.query(name)
            cols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
            ok = len(srows) > 0
            if ok and name in ORACLES:
                tbl = con.execute(ORACLES[name]).fetch_arrow_table()
                d = tbl.to_pydict()
                drows = [tuple(d[c][i] for c in cols) for i in range(tbl.num_rows)]
                ok = (
                    sorted(tbl.column_names) == cols
                    and value_hash(srows) == value_hash(drows)
                )
            if not ok:
                bad.append(name)
        con.close()
        return bad


# --------------------------------------------------------- ad stream --------

class AdStream:
    """Seeded click-log files -> ``parse_ad_click_log`` over a text file
    stream -> ``AdAnalyticsPipeline.process_batch`` via ``foreachBatch``.

    Closed loop: the benchmark moves the next log file into the source
    directory, then waits in ``processAllAvailable`` until that micro-batch
    has committed. One file is one micro-batch.

    Batch latency keeps falling for about ten batches while the JVM compiles
    the per-batch code, and how far it has got by a given batch depends on
    the CPU the host leaves it. So the first nine batches are a warm-up and
    ``warm_s`` is the median of the (at least seven) batches after them,
    where the curve is flat."""

    name = "ad_stream"
    per_file = 2000
    max_files = 60
    min_batches = 16
    warmup_batches = 9

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.ops_run: dict[str, int] = {}

    def setup(self) -> float:
        base = os.path.join(self.work, "stream")
        t0 = time.perf_counter()
        self.files = gen.write_click_logs(
            os.path.join(base, "pending"), self.seed, self.max_files, self.per_file
        )
        t1 = time.perf_counter()
        self.src = os.path.join(base, "source")
        os.makedirs(self.src)
        self.state = os.path.join(base, "state")
        self.ckpt = os.path.join(base, "checkpoint")
        self.pipeline = AdAnalyticsPipeline(self.state)
        raw = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(self.src)
        )
        self.parsed = parse_ad_click_log(raw)
        return t1 - t0

    def _feed(self, i: int) -> None:
        dst = os.path.join(self.src, os.path.basename(self.files[i]))
        os.rename(self.files[i], dst)

    def run(self, deadline: float) -> list[Unit]:
        units = []
        with self.tracer.span("streaming", "batch", 0) as rec:
            self._feed(0)
            self.query = self.pipeline.start(self.parsed, self.ckpt)
            self.query.processAllAvailable()
            rec["batch"] = 0
        units.append(Unit(0, rec["wall_s"], 1, 0))
        i = 1
        while i < self.max_files and (
            i < self.min_batches or time.perf_counter() < deadline
        ):
            # The file lands inside the span: the stream thread may list it
            # and launch the batch's jobs at once.
            with self.tracer.span("streaming", "batch", i) as rec:
                self._feed(i)
                self.query.processAllAvailable()
                rec["batch"] = i
            units.append(Unit(i, rec["wall_s"], 1, 0))
            i += 1
        self.progress = list(self.query.recentProgress)
        self.query.stop()
        self.ops_run["batch"] = i
        self.batches = i
        return units

    def steady(self) -> list[dict]:
        """Progress of the batches after the warm-up, in batch order."""
        by_id = {p["batchId"]: p for p in self.progress if p["numInputRows"] > 0}
        return [by_id[b] for b in sorted(by_id) if b >= self.warmup_batches]

    def check(self) -> list[str]:
        """Final state against a plain-Python replay of the blacklist
        feedback loop over the files the stream consumed."""
        if self.query.exception() is not None:
            return ["batch"]
        consumed = sorted(os.listdir(self.src))
        batches = [gen.read_click_file(os.path.join(self.src, f)) for f in consumed]
        want = gen.replay_blacklist(batches, BLACKLIST_THRESHOLD)
        con = duckdb.connect()
        got_black = {
            r[0] for r in con.execute(
                f"SELECT user_id FROM '{self.pipeline.blacklist_path}/*.parquet'"
            ).fetchall()
        }
        got_counts = {
            (d, u, a): n for d, u, a, n in con.execute(
                "SELECT CAST(date_key AS VARCHAR), user_id, ad_id, click_count FROM read_parquet("
                f"'{self.pipeline.user_counts_path}/*/*.parquet', hive_partitioning=1)"
            ).fetchall()
        }
        got_stats = {
            (d, p, c, a): n for d, p, c, a, n in con.execute(
                "SELECT CAST(date_key AS VARCHAR), province, city, ad_id, click_count "
                "FROM read_parquet("
                f"'{self.pipeline.stat_path}/*/*.parquet', hive_partitioning=1)"
            ).fetchall()
        }
        con.close()
        ok = (
            len(consumed) == self.batches
            and got_black == want["blacklist"]
            and got_counts == want["user_counts"]
            and got_stats == want["stats"]
            and len(got_counts) > 0
        )
        self.kept = sum(got_counts.values()) / (self.batches * self.per_file)
        return [] if ok else ["batch"]


WORKLOADS = {w.name: w for w in (Registry, AdStream)}
