"""Hypertable-style continuous aggregates: time-bucketed rollups with a
lossless merge algebra.

Beyond the reference (whose only time aggregation is the ad-hoc
``yyyy-MM-dd_HH`` string keys, reference: src/main/java/com/soto/util/
DateUtils.java:103-110 + UserVisitSessionAnalyzeSpark.java:712-736): a
100 TB event store cannot re-scan raw history for every dashboard query.
The standard fix is a materialized time-bucket rollup maintained
incrementally — queries read the rolled-up history plus a rollup of the raw
tail, merged.

The invariant that makes this correct is that every stored measure is a
PARTIAL aggregate with a merge operation: count/sum merge by sum, min/max
by min/max. ``merge_rollups(rollup(A), rollup(B)) == rollup(A ∪ B)`` exactly
(the unit test pins this), so serving rollup(history) ⊎ rollup(tail) is
indistinguishable from scanning everything. Averages are derived at read
time (sum/count); exact distinct counts are NOT mergeable — at scale store
an HLL sketch per bucket and union sketches instead.

Measures are aggregated in integer milli-units (round(value*1000)) per the
repo determinism policy — double sums are order-dependent, integer sums are
exact in any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.partials import PartialStore

#: measure columns every rollup table carries, and how they merge.
_MERGES = {
    "n_events": F.sum,
    "sum_v_milli": F.sum,
    "min_v_milli": F.min,
    "max_v_milli": F.max,
}


def rollup_events(
    df: DataFrame,
    bucket: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Aggregate raw events into one row per (time bucket, *keys) carrying
    partial aggregates. One shuffle; map-side combine applies."""
    keys = keys or []
    v_milli = F.round(F.col(value_col) * 1000).cast("long")
    return (
        df.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"), *keys
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(v_milli).alias("sum_v_milli"),
            F.min(v_milli).alias("min_v_milli"),
            F.max(v_milli).alias("max_v_milli"),
        )
    )


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Combine rollup tables over disjoint (or overlapping-in-time, disjoint-
    in-rows) inputs into one: the incremental-maintenance step
    (``merge_rollups(existing, rollup_events(new_batch))``) and the serving
    step (history ⊎ raw tail) are the same operation."""
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    group_cols = [c for c in out.columns if c not in _MERGES]
    return out.groupBy(*group_cols).agg(
        *[fn(c).alias(c) for c, fn in _MERGES.items()]
    )


# ---------------------------------------------- persisted incremental store

def _store(store_dir: str) -> PartialStore:
    return PartialStore(f"{store_dir}/batches")


def append_rollup_batch(
    events_batch: DataFrame,
    store_dir: str,
    batch_id: int,
    bucket: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """Incremental-maintenance write path: roll up ONE ingest batch and
    commit its partial aggregates as batch ``batch_id`` of the partial
    store (`sinks.partials` states the commit and replay rule). History
    is never rewritten — the failure mode a merge-into-place refresh has
    (replay after a crash between data write and marker double-merges the
    delta) cannot occur; serving merges partials (`serve_rollup`);
    `compact_rollup` bounds the batch-dir count."""
    _store(store_dir).write(
        rollup_events(
            events_batch, bucket=bucket, keys=keys, ts_col=ts_col,
            value_col=value_col,
        ),
        batch_id,
    )


def serve_rollup(
    spark, store_dir: str, as_of_batch: int | None = None
) -> DataFrame:
    """Serving path: merge the persisted partials (compacted base + live
    batch dirs) into the current continuous-aggregate view — identical to
    rolling up all raw history (the merge-algebra invariant, tested), but
    reading only O(buckets) partial rows.

    ``as_of_batch`` gives a TIME-TRAVEL read: the view as of that ingest
    batch (inclusive). Because history is append-only partials, a snapshot
    is just "merge fewer dirs" — no undo log, no version manifests beyond
    the base's record of the batches it folded. Snapshots older than the
    last compaction are gone by design (ValueError); everything newer
    stays readable until the next compaction folds it in."""
    return merge_rollups(_store(store_dir).read(as_of_batch))


def compact_rollup(spark, store_dir: str) -> None:
    """Compaction: merge every live partial into one new base, committed
    atomically before the folded batch dirs are removed (the store's
    compaction rule in `sinks.partials`)."""

    def merge(parts):
        if parts is None:
            raise FileNotFoundError(f"nothing to compact under {store_dir}")
        return merge_rollups(parts)

    _store(store_dir).compact(merge)
