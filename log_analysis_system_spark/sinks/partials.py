"""Crash-safe store for incremental partials: the one format and commit
rule behind every per-batch monitor, view and index delta in the engine
(`streaming.drift`/`oov`/`quantiles`/`shapley`/`nbayes`, `operators.ivm`,
`operators.hypertable`, `queries.similarity_pq`).

Layout under ``root``, on any Hadoop filesystem:

- ``batch=<id>``: one committed batch partial (parquet).
- ``batch=base-<gen>``: the base written by compaction number ``gen``.
  Its ``_folded`` file lists, as JSON ``[lo, hi]`` ranges, the batch ids
  the base holds.
- ``.stage-<uuid>``: a write in progress. The leading dot hides it from
  Spark's file index and from `PartialStore.read`.

Commit rule: a batch or a base is written to a staging dir and becomes
visible through one rename to its committed name. A reader therefore
sees a whole batch or none of it, and a writer killed mid-batch leaves
only a hidden staging dir. A batch id commits once: a replay that finds
``batch=<id>`` committed, or folded into the base, changes nothing that
is served. Every store's batch content is a deterministic function of
the batch, so this is exactly-once with no marker files (an idempotent
sink keyed by the epoch id, as in Structured Streaming).

Compaction merges the base and live batches of ONE listing into a new
base that folds exactly the batch ids of that listing, commits it by
rename, and only then deletes the dirs of that listing. A batch that
lands meanwhile, whatever its id, is not folded and stays live. A crash
before the rename leaves the old base and batches serving; a crash after
it leaves dead dirs that readers skip and the next compaction deletes.
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_BATCH = re.compile(r"batch=(\d+)")
_BASE = re.compile(r"batch=base-(\d+)")
_FOLDED = "_folded"  # hidden from Spark's file index: "_" and no "="


class PartialStore:
    """Per-batch partials under ``root``, merged at read time."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Commit ``df`` as batch ``batch_id`` unless it is committed."""
        self._commit(df, f"batch={batch_id}")

    def read(self, as_of: int | None = None) -> DataFrame:
        """One parquet scan over the base and the live batches. With
        ``as_of``, only batches with id <= ``as_of`` take part (a
        snapshot read). Folded batches are not retained one by one, so a
        snapshot below the highest folded id raises ValueError."""
        _, gen, folded, batches = self._listing()
        if as_of is not None and folded and as_of < folded[-1][1]:
            raise ValueError(
                f"snapshot batch={as_of} predates the compaction "
                f"high-water mark (batch={folded[-1][1]}); compacted "
                f"history is not retained — raise the compaction cadence "
                f"or archive batch dirs to keep deeper time travel"
            )
        live = _live(gen, folded, batches, as_of)
        if not live:
            raise FileNotFoundError(f"no partials under {self.root}")
        return self._scan(live)

    def compact(self, merge: Callable[[DataFrame | None], DataFrame]) -> None:
        """Replace the base and live batches with ``merge(parts)``, where
        ``parts`` is their scan (None for an empty store)."""
        listed, gen, folded, batches = self._listing()
        live = _live(gen, folded, batches)
        merged = merge(self._scan(live) if live else None)
        folded = _coalesce(folded + [[bid, bid] for bid in batches])
        if self._commit(merged, f"batch=base-{gen + 1}", folded):
            fs, root = self._fs()
            for name in listed:
                fs.delete(root.suffix(f"/{name}"), True)

    def _fs(self):
        spark = SparkSession.active()
        root = spark._jvm.org.apache.hadoop.fs.Path(self.root)
        return root.getFileSystem(spark._jsc.hadoopConfiguration()), root

    def _listing(self):
        """One listing: (committed names, newest base gen or 0, the id
        ranges that base folded, {batch id: name})."""
        fs, root = self._fs()
        names = (
            [st.getPath().getName() for st in fs.listStatus(root)]
            if fs.exists(root) else []
        )
        listed, gen, batches = [], 0, {}
        for name in names:
            if m := _BASE.fullmatch(name):
                listed.append(name)
                gen = max(gen, int(m[1]))
            elif m := _BATCH.fullmatch(name):
                listed.append(name)
                batches[int(m[1])] = name
        if not gen:
            return listed, 0, [], batches
        stream = fs.open(root.suffix(f"/batch=base-{gen}/{_FOLDED}"))
        try:
            io = SparkSession.active()._jvm.org.apache.commons.io.IOUtils
            folded = json.loads(io.toString(stream, "UTF-8"))
        finally:
            stream.close()
        return listed, gen, folded, batches

    def _scan(self, names: list[str]) -> DataFrame:
        spark = SparkSession.active()
        # Past 32 input dirs Spark lists them in a job of one task per dir
        # (up to this conf's 10000). One task per core lists 400 batch
        # dirs in 0.2 s instead of 2 s (4 cores, local disk).
        key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
        old = spark.conf.get(key)
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
        try:
            return spark.read.parquet(*[f"{self.root}/{n}" for n in names])
        finally:
            spark.conf.set(key, old)

    def _commit(
        self, df: DataFrame, name: str, folded: list | None = None
    ) -> bool:
        """Stage ``df`` (and a base's ``folded`` ranges), then rename it
        to ``name``. False, with the staged copy dropped, when ``name``
        is already committed."""
        fs, root = self._fs()
        staged = root.suffix(f"/.stage-{uuid.uuid4().hex}")
        df.write.parquet(staged.toString())
        if folded is not None:
            out = fs.create(staged.suffix(f"/{_FOLDED}"))
            try:
                out.writeBytes(json.dumps(folded))
            finally:
                out.close()
        final = root.suffix(f"/{name}")
        # A Hadoop rename onto an existing dir moves the source INTO it,
        # so a committed name is never a rename target.
        if fs.exists(final):
            fs.delete(staged, True)
            return False
        if not fs.rename(staged, final):
            raise OSError(f"could not commit {final.toString()}")
        return True


def _live(
    gen: int,
    folded: list[list[int]],
    batches: dict[int, str],
    as_of: int | None = None,
) -> list[str]:
    """Names a read merges: the base, then every batch it did not fold
    (at or below ``as_of``), in id order."""
    return ([f"batch=base-{gen}"] if gen else []) + [
        name for bid, name in sorted(batches.items())
        if not any(lo <= bid <= hi for lo, hi in folded)
        and (as_of is None or bid <= as_of)
    ]


def _coalesce(ranges: list[list[int]]) -> list[list[int]]:
    """Sorted, merged ``[lo, hi]`` id ranges."""
    out = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out
