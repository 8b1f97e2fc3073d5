"""Failure modes of the partial store (`sinks.partials`), checked once per
store family through each family's public append/serve pair: a writer
that dies mid-batch is invisible to serve, its replay gives the
clean-run view, and a replay that dies leaves that view intact; a
replay of a committed batch leaves its files untouched; a store rooted
at a ``file://`` URI round-trips."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from log_analysis_system_spark.sources.catalog import read_events
from tests.conftest import SF_DIR


def _events(spark):
    ev = read_events(spark, SF_DIR)
    return [ev.where(F.col("event_id") % 2 == i) for i in range(2)]


def _docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return [docs.where(F.col("doc_id") % 2 == i) for i in range(2)]


def _change_point(spark):
    from log_analysis_system_spark.streaming.drift import (
        append_daily_batch,
        serve_change_point,
    )

    return append_daily_batch, serve_change_point, _events(spark)


def _psi(spark):
    from log_analysis_system_spark.streaming.drift import (
        append_drift_batch,
        bucket_counts,
        serve_drift,
    )

    ref = bucket_counts(read_events(spark, SF_DIR))
    return (
        append_drift_batch,
        lambda spark, store: serve_drift(spark, store, ref),
        _events(spark),
    )


def _oov(spark):
    from log_analysis_system_spark.queries.bpe import vocab_to_map, word_vocab
    from log_analysis_system_spark.streaming.oov import (
        append_oov_batch,
        serve_oov,
    )

    batches = _docs(spark)
    vocab = vocab_to_map(word_vocab(batches[0]))
    return (
        lambda df, store, i: append_oov_batch(df, vocab, store, i),
        serve_oov,
        batches,
    )


def _quantiles(spark):
    from log_analysis_system_spark.streaming.quantiles import (
        append_quantile_batch,
        serve_quantiles,
    )

    return append_quantile_batch, serve_quantiles, _events(spark)


def _shapley(spark):
    from log_analysis_system_spark.streaming.shapley import (
        append_shapley_batch,
        serve_shapley,
    )

    return append_shapley_batch, serve_shapley, _events(spark)


def _nbayes(spark):
    from log_analysis_system_spark.streaming.nbayes import (
        append_nb_batch,
        serve_nb_confusion,
    )

    batches = _docs(spark)
    evald = batches[0].select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    return (
        append_nb_batch,
        lambda spark, store: serve_nb_confusion(spark, store, evald),
        batches,
    )


def _ivm(spark):
    from log_analysis_system_spark.operators.ivm import (
        append_view_delta,
        revenue_view_delta,
        serve_view,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    return (
        lambda df, store, i: append_view_delta(
            revenue_view_delta(df, s, n), store, i
        ),
        serve_view,
        [li.where(F.col("l_orderkey") % 2 == i) for i in range(2)],
    )


def _rollup(spark):
    from log_analysis_system_spark.operators.hypertable import (
        append_rollup_batch,
        serve_rollup,
    )

    return (
        append_rollup_batch,
        serve_rollup,
        [b.select("ts", "value") for b in _events(spark)],
    )


def _pq(spark):
    from log_analysis_system_spark.queries.similarity import _quantized
    from log_analysis_system_spark.queries.similarity_pq import (
        append_pq_index,
        build_pq_index,
        search_pq_index,
    )

    vecs = _quantized(spark, SF_DIR)
    queries = vecs.where(F.col("vec_id") < 3).select("vec_id", "e")

    def append(df, idx, i):
        if not os.path.exists(idx.removeprefix("file://")):
            build_pq_index(spark, SF_DIR, idx)
        append_pq_index(spark, idx, df, i)

    return (
        append,
        lambda spark, idx: search_pq_index(spark, idx, queries),
        [
            vecs.where(F.col("vec_id") % 2 == i).select(
                (F.col("vec_id") + 10**6).alias("vec_id"), "e", "nrm"
            )
            for i in range(2)
        ],
    )


FAMILIES = {
    "drift_psi": _psi,
    "drift_change_point": _change_point,
    "oov": _oov,
    "quantiles": _quantiles,
    "shapley": _shapley,
    "nbayes": _nbayes,
    "ivm": _ivm,
    "hypertable": _rollup,
    "pq_index": _pq,
}


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _files(root):
    return sorted(
        (os.path.relpath(os.path.join(d, f), root),
         os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, names in os.walk(root)
        for f in names
    )


def _killed(df):
    """The batch with a write job that dies: every row raises."""
    return df.where(
        F.when(F.lit(True), F.raise_error(F.lit("writer killed")))
        .otherwise(F.lit(True))
    )


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory):
    """{family: (store, served view)} after a clean run of batches 0, 1."""
    runs = {}

    def get(name):
        if name not in runs:
            append, serve, batches = FAMILIES[name](spark)
            store = str(tmp_path_factory.mktemp(name) / "store")
            for i, b in enumerate(batches):
                append(b, store, i)
            runs[name] = store, _canon(serve(spark, store))
        return runs[name]

    return get


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_killed_writer_is_invisible_and_replay_recovers(
    spark, tmp_path, clean_runs, family
):
    append, serve, batches = FAMILIES[family](spark)
    store = str(tmp_path / "store")
    append(batches[0], store, 0)
    first = _canon(serve(spark, store))
    # killed while its write job runs ...
    with pytest.raises(Exception, match="writer killed"):
        append(_killed(batches[1]), store, 1)
    # ... or after staging all of batch 1, before the commit rename
    scratch = str(tmp_path / "scratch")
    append(batches[1], scratch, 1)
    staged = [d for d, subdirs, _ in os.walk(scratch) if "batch=1" in subdirs]
    assert staged
    for d in staged:
        os.rename(
            os.path.join(d, "batch=1"),
            os.path.join(store, os.path.relpath(d, scratch), ".stage-0"),
        )
    assert _canon(serve(spark, store)) == first
    append(batches[1], store, 1)  # the replay after the crash
    clean = clean_runs(family)[1]
    assert _canon(serve(spark, store)) == clean
    # a replay of the committed batch that is killed in turn
    with pytest.raises(Exception, match="writer killed"):
        append(_killed(batches[1]), store, 1)
    assert _canon(serve(spark, store)) == clean


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_replay_leaves_committed_files_untouched(spark, clean_runs, family):
    append, _, batches = FAMILIES[family](spark)
    store, _ = clean_runs(family)
    before = _files(store)
    append(batches[1], store, 1)
    assert _files(store) == before


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_file_uri_store_round_trips(spark, tmp_path, clean_runs, family):
    append, serve, batches = FAMILIES[family](spark)
    store = f"file://{tmp_path}/store"
    for i, b in enumerate(batches):
        append(b, store, i)
    assert _canon(serve(spark, store)) == clean_runs(family)[1]
