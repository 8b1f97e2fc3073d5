"""Incrementally-trained Naive Bayes: per-micro-batch count partials
appended idempotently, the SAME model served through the batch scoring
body.

The NB model is a pure function of two count tables — (class, word)
token counts and per-class doc counts — and counts are SUM-mergeable,
so the trainer is an incremental-view-maintenance problem, not a
retraining problem: each micro-batch of TRAIN docs commits its own
bounded partial to a partial store (`sinks.partials`), and serving
merges the partials and calls `queries.nbayes.nb_confusion_from_counts` on whatever eval set
the caller supplies. Per-class token totals, vocabulary size, and
priors all DERIVE from the merged counts, so no other state exists.

The parity test pins: streamed-trained model == the batch
`nb_lang_confusion` query (identical confusion matrix) when the
streamed train data equals the batch train split — including the case
where one class's docs are concentrated in a single late batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.nbayes import nb_count_partials
from ..sinks.partials import PartialStore


def append_nb_batch(batch_df: DataFrame, store_dir: str,
                    batch_id: int) -> None:
    """foreachBatch body for a streaming TRAIN-docs frame: commit one
    batch's token-count and doc-count partials."""
    cw, dc = nb_count_partials(batch_df)
    PartialStore(f"{store_dir}/cw").write(cw, batch_id)
    PartialStore(f"{store_dir}/dc").write(dc, batch_id)


def _merged(spark, store_dir: str, sub: str, keys: list[str],
            col: str) -> DataFrame:
    return (
        PartialStore(f"{store_dir}/{sub}").read()
        .groupBy(*keys)
        .agg(F.sum(col).cast("long").alias(col))
    )


def serve_nb_confusion(spark, store_dir: str,
                       eval_docs: DataFrame) -> DataFrame:
    """Score eval_docs (doc_id, true_lang, text) with the incrementally
    trained model — O(model) rows read from the store, never the train
    stream."""
    from ..queries.nbayes import nb_confusion_from_counts

    cw = _merged(spark, store_dir, "cw", ["lang", "word"], "c_cw")
    dc = _merged(spark, store_dir, "dc", ["lang"], "d_c")
    return nb_confusion_from_counts(spark, cw, dc, eval_docs)


def nb_trainer(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the incremental trainer to a streaming TRAIN-docs frame."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda b, i: append_nb_batch(b, store_dir, i)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
