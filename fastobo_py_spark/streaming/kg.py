"""Streaming corpus→KG: the batch job under foreachBatch.

Each micro-batch of newly-arrived corpus rows is one
:func:`plans.pipeline.run_pipeline` call (``resume=False``: the
Structured Streaming checkpoint, not the ingest manifest, decides what is
new). The stream therefore writes what a batch writes — the parquet
layout, the quarantine, the ingest manifest and ``_metrics/<batch>.json``
— so a later ``run_pipeline(resume=True)`` over the same output skips
every stream-ingested document.

Exactly-once comes from the checkpoint (source offsets + batch id). The
one stream-specific rule lives in ``run_pipeline``: a micro-batch commits
an ``op="stream-append"`` snapshot carrying its batch id, and a
checkpoint-REPLAYED micro-batch (crash after the commit, before the
checkpoint advanced) finds that snapshot and skips its commit, so its
re-written part files stay invisible orphans.

Per-document canonicalization makes this correct without cross-batch
state: every doc's aliases/equivalences live inside the doc, so a
micro-batch is a self-contained unit of work. (Cross-document state —
e.g. global equivalence — would need applyInPandasWithState instead;
the OBO semantics deliberately don't.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fastobo_py_spark.plans.pipeline import run_pipeline
from fastobo_py_spark.schema import CORPUS_SCHEMA


def _process_batch(out_dir: str, n_salts: int):
    def fn(batch_df: DataFrame, batch_id: int) -> None:
        run_pipeline(
            batch_df.sparkSession, batch_df, out_dir, resume=False, n_salts=n_salts, stream_batch_id=batch_id
        )

    return fn


def stream_build_kg(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_salts: int = 16,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """readStream over a corpus directory → canonical KG parquet sinks.

    ``availableNow`` drains the backlog then stops (test/batch-catchup
    mode); production drops it for continuous micro-batches.
    """
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(corpus_dir)
    writer = stream.writeStream.foreachBatch(_process_batch(out_dir, n_salts)).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
