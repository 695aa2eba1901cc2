"""Streaming corpus→KG: the batch canonical chain under foreachBatch.

The batch job (plans/pipeline.py) and this stream run the SAME operator
code — ``foreachBatch`` hands each micro-batch of newly-arrived corpus
rows to the identical parse → canonicalize → materialize flow and appends
to the same parquet layout. Exactly-once comes from the Structured
Streaming checkpoint (source offsets + batch id): a replayed micro-batch
rewrites the same doc_sha-keyed rows, which downstream readers dedup by
key — the same idempotence contract as the batch manifest (O19).

Per-document canonicalization makes this correct without cross-batch
state: every doc's aliases/equivalences live inside the doc, so a
micro-batch is a self-contained unit of work. (Cross-document state —
e.g. global equivalence — would need applyInPandasWithState instead;
the OBO semantics deliberately don't.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from fastobo_py_spark.operators.materialize import build_nodes, write_graph
from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
from fastobo_py_spark.plans.pipeline import canonical_edges
from fastobo_py_spark.schema import CORPUS_SCHEMA


def _process_batch(out_dir: str, n_salts: int):
    def fn(batch_df: DataFrame, batch_id: int) -> None:
        from fastobo_py_spark.plans import snapshots as _snap

        spark = batch_df.sparkSession
        pre_files = _snap.list_data_files(out_dir)
        # collect every persist for the finally block: a continuous stream
        # re-enters this fn every micro-batch, and a FAILED batch (write
        # error, lost executor) that raised past plain unpersist calls
        # would strand ~5 relations per retry in the CacheManager until
        # executor OOM — exactly the leak this bookkeeping exists to stop
        caches: list[DataFrame] = []
        try:
            parsed = parse_corpus(batch_df).persist()
            caches.append(parsed)
            clauses, quarantine = split_parsed(parsed)
            quarantine.write.mode("append").parquet(os.path.join(out_dir, "quarantine"))
            n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
            # same cache contract as the batch pipeline: BIGINT doc_key
            # surrogate spine (deterministic xxhash64, so micro-batches
            # agree with earlier output), hash-partitioned on it
            from fastobo_py_spark.operators import surrogate as _surrogate

            clauses = _surrogate.with_doc_key(clauses).repartition(n_shuffle, "doc_key").persist()
            caches.append(clauses)
            # surrogate-key audit per micro-batch (ADVICE r5): one
            # exchange-free aggregate over the cached batch; a colliding
            # batch falls back to the exact doc_sha spine so its output
            # is correct, matching run_pipeline's policy
            spine = "doc_key" if _surrogate.audit_doc_keys(clauses).count() == 0 else "doc_sha"
            edges = canonical_edges(clauses, persisted_out=caches, key_col=spine)
            write_graph(build_nodes(clauses), edges, out_dir, n_salts)
            # same snapshot visibility contract as the batch pipeline:
            # one atomic commit per micro-batch. A checkpoint-REPLAYED
            # batch (crash after commit, before the checkpoint advanced)
            # would otherwise re-append its rows under new part files and
            # commit a SECOND stream-append snapshot, making read_table_at
            # readers see duplicate doc_sha rows until they dedup
            # (ADVICE r5): the batch_id recorded in each snapshot makes
            # the replay detectable, so skip the commit — the replayed
            # files then stay invisible orphans, matching the crash
            # semantics everywhere else in this module.
            already = any(
                s.get("op") == "stream-append" and s.get("batch_id") == str(batch_id)
                for s in _snap.list_snapshots(out_dir)
            )
            if not already:
                post_files = _snap.list_data_files(out_dir)
                _snap.commit_snapshot(
                    out_dir,
                    added={t: sorted(post_files[t] - pre_files.get(t, set())) for t in _snap.TABLES},
                    op="stream-append",
                    batch_id=str(batch_id),
                )
        finally:
            for c in caches:
                try:
                    c.unpersist()
                except Exception:
                    pass  # session already torn down mid-failure

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
    # same entry hygiene as the batch pipeline: without it a directory
    # that predates the snapshot log strands its files outside every
    # snapshot
    from fastobo_py_spark.plans import snapshots as _snap

    os.makedirs(out_dir, exist_ok=True)
    _snap.ensure_baseline(out_dir)

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
