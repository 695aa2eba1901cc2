#!/usr/bin/env python
"""Regenerate PLANS.md: .explain("formatted") excerpts for key operators."""

from __future__ import annotations

import contextlib
import io
import shutil
import tempfile

from pyspark.sql import functions as F


def main() -> None:
    from fastobo_py_spark import get_spark
    from fastobo_py_spark.operators.canonicalize import extract_edges_with_macros
    from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
    from fastobo_py_spark.queries import q_region_revenue
    from fastobo_py_spark.sources.corpus import corpus_to_parquet

    spark = get_spark(master="local[8]")
    d = tempfile.mkdtemp(prefix="plans_corpus_")
    corpus_to_parquet(d, n_obo=8, n_noise=8, n_broken=0, n_files=4)

    out = [PREAMBLE]

    def show(title, df, note=None):
        """One section: heading, optional hand-written prose, plan excerpt."""
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines = buf.getvalue().split("\n")[:120]
        prose = f"{note.strip()}\n\n" if note else ""
        out.append(f"\n## {title}\n\n{prose}```\n" + "\n".join(lines).rstrip() + "\n```")

    c = spark.read.parquet(d)
    clauses, _ = split_parsed(parse_corpus(c))
    show(
        "Corpus scan → OBO filter → Arrow parse (column pruning: only repo/path/content read)",
        clauses.where(F.col("tag") == "is_a").select("doc_sha", "frame_id", "v1"),
    )
    e = extract_edges_with_macros(clauses)
    show(
        "Edges + macro synthesis (single scan: the macro dim left-joins the xref "
        "rows as a ShuffledHashJoin, one explode emits base + synthesized edges)",
        e.groupBy("pred").count(),
    )

    from fastobo_py_spark.plans.pipeline import canonical_edges

    from fastobo_py_spark.operators.surrogate import with_doc_key

    cl2 = with_doc_key(clauses).repartition(8, "doc_key").persist()
    cl2.count()
    show(
        "Full canonical chain — the 10^12-file plan: ONE "
        "partition-wide MapInPandas kernel computes the fused canonicalization map "
        "over doc_key-repartitioned dims (BIGINT surrogate spine), every dim a "
        "doc_key-co-partitioned ShuffledHashJoin, ZERO exchanges of the edge table "
        "(only dim sides shuffle), final dedup is a HashAggregate reusing the cache "
        "partitioning, doc_sha restored by one co-partitioned dictionary join",
        canonical_edges(cl2),
        note=SQL_STAGES_NOTE + WRITE_EXCHANGE_NOTE,
    )
    show("TPC-H Q5 shape (dims broadcast, AQE shuffles)", q_region_revenue(spark, "/root/testdata/sf0.001"))

    from fastobo_py_spark.queries.relational import q_events_asof_join

    show(
        "As-of join (union + ONE hash exchange + window, ZERO join nodes — "
        "|L|+|R| rows through one shuffle, never the |L|×|R| range-join "
        "explosion; pushed filters + pruned ReadSchema on both scans)",
        q_events_asof_join(spark, "/root/testdata/sf0.001"),
    )
    from fastobo_py_spark.operators.text import chunk, pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    show(
        "Document chunking (sequence+explode+substring: a narrow no-shuffle "
        "map over the scan — chunk output pipelines with the read at any "
        "scale; ReadSchema pruned to doc_id/text)",
        chunk(docs),
    )
    show(
        "Sequence packing (per-shard running offsets: ONE hash exchange by "
        "shard, then window sums stream each shard in order — no global "
        "sort, no single-partition bottleneck)",
        pack_sequences(docs),
    )
    from fastobo_py_spark.plans import snapshots as S

    mor = tempfile.mkdtemp(prefix="plans_mor_")
    spark.createDataFrame(
        [("A", i) for i in range(100)], "idspace string, x int"
    ).write.partitionBy("idspace").parquet(f"{mor}/nodes")
    S.commit_snapshot(mor, added={t: sorted(S.list_data_files(mor)[t]) for t in S.TABLES})
    S.equality_delete(spark, mor, "x >= 90", keys=("x",), tables=("nodes",))
    show(
        "Merge-on-read masked read (equality deletes): ONE BroadcastHashJoin "
        "LeftAnti per delete key-schema — the null-safe key normalizes to "
        "coalesce+isnull hash keys, never a nested loop; with no pending "
        "deletes the plan is the plain single scan",
        S.read_table_at(spark, mor, "nodes"),
    )
    shutil.rmtree(mor, ignore_errors=True)

    spark.stop()
    shutil.rmtree(d)
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n")


PREAMBLE = """# PLANS — physical-plan evidence for the scale claims

`.explain("formatted")` excerpts captured from the live engine (regenerate
with `python tools/capture_plans.py`). What to look for, per the
100 TB design goals:

* **PushedFilters / ReadSchema** on parquet scans — predicate pushdown and
  column pruning reach the source (only the consumed columns are read).
* **BroadcastHashJoin** for every dimension-sized side of the relational
  queries (TPC-H dims) — no shuffle of the big side. The canonical chain
  instead uses **ShuffledHashJoin** with the edge side reusing the clause cache's
  hash partitioning on the BIGINT ``doc_key = xxhash64(doc_sha)``
  surrogate (operators/surrogate.py;
  requireAllClusterKeysForCoPartition=false), so ONLY the tiny dim side
  exchanges — nothing is driver-bounded and the edge table is never
  re-shuffled. doc_sha is restored by one co-partitioned dictionary
  join above the final dedup.
* **WholeStageCodegen** spans covering the extraction/linking projections
  — the CORPUS-sized hot path crosses into Python exactly once (the Arrow
  parse MapInPandas, inside the clause cache); the only other Python
  crossing is the single fused canonicalization kernel (resolution ∘ CC
  map, canonicalize.combined_map_distributed), which runs
  over the doc_key-repartitioned alias/equivalence DIMS — a vanishing
  fraction of the corpus (tests/test_plan_regression.py enforces both).
* **AQE** (AdaptiveSparkPlan) wrapping every shuffle so skewed ontology
  hubs re-plan at runtime.
"""

SQL_STAGES_NOTE = """
Each stage of the chain is one `spark.sql` statement over SQL text held
at module level (`session.sql_over`): the combined-kernel input, the
macro-fused extraction, and the rewrite joins with the dedup
encode/decode. The JVM analyses each statement once, where Column-API
construction re-analysed the growing plan after every `join`, `select`
and `withColumn` (a warm batch made 7,250–7,530 py4j round trips; now
~1,100). The macro dim (`canonicalize.macro_table_sql`) is one filter over
the header rows with `rel`/`filler` as `CASE` columns, where it was a
3-branch `Union` of three scans of the dims cache; the combined-kernel
input reads the dims cache twice (headers + alias/redirect/equivalence
rows in one filter, and the macro-covered xrefs), not three times.
"""

WRITE_EXCHANGE_NOTE = """
The chain itself has zero exchanges of the edge table. Its output then
feeds the writer (`materialize.graph_writers`) through ONE hash exchange
on `(idspace, salt)` (nodes: on `idspace`), with an explicit partition
count so AQE cannot coalesce it into one serial write task. Each output
leaf therefore has one writer task, and a batch adds one file per leaf
instead of one per (task, leaf): a 12-doc benchmark batch on 4 cores
wrote 206–246 node and edge files before, 130–132 after. Every created
file, `.crc` file and directory also has its permissions set, so files
per batch is a fixed per-batch cost (without libhadoop, Hadoop's own
local filesystem forks a `chmod` process for each; the session's
`file://` filesystem sets them through java.nio). The plan below is the
chain alone (`canonical_edges`), as the plan guards in
`tests/test_plan_regression.py` check it.
"""

if __name__ == "__main__":
    main()
