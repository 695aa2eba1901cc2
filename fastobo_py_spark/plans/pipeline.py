"""O19 + orchestration: the full corpus→KG job, resumable mid-run.

North-rule requirements implemented here:
  * per-partition checkpointed lineage: every completed source row is
    recorded in a manifest keyed by (repo, path, commit, content_sha256);
    a restarted run anti-joins the corpus against the manifest and only
    processes the remainder (no reference analogue — fastobo-py is a
    single-process library; this is the 10^12-file-scale addition).
  * metrics: per-stage row counts written next to the outputs, plus the
    files each table gained and the generated-code compiles the batch
    paid for (its fixed costs).

Exchanges: the canonical chain runs with zero exchanges of the edge
table over the doc_key-partitioned clause cache; exactly one
``(idspace, salt)`` hash exchange then feeds the writer
(``materialize.graph_writers``), so a batch adds one file per output
leaf, not one per (write task, leaf).

The manifest is append-only parquet (an Iceberg table on a real cluster,
where commit atomicity comes from the table format; locally, parquet
append of one sub-directory per batch gives the same crash-consistency:
a batch is visible only after its files commit). Fragmentation is bounded
by :func:`compact_manifest` — a crash-safe write-then-swap rewrite into a
few doc_sha-sorted files once part-count passes a threshold (Iceberg's
rewrite_data_files analogue), so the resume anti-join never scans
unbounded small files.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fastobo_py_spark.operators.canonicalize import rewrite_edges_sql
from fastobo_py_spark.operators.idents import edge_idspace_sql
from fastobo_py_spark.operators.materialize import build_nodes, graph_writers
from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
from fastobo_py_spark.session import codegen_compiles, jvm_times, local_fs_class, release, sql_over

MANIFEST_COLS = ("doc_sha", "repo", "path", "commit")

# the canonical-edge identity. BOTH pipeline paths dedup on its doc_key
# surrogate twin (see _dedup_edges) — the clause cache is hash-partitioned
# on doc_key once and nothing downstream re-shuffles the edge table; a
# dropDuplicates on doc_sha here would re-exchange the whole table, since
# doc_sha is no longer the cache's partitioning column (code-review r5)
EDGE_KEY = ["subj", "pred", "obj", "doc_sha"]


def canonical_edges(
    clauses: DataFrame,
    persisted_out: list | None = None,
    key_col: str = "doc_key",
) -> DataFrame:
    """Clause rows → canonicalized, per-doc-deduped edge table — the one
    composition of alias/obsolete resolution, equivalence components and
    treat-xrefs macros in the package.

    Every dimension — macro table and the fused resolution/component map —
    flows as a document-key co-partitioned shuffle-hash join against the
    already-partitioned clause cache, and the resolution/CC computations
    shard per document inside one partition-wide mapInPandas kernel
    (``canonicalize.combined_map_distributed``). ZERO driver collects,
    ZERO broadcast builds, so the job's serial fraction is two job
    submissions no matter the corpus size. Every step is per document,
    so any subset of documents canonicalizes exactly as it would inside
    a larger corpus.

    ``persisted_out``: internal caches (dims / canonicalization map) are
    appended here so the caller can ``unpersist()`` them once the edge
    table is materialized. Long-lived sessions — above all the streaming
    path, which enters once per micro-batch — MUST pass a list and clean
    up, or the CacheManager accumulates two relations per call.

    ``key_col`` is the spine: the BIGINT surrogate ``doc_key =
    xxhash64(doc_sha)`` (operators/surrogate.py, the default) — the 64-hex
    doc_sha is pruned off every join/explode/aggregate row and restored
    by one co-partitioned dictionary join at the end — or the exact
    string ``doc_sha``, the fallback for a corpus whose ``doc_key`` audit
    reports a collision. Callers should hash-partition the clause cache
    on the spine column; a cache without ``doc_key`` is healed here (at
    the cost of the joins re-exchanging, same as any mispartitioned
    input).
    """
    from fastobo_py_spark.operators.canonicalize import (
        combined_map_distributed,
        extract_edges_with_macros,
    )
    from fastobo_py_spark.operators.surrogate import with_doc_key

    if key_col == "doc_key":
        clauses = with_doc_key(clauses)
    # The dim builders (macro table, alias/replacement map, equivalence
    # pairs) each rescan their input; against the full clause cache that
    # was ~5 extra full-table scans — the measured bulk of the graph
    # stage. One narrow projection holds every dim-bearing row (headers +
    # alias/redirect/equivalence/xref tags, a small fraction of the edge
    # rows), so dim building rescans only it.
    dims = clauses.where(_DIMS_FILTER).persist()
    if persisted_out is not None:
        persisted_out.append(dims)
    # eager fill: the map/macro branches otherwise race to compute the
    # same cache partitions and serialize on block locks (measured: 100+
    # task-seconds of cores held while blocked)
    dims.count()

    # resolution ∘ components in ONE exchange + ONE partition-wide kernel:
    # a compositional pipeline's ~10 serial stage boundaries over kilobyte
    # dim tables were the measured constant term dominating the graph
    # stage's N→4N loss. The edge table then sees two left joins (subj,
    # obj), not four.
    combined = combined_map_distributed(dims, key_col=key_col).persist()
    if persisted_out is not None:
        persisted_out.append(combined)
    # macro synthesis is FUSED into the extraction pass (no union) so the
    # clause cache's doc-key partitioning survives to the final dedup
    e = extract_edges_with_macros(clauses, macro_source=dims, key_col=key_col)
    return _dedup_edges(e, clauses, key_col, resolution=combined)


# every dim-bearing clause row: headers + alias/redirect/equivalence/xref tags
_DIMS_FILTER = "frame_type = 'Header' OR tag IN ('alt_id', 'replaced_by', 'equivalent_to', 'xref')"

# src_tag is a CLOSED 8-value set (triples._SIMPLE_EDGE_TAGS +
# relationship/intersection_of + the macro marker); the order below is the
# survivor priority when one (subj,pred,obj,doc_sha) arrives under several
# tags — original clauses beat macro-synthesized.
_SRC_TAG_ORDER = (
    "is_a", "relationship", "intersection_of", "union_of",
    "equivalent_to", "disjoint_from", "xref", "xref-macro",
)
_SRC_TAG_ENCODE = (
    "CASE" + "".join(f" WHEN src_tag = '{t}' THEN CAST({i} AS TINYINT)" for i, t in enumerate(_SRC_TAG_ORDER)) + " END"
)
_SRC_TAG_DECODE = "CASE d.__tc" + "".join(f" WHEN {i} THEN '{t}'" for i, t in enumerate(_SRC_TAG_ORDER)) + " END"
_IDSPACE_OF_SUBJ = edge_idspace_sql("d.subj")


def _dedup_edges(
    e: DataFrame, clauses: DataFrame, key_col: str, resolution: DataFrame | None = None
) -> DataFrame:
    """Per-doc edge dedup as a HashAggregate, in one ``spark.sql``
    statement; with a ``resolution`` map the endpoint rewrite joins
    (``canonicalize.rewrite_edges_sql``) are part of the same statement.

    ``dropDuplicates(EDGE_KEY)`` carries the src_tag/idspace STRINGS in
    ``first()`` buffers, which HashAggregateExec cannot hold (aggregation
    buffers must be mutable fixed-width) — Spark silently falls back to
    SortAggregate and full-sorts the multi-million-row edge table inside
    every partition. Encoding src_tag into a byte keeps the buffer
    fixed-width (min = deterministic survivor, unlike dropDuplicates),
    and idspace is re-derived from the FINAL subj — also more correct:
    the extraction-time value went stale when alias/equivalence rewrites
    changed the endpoint.

    On the surrogate spine (``key_col='doc_key'``) the aggregate hashes a
    BIGINT instead of the 64-hex doc_sha, and a doc_key → doc_sha
    dictionary (one row per document, an exchange-free aggregate over the
    doc_key-partitioned ``clauses``) restores the output column with a
    shuffle-hash join that exchanges only the dict — the edge side still
    carries the aggregate's doc_key partitioning.
    """
    src = "{e}" if resolution is None else f"({rewrite_edges_sql(key_col, '{e}', '{resolution}')}) r"
    deduped = (
        f"(SELECT subj, pred, obj, {key_col}, min({_SRC_TAG_ENCODE}) AS __tc FROM {src}"
        f" GROUP BY subj, pred, obj, {key_col}) d"
    )
    if key_col == "doc_key":
        head, doc_sha = "SELECT /*+ SHUFFLE_HASH(dd) */", "dd.doc_sha"
        deduped += " JOIN (SELECT DISTINCT doc_key, doc_sha FROM {clauses}) dd ON d.doc_key = dd.doc_key"
    else:
        head, doc_sha = "SELECT", "d.doc_sha"
    return sql_over(
        e.sparkSession,
        f"{head} d.subj, d.pred, d.obj, {_SRC_TAG_DECODE} AS src_tag, {doc_sha}, {_IDSPACE_OF_SUBJ} AS idspace"
        f" FROM {deduped}",
        e=e,
        clauses=clauses,
        resolution=resolution,
    )


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _adopt_orphan_compaction(out_dir: str) -> bool:
    """Crash recovery for :func:`compact_manifest`'s two-rename swap: if
    the primary manifest dir is missing but a fully-committed
    ``_manifest.compact-*`` dir (its ``_SUCCESS`` marker present) exists,
    adopt the NEWEST one by commit mtime — ids are random hex, so name
    order says nothing about recency, and adopting a stale dir leaked by
    an earlier pre-swap crash would silently roll the manifest back.
    (Belt-and-braces: :func:`compact_manifest` also deletes stale
    compact/old dirs up front, so normally at most one candidate exists.)
    Returns True if a rename happened."""
    import glob

    p = _manifest_path(out_dir)
    if os.path.isdir(p):
        return False
    candidates = [
        d for d in glob.glob(p + ".compact-*")
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    ]
    if not candidates:
        return False
    newest = max(candidates, key=lambda d: os.path.getmtime(os.path.join(d, "_SUCCESS")))
    os.rename(newest, p)
    return True


def _sweep_stale_compaction_dirs(out_dir: str) -> None:
    """Delete leftover ``_manifest.compact-*`` / ``_manifest.old-*`` dirs
    while the primary manifest exists — garbage from crashes before (or
    after) the swap. Without this sweep a committed-but-never-swapped
    copy would linger and could shadow a LATER crash's adoption."""
    import glob
    import shutil

    if not os.path.isdir(_manifest_path(out_dir)):
        return  # primary missing: candidates are recovery state, keep them
    for d in glob.glob(_manifest_path(out_dir) + ".compact-*") + glob.glob(
        _manifest_path(out_dir) + ".old-*"
    ):
        shutil.rmtree(d, ignore_errors=True)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The ingest manifest, or None while it holds no part file. A
    manifest that exists but cannot be read raises: treating it as empty
    would silently reprocess the whole corpus into duplicate outputs."""
    _adopt_orphan_compaction(out_dir)
    if _manifest_part_count(out_dir) == 0:
        return None
    return spark.read.parquet(_manifest_path(out_dir))


def _manifest_part_count(out_dir: str) -> int:
    p = _manifest_path(out_dir)
    try:
        return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    except FileNotFoundError:
        return 0


# rewrite once fragmentation passes this; target ~128 MB compacted parts
# (matches the scan split size, like snapshots.rewrite_data_files)
MANIFEST_COMPACT_MAX_PARTS = 128
_MANIFEST_TARGET_BYTES = 128 << 20


def compact_manifest(
    spark: SparkSession,
    out_dir: str,
    max_parts: int = MANIFEST_COMPACT_MAX_PARTS,
) -> dict:
    """O19 manifest compaction: collapse the append-only manifest into a
    few doc_sha-sorted parquet files once it fragments past ``max_parts``.

    Every batch appends part files forever; at the 10^12-file design point
    the resume anti-join would otherwise scan millions of tiny parts (the
    read in :func:`pending_corpus` IS the restart hot path). Iceberg calls
    this rewrite_data_files; on plain parquet we get the same effect with
    a crash-safe write-then-swap:

      1. read + deduplicate on the anti-join key (crash-reruns may have
         recorded a doc twice; ``min`` keeps the earliest completion —
         a deterministic survivor, unlike dropDuplicates),
      2. write the compacted copy to ``_manifest.compact-<id>`` and let
         parquet commit it (``_SUCCESS``) before anything is touched,
      3. swap via two directory renames.

    A crash between the renames leaves the committed compact dir behind;
    :func:`read_manifest` adopts it on the next run
    (:func:`_adopt_orphan_compaction`), so no state is ever lost and the
    worst crash window costs idempotent rework, never correctness.
    """
    import shutil

    _adopt_orphan_compaction(out_dir)
    _sweep_stale_compaction_dirs(out_dir)
    n = _manifest_part_count(out_dir)
    if n <= max_parts:
        return {"compacted": False, "parts_before": n}
    p = _manifest_path(out_dir)
    m = (
        spark.read.parquet(p)
        .groupBy(*MANIFEST_COLS)
        .agg(
            F.min("payload_sha").alias("payload_sha"),
            F.min("batch_id").alias("batch_id"),
            F.min("completed_at").alias("completed_at"),
        )
    )
    # size target from on-disk bytes — no extra count() job: the
    # aggregation is the expensive part on the restart hot path and must
    # run exactly once (the write below)
    n_bytes = sum(
        os.path.getsize(os.path.join(p, f)) for f in os.listdir(p) if f.endswith(".parquet")
    )
    parts = max(1, (n_bytes + _MANIFEST_TARGET_BYTES - 1) // _MANIFEST_TARGET_BYTES)
    cid = uuid.uuid4().hex[:8]
    tmp = p + f".compact-{cid}"
    # sorted by the key: row-group min/max stats make future doc_sha
    # probes skippable, and co-keyed readers get locality for free
    m.repartition(parts, "doc_sha").sortWithinPartitions("doc_sha").write.mode(
        "overwrite"
    ).parquet(tmp)
    old = p + f".old-{cid}"
    os.rename(p, old)
    os.rename(tmp, p)
    shutil.rmtree(old, ignore_errors=True)
    return {"compacted": True, "parts_before": n, "parts_after": int(parts), "bytes": n_bytes}


def _with_doc_sha(corpus: DataFrame) -> DataFrame:
    """Manifest key: sha256(content) per the input_hint invariant; rows
    carrying only gzip payloads key on sha256(content_gz) — equally
    deterministic across restarts, computed JVM-side either way.

    ``payload_sha`` (sha256 of the compressed bytes, null for plaintext
    rows) rides along into the manifest so both identities are recorded:
    ``doc_sha`` stays the restart-stable anti-join key, while analysts can
    tell a gz-keyed manifest row (doc_sha == payload_sha) from a
    plaintext-keyed one and join gz rows back to their payloads. (For
    successfully-parsed gz rows the OUTPUT tables key on the decompressed
    plaintext sha — recomputing that here would mean gunzipping in the
    resume anti-join path, defeating its JVM-side pruning; the trade is
    deliberate and the two identities are both recorded.)
    """
    sha = F.sha2(F.col("content"), 256)
    payload = F.lit(None).cast("string")
    if "content_gz" in corpus.columns:
        payload = F.sha2(F.col("content_gz"), 256)
        sha = F.coalesce(sha, payload)
    return corpus.withColumn("doc_sha", sha).withColumn("payload_sha", payload)


def pending_corpus(spark: SparkSession, corpus: DataFrame, out_dir: str) -> DataFrame:
    """Anti-join the corpus against the manifest: only unprocessed rows.

    The sha is computed JVM-side (F.sha2) so the anti-join prunes rows
    BEFORE anything crosses into Python. left_anti on (sha, repo, path,
    commit) — the per-row invariant key from BASELINE.json input_hint.

    The manifest grows with every document ever processed — at the
    10^12-file design point it IS the corpus catalog, far past any sane
    broadcast. ``gated_broadcast`` hints the build side only while it is
    provably small (one bounded limit-count probe on the manifest scan);
    above the threshold the anti-join falls back to a shuffle join, which
    is the correct plan for a catalog-sized build side.
    """
    from fastobo_py_spark.operators.hints import gated_broadcast

    withsha = _with_doc_sha(corpus)
    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        return withsha
    return withsha.join(
        gated_broadcast(manifest.select(*MANIFEST_COLS).dropDuplicates()),
        on=list(MANIFEST_COLS),
        how="left_anti",
    )


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    resume: bool = True,
    n_salts: int = 16,
    canonicalize: bool = True,
    compact_threshold: int | None = MANIFEST_COMPACT_MAX_PARTS,
    snapshot_branch: str | None = None,
    stream_batch_id: int | None = None,
) -> dict:
    """Run the full OBO→KG job; returns the metrics dict.

    Stages: filter+parse → quarantine split → triple extraction →
    treat-xrefs macros → alias/obsolete rewrite → equivalence CC →
    nodes+edges write (idspace-partitioned, salted; one file per leaf) →
    snapshot commit → manifest append.

    ``snapshot_branch``: commit the batch's snapshot to a named branch
    instead of main (write-audit-publish): snapshot readers of HEAD
    never see the batch until :func:`snapshots.fast_forward` publishes
    it. The ingest manifest still records the batch (resume scope is
    the PHYSICAL work done); an audit that ends in ``delete_branch``
    should expect corrected inputs to arrive as new content (new
    doc_sha) — identical re-submissions are resume-skipped by design.

    ``stream_batch_id``: the Structured Streaming micro-batch id when
    ``streaming/kg`` runs this batch under ``foreachBatch``. The commit is
    then ``op="stream-append"`` carrying that id, and a replayed
    micro-batch (crash after its commit, before the checkpoint advanced)
    finds its earlier snapshot and commits nothing: its re-written part
    files stay invisible orphans instead of a second copy of its rows.
    """
    t0 = time.time()
    compiles0 = codegen_compiles(spark)
    jit0, gc0 = jvm_times(spark)
    batch_id = uuid.uuid4().hex[:12]

    # a directory that predates the snapshot log gets its baseline import
    # commit; the listing doubles as this batch's pre-write baseline
    from fastobo_py_spark.plans import snapshots as _snap

    pre_files = _snap.ensure_baseline(out_dir)

    src = pending_corpus(spark, corpus, out_dir) if resume else _with_doc_sha(corpus)
    keep = ["repo", "path", "commit", "lang", "content", "doc_sha", "payload_sha"] + (
        ["content_gz"] if "content_gz" in src.columns else []
    )
    src = src.select(*keep)

    # Metrics ride on the write actions via Observation — counting after
    # the fact re-executed the whole macro/rewrite/CC chain (the job did
    # ~2x the work to report on itself).
    obs = {k: Observation(k) for k in ("parse", "edges", "nodes", "done")}

    # every persist is released in the finally: a failed write must not
    # strand the parse, clause and canonical-chain caches in a long-lived
    # session (a stream enters here once per micro-batch)
    caches: list[DataFrame] = []
    try:
        # parse ONCE: both the clause and quarantine paths read this cache
        # (without it the quarantine write re-ran the mapInPandas parse)
        parsed = parse_corpus(src).persist()
        caches.append(parsed)
        clauses, _ = split_parsed(parsed)
        # clause and quarantine counts ride the quarantine write, the first
        # and a FULL scan of the parse cache (a limit-style first action would
        # record a partial count); observed below the split's error filter,
        # the observation sees every parsed row
        err = F.col("is_error")
        _, quarantine = split_parsed(
            parsed.observe(
                obs["parse"],
                F.count(F.when(~err, 1)).alias("clauses"),
                F.count(F.when(err, 1)).alias("quarantine"),
            )
        )
        quarantine.write.mode("append").parquet(os.path.join(out_dir, "quarantine"))

        # one pass over the corpus feeds every downstream stage; hash-partition
        # by the BIGINT doc_key surrogate so every doc-keyed operation
        # downstream (the canonical chain's joins and final dedup, the node
        # build, the decode dictionary) is satisfied without re-shuffling —
        # and the partitioner hashes 8 bytes instead of the 64-hex doc_sha
        from fastobo_py_spark.operators import surrogate as _surrogate

        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        clauses = _surrogate.with_doc_key(clauses).repartition(n_shuffle, "doc_key").persist()
        caches.append(clauses)

        # surrogate-key audit (ADVICE r5): a 64-bit doc_key collision would
        # silently merge two documents' edge scopes. The audit is one
        # exchange-free aggregate over the just-persisted cache; when it
        # fires, this batch runs on the exact doc_sha spine instead (its
        # joins then re-exchange — the documented cost of a corpus where the
        # surrogate is not injective), and the count is surfaced in the
        # metrics dict either way.
        n_key_collisions = _surrogate.audit_doc_keys(clauses).count()
        spine = "doc_key" if n_key_collisions == 0 else "doc_sha"

        if canonicalize:
            edges = canonical_edges(clauses, persisted_out=caches, key_col=spine)
        else:
            from fastobo_py_spark.operators.canonicalize import extract_edges_with_macros

            macro_dims = clauses.where("frame_type = 'Header' OR tag = 'xref'")
            e = extract_edges_with_macros(clauses, macro_source=macro_dims, key_col=spine)
            edges = _dedup_edges(e, clauses, spine)
        # the graph_writers layout; its writes are issued from this function so
        # a tracer that attributes Spark actions to their calling function
        # (perfbench/trace.py) keeps charging them to this batch's layers
        writers = graph_writers(build_nodes(clauses), edges, n_salts, row_counts=obs)
        for table, writer in writers.items():
            writer.parquet(os.path.join(out_dir, table))
    finally:
        release(caches)

    # snapshot commit: the batch's part files become visible to
    # read_table_at readers HERE, in one atomic rename — before the
    # manifest append, so a crash between the two reruns the batch
    # idempotently instead of losing it from snapshot visibility
    post_files = _snap.list_data_files(out_dir)
    added = {t: sorted(post_files[t] - pre_files.get(t, set())) for t in _snap.TABLES}
    snapshot = None
    if stream_batch_id is None:
        op, snap_batch_id = "append", batch_id
    else:
        # a replayed micro-batch keeps its first commit (see the docstring)
        op, snap_batch_id = "stream-append", str(stream_batch_id)
        snapshot = next(
            (s for s in _snap.list_snapshots(out_dir) if s["op"] == op and s["batch_id"] == snap_batch_id), None
        )
    if snapshot is None:
        snapshot = _snap.commit_snapshot(
            out_dir,
            added=added,
            op=op,
            batch_id=snap_batch_id,
            branch=snapshot_branch,
        )

    # manifest append LAST: a crash before this line leaves the batch
    # unrecorded and it reruns idempotently (outputs keyed by doc_sha are
    # deduplicated by readers; Iceberg would make this a single atomic commit)
    done = (
        src.select("repo", "path", "commit", "doc_sha", "payload_sha")
        .dropDuplicates()
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("completed_at", F.current_timestamp())
    )
    done = done.observe(obs["done"], F.count(F.lit(1)).alias("n"))
    done.write.mode("append").parquet(_manifest_path(out_dir))
    compaction = (
        compact_manifest(spark, out_dir, max_parts=compact_threshold)
        if compact_threshold is not None
        else {"compacted": False}
    )

    jit1, gc1 = jvm_times(spark)
    metrics = {
        "batch_id": batch_id,
        "docs_in_batch": obs["done"].get["n"],
        "clause_rows": obs["parse"].get["clauses"],
        "quarantined_docs": obs["parse"].get["quarantine"],
        "edges": obs["edges"].get["n"],
        "nodes": obs["nodes"].get["n"],
        "doc_key_collisions": n_key_collisions,
        "spine_strategy": spine,
        "manifest_compaction": compaction,
        "snapshot_id": snapshot["snapshot_id"],
        "snapshot_sequence": snapshot["sequence"],
        "elapsed_sec": round(time.time() - t0, 3),
        "files_added": {t: len(files) for t, files in added.items()},
        "codegen_compiles": codegen_compiles(spark) - compiles0,
        # the file:// class in effect: Hadoop's own LocalFileSystem here
        # means every file, .crc file and directory forked a chmod
        "local_fs": local_fs_class(spark),
        "jvm_jit_s": round(jit1 - jit0, 3),
        "jvm_gc_s": round(gc1 - gc0, 3),
    }
    metrics_dir = os.path.join(out_dir, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    with open(os.path.join(metrics_dir, f"{batch_id}.json"), "w") as fh:
        json.dump(metrics, fh)
    return metrics

