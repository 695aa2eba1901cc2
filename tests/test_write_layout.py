"""Per-batch fixed costs of the KG job: the output layout (one parquet
file per partition leaf, not one per write task and leaf), generated-code
reuse across batches, and the batch metrics that record both."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _parts_per_leaf(root: str) -> dict[str, int]:
    """root-relative leaf dir -> parquet part count."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(dirpath, root)] = n
    return out


def _assert_one_file_per_leaf(out: str) -> dict[str, int]:
    leaves = {}
    for table, depth in (("nodes", 1), ("edges", 2)):
        parts = _parts_per_leaf(os.path.join(out, table))
        assert parts, f"{table}: nothing written"
        # nodes leaves are idspace=…; edges leaves are idspace=…/salt=…
        assert all(len(leaf.split(os.sep)) == depth for leaf in parts), parts
        assert set(parts.values()) == {1}, f"{table}: leaves with several files {parts}"
        leaves[table] = len(parts)
    return leaves


def test_run_pipeline_writes_one_file_per_leaf(spark, corpus):
    """On the 4-partition session, one batch leaves exactly one parquet
    file in every nodes idspace leaf and every edges (idspace, salt) leaf,
    and the batch metrics count exactly those files. They also name the
    local filesystem and the batch's JVM compile and GC seconds."""
    from fastobo_py_spark.plans.pipeline import run_pipeline
    from fastobo_py_spark.session import NIO_LOCAL_FS, _nio_local_fs_classes, local_fs_class

    out = tempfile.mkdtemp(prefix="kg_layout_")
    try:
        m = run_pipeline(spark, corpus, out, resume=False)
        leaves = _assert_one_file_per_leaf(out)
        assert m["files_added"] == leaves
        # the same keys land in the batch's metrics file
        with open(os.path.join(out, "_metrics", f"{m['batch_id']}.json")) as fh:
            on_disk = json.load(fh)
        assert on_disk["files_added"] == leaves
        assert on_disk["codegen_compiles"] == m["codegen_compiles"] >= 0
        # the file:// class in effect, and the JVM's JIT and GC time
        assert on_disk["local_fs"] == m["local_fs"] == local_fs_class(spark)
        if _nio_local_fs_classes() is not None:  # javac present: the session uses it
            assert m["local_fs"] == NIO_LOCAL_FS
        for k in ("jvm_jit_s", "jvm_gc_s"):
            assert on_disk[k] == m[k] >= 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_batch_without_edges_reports_zero(spark):
    """A batch whose edge exchange is empty still reports its counts:
    the row-count observations sit above the write exchange, which AQE
    replaces by an empty relation (dropping anything observed below it)."""
    from fastobo_py_spark.plans.pipeline import run_pipeline
    from fastobo_py_spark.schema import CORPUS_SCHEMA

    content = "format-version: 1.2\n\n[Term]\nid: T:1\nname: lonely\n"
    df = spark.createDataFrame([("r", "a.obo", "c1", "obo", content)], schema=CORPUS_SCHEMA)
    out = tempfile.mkdtemp(prefix="kg_no_edges_")
    try:
        m = run_pipeline(spark, df, out, resume=False)
        assert (m["edges"], m["nodes"], m["docs_in_batch"]) == (0, 1, 1)
        assert m["files_added"] == {"nodes": 1, "edges": 0}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_batch_writes_one_file_per_leaf(spark, corpus):
    """The streaming micro-batch shares the writer, so it shares the
    one-file-per-leaf layout."""
    from fastobo_py_spark.streaming.kg import _process_batch

    out = tempfile.mkdtemp(prefix="kg_layout_stream_")
    try:
        _process_batch(out, n_salts=16)(corpus, 0)
        _assert_one_file_per_leaf(out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_clustered_write_matches_unclustered(spark, clauses):
    """The hash exchange in front of the writer moves rows between tasks
    and nothing else: read back, the clustered layout holds exactly the
    rows of a plain partitionBy write of the same DataFrames, while the
    plain write fragments leaves across its tasks."""
    from fastobo_py_spark.operators.materialize import build_nodes, graph_writers, with_salt
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cl = with_doc_key(clauses).repartition(4, "doc_key").persist()
    caches = [cl]
    base = tempfile.mkdtemp(prefix="kg_layout_eq_")
    try:
        edges = canonical_edges(cl, persisted_out=caches)
        nodes = build_nodes(cl)
        for table, writer in graph_writers(nodes, edges).items():
            writer.parquet(f"{base}/clustered/{table}")
        nodes.write.partitionBy("idspace").parquet(f"{base}/plain/nodes")
        with_salt(edges, "subj").write.partitionBy("idspace", "salt").parquet(f"{base}/plain/edges")
        _assert_one_file_per_leaf(f"{base}/clustered")
        for table in ("nodes", "edges"):
            a = spark.read.parquet(f"{base}/clustered/{table}")
            b = spark.read.parquet(f"{base}/plain/{table}").select(*a.columns)
            assert a.count() > 0
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        plain = _parts_per_leaf(f"{base}/plain/edges")
        assert plain.keys() == _parts_per_leaf(f"{base}/clustered/edges").keys()
        assert sum(plain.values()) > len(plain)
    finally:
        for c in caches:
            c.unpersist()
        shutil.rmtree(base, ignore_errors=True)


def test_codegen_counter_sees_new_code(spark):
    """Sanity check for the compile counter the reuse tests rely on: an
    inlined literal nothing has compiled before forces a compile."""
    import uuid

    from fastobo_py_spark.session import codegen_compiles

    before = codegen_compiles(spark)
    k = uuid.uuid4().int % (1 << 30)
    spark.range(8).select((F.col("id") * F.lit(k) + F.lit(k + 1)).alias("x")).collect()
    assert codegen_compiles(spark) - before >= 1


def test_repeated_batch_reuses_generated_code(spark, corpus):
    """The codegen class cache holds a whole batch's working set: a second
    identical batch compiles at most a handful of classes (the manifest's
    current_timestamp() literal), not the ~100 of a cycling cache."""
    from fastobo_py_spark.plans.pipeline import run_pipeline
    from fastobo_py_spark.session import codegen_compiles

    outs = [tempfile.mkdtemp(prefix="kg_codegen_") for _ in range(2)]
    try:
        run_pipeline(spark, corpus, outs[0], resume=False)
        before = codegen_compiles(spark)
        m = run_pipeline(spark, corpus, outs[1], resume=False)
        assert codegen_compiles(spark) - before <= 4
        assert m["codegen_compiles"] <= 4
    finally:
        for o in outs:
            shutil.rmtree(o, ignore_errors=True)


def test_repeated_query_mix_reuses_generated_code(spark):
    """Same contract for the headline query mix: its second pass compiles
    at most a handful of classes. One query alone (10-40 classes) fits
    even the default 100-entry cache; the eight together do not."""
    from bench import HEADLINE
    from fastobo_py_spark.queries import QUERIES
    from fastobo_py_spark.session import codegen_compiles

    def one_pass():
        for q in HEADLINE:
            QUERIES[q](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before <= 4
