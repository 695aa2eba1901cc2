"""The KG chain built from SQL text: each stage (macro-fused extraction,
rewrite + dedup, node aggregate, combined-kernel input) is one
``spark.sql`` statement over the caches it reads. Pinned here: the stages
keep those caches, their rows equal the pure-Python oracle's on both
spines and in a streaming micro-batch, and a warm batch stays inside a
fixed py4j round-trip budget (every Column-API call is one round trip
plus a JVM re-analysis of the growing plan)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from py4j.clientserver import ClientServerConnection

from fastobo_py_spark import oracle

# a warm run_pipeline batch made 7,250-7,530 round trips while the chain
# was built through the Column API, and ~1,100-1,250 since
WARM_BATCH_PY4J_BUDGET = 1800


@pytest.fixture
def py4j_calls(monkeypatch):
    """Running count of py4j round trips from this process."""
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return n


def test_jvm_counters_cost_few_py4j_calls(spark, py4j_calls):
    """The batch reads its JVM counters twice; once resolved, the JIT and
    GC readings cost one round trip per MXBean, and the codegen and
    file-system readings at most one."""
    from fastobo_py_spark.session import codegen_compiles, jvm_times, local_fs_class

    jvm_times(spark), codegen_compiles(spark), local_fs_class(spark)  # resolve once
    for read, budget in ((jvm_times, 5), (codegen_compiles, 1), (local_fs_class, 0)):
        before = py4j_calls[0]
        read(spark)
        assert py4j_calls[0] - before <= budget, read.__name__


def test_warm_batch_py4j_budget(spark, corpus, py4j_calls):
    from fastobo_py_spark.plans.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="kg_py4j_")
    try:
        run_pipeline(spark, corpus, os.path.join(out, "warm"), resume=False)
        before = py4j_calls[0]
        m = run_pipeline(spark, corpus, os.path.join(out, "counted"), resume=False)
        calls = py4j_calls[0] - before
    finally:
        shutil.rmtree(out, ignore_errors=True)
    assert m["edges"] > 0
    assert calls <= WARM_BATCH_PY4J_BUDGET, f"{calls} py4j round trips in a warm batch"


def test_sql_over_keeps_caches_and_drops_its_views(spark):
    """PySpark's own ``spark.sql(text, df=df)`` drops its temp view through
    ``Catalog.dropTempView``, which uncaches a persisted ``df``; the stage
    helper leaves the cache in place and no view behind."""
    from fastobo_py_spark.session import sql_over

    df = spark.range(50).selectExpr("id", "id % 7 AS k").persist()
    try:
        df.count()
        cache = spark._jsparkSession.sharedState().cacheManager()
        out = sql_over(spark, "SELECT k, count(*) AS n FROM {t} GROUP BY k", t=df)
        assert cache.lookupCachedData(df._jdf).isDefined()
        assert "InMemoryTableScan" in out._jdf.queryExecution().executedPlan().toString()
        assert sum(r["n"] for r in out.collect()) == 50
        assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("_sparkobo_")]
    finally:
        df.unpersist()


def _idspace(x: str) -> str:
    """Python statement of ``idents.edge_idspace``."""
    if oracle._URL_RE.match(x):
        return "URL"
    return x.split(":", 1)[0] if ":" in x else "UNPREFIXED"


def _oracle_canonical_rows(corpus_rows) -> list[tuple]:
    """Full canonical edge rows (subj, pred, obj, src_tag, doc_sha,
    idspace) from the raw oracle edges rewritten through
    ``oracle.build_canonical_maps``, deduplicated per document with the
    chain's src_tag survivor priority."""
    from fastobo_py_spark.plans.pipeline import _SRC_TAG_ORDER

    maps = oracle.build_canonical_maps(corpus_rows)
    best: dict = {}
    for s, p, o, st, sha in oracle.build_edges(corpus_rows, canonicalize=False):
        m = maps.get(sha, {})
        k = (m.get(s, s), p, m.get(o, o), sha)
        if k not in best or _SRC_TAG_ORDER.index(st) < _SRC_TAG_ORDER.index(best[k]):
            best[k] = st
    return [(s, p, o, st, sha, _idspace(s)) for (s, p, o, sha), st in best.items()]


def _assert_same_rows(got, want_rows):
    want = got.sparkSession.createDataFrame(want_rows, got.schema)
    assert got.count() == len(want_rows) > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("key_col", ["doc_key", "doc_sha"])
def test_canonical_edges_rows_equal_oracle_maps_path(spark, clauses, corpus_rows, key_col):
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges
    from fastobo_py_spark.session import release

    cache = (with_doc_key(clauses) if key_col == "doc_key" else clauses).repartition(4, key_col).persist()
    caches = [cache]
    try:
        edges = canonical_edges(cache, persisted_out=caches, key_col=key_col)
        _assert_same_rows(edges.select("subj", "pred", "obj", "src_tag", "doc_sha", "idspace"),
                          _oracle_canonical_rows(corpus_rows))
    finally:
        release(caches)


def test_stream_micro_batch_writes_oracle_edge_rows(spark):
    """``streaming/kg._process_batch`` runs the same stage builders: a
    micro-batch writes exactly the oracle's canonical edge rows."""
    from fastobo_py_spark.schema import CORPUS_SCHEMA
    from fastobo_py_spark.sources.corpus import generate_corpus
    from fastobo_py_spark.streaming import kg

    rows = generate_corpus(n_obo=6, n_noise=2, n_broken=0)
    cols = [c.name for c in CORPUS_SCHEMA if c.name in rows[0]]
    batch_df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows], ", ".join(f"{c} string" for c in cols)
    )
    out = tempfile.mkdtemp(prefix="stream_kg_rows_")
    try:
        kg._process_batch(out, n_salts=4)(batch_df, 0)
        edges = spark.read.parquet(os.path.join(out, "edges"))
        _assert_same_rows(edges.select("subj", "pred", "obj", "src_tag", "doc_sha", "idspace"),
                          _oracle_canonical_rows(rows))
    finally:
        shutil.rmtree(out, ignore_errors=True)
