"""OBO graph-level queries: OBO-graph JSON/YAML round-trip, the
resumable pipeline run, and transitive/seeded ancestor closures."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastobo_py_spark.queries._registry import (
    GENERATED_ORACLES as _GENERATED_ORACLES,
    QUERIES,
)
from fastobo_py_spark.queries._shared import (
    _CORPUS_KW,
    _clauses,
    _corpus_df,
    _sql_quote,
    _values_sql,
)
from fastobo_py_spark.session import release


def q_obo_graph_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """dump_graph → load_graph round-trip with node meta: one summary row
    proving definition/synonyms/xrefs/deprecated survive the JSON hop
    (reference parity: fastobo.dump_graph/load_graph, src/py/mod.rs:333-422)."""
    from fastobo_py_spark.operators.graphjson import dump_graph, load_graph
    from fastobo_py_spark.operators.materialize import build_nodes
    from fastobo_py_spark.operators.triples import extract_edges

    cl = _clauses(spark)
    nodes = build_nodes(cl)
    edges = (
        extract_edges(cl)
        .where(~F.col("pred").startswith("intersection_of:"))
        .dropDuplicates(["subj", "pred", "obj", "doc_sha"])
    )
    dumped = dump_graph(nodes, edges)
    n2, e2 = load_graph(spark, dumped)
    nagg = n2.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("definition").isNotNull(), 1).otherwise(0)).alias("n_defs"),
        F.sum(F.size("synonyms")).alias("n_synonyms"),
        F.sum(F.size("xrefs")).alias("n_xrefs"),
        F.sum(F.when(F.col("obsolete"), 1).otherwise(0)).alias("n_deprecated"),
    )
    eagg = e2.agg(F.count("*").alias("n_edges"), F.countDistinct("pred").alias("n_preds"))
    # YAML hop too (reference load_graph accepts JSON and YAML,
    # src/py/mod.rs:333-365): same node/edge totals must survive
    from fastobo_py_spark.operators.graphjson import dump_graph_yaml, load_graph_yaml

    n3, e3 = load_graph_yaml(spark, dump_graph_yaml(nodes, edges))
    yagg = n3.agg(F.count("*").alias("n_nodes_yaml")).crossJoin(
        e3.agg(F.count("*").alias("n_edges_yaml"))
    )
    return nagg.crossJoin(eagg).crossJoin(yagg)


def sql_obo_graph_roundtrip() -> str:
    import re as _re

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    clauses, _ = oracle.parse_rows(rows)
    frames: dict = {}
    for c in clauses:
        if c[3] == "Header" or not c[3 + 1]:
            continue
        f = frames.setdefault((c[0], c[3 + 1]), {"def": 0, "syn": 0, "xref": 0, "obs": False})
        tag = c[3 + 4]
        if tag == "def" and c[3 + 7] is not None:
            f["def"] = 1
        elif tag == "synonym":
            f["syn"] += 1
        elif tag == "xref" and c[3 + 5]:
            f["xref"] += 1
        elif tag == "is_obsolete" and c[3 + 5] == "true":
            f["obs"] = True
    n_nodes = len(frames)
    n_defs = sum(f["def"] for f in frames.values())
    n_syn = sum(f["syn"] for f in frames.values())
    n_xref = sum(f["xref"] for f in frames.values())
    n_dep = sum(1 for f in frames.values() if f["obs"])

    purl = _re.compile(r"^http://purl\.obolibrary\.org/obo/([A-Za-z0-9]+)_([A-Za-z0-9]+)$")

    def compact(x: str) -> str:
        m = purl.match(x)
        return f"{m.group(1)}:{m.group(2)}" if m else x

    edges = oracle.build_edges(rows, canonicalize=False, apply_macros=False)
    kept = {
        (compact(s), compact(p) if p != "is_a" else p, compact(o), sha)
        for s, p, o, _, sha in edges
        if not p.startswith("intersection_of:")
    }
    n_edges = len(kept)
    n_preds = len({p for _, p, _, _ in kept})
    return _values_sql(
        [(n_nodes, n_defs, n_syn, n_xref, n_dep, n_edges, n_preds, n_nodes, n_edges)],
        [
            "n_nodes", "n_defs", "n_synonyms", "n_xrefs", "n_deprecated",
            "n_edges", "n_preds", "n_nodes_yaml", "n_edges_yaml",
        ],
    )


def q_obo_pipeline_resume(spark: SparkSession, sf: str) -> DataFrame:
    """O19: checkpointed-lineage resume as an oracle-checked behavior —
    run the full pipeline on half the corpus (deterministic md5(path)
    split), restart over the WHOLE corpus (manifest anti-join must keep
    only the remainder), restart once more (no-op). Edge totals across
    batches must equal a single-shot run — per-partition lineage loses
    and duplicates nothing."""
    import shutil
    import tempfile

    from fastobo_py_spark.plans.pipeline import read_manifest, run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_resume_q_")
    try:
        first = corpus.where(F.substring(F.md5(F.col("path")), 1, 1) < "8")
        m1 = run_pipeline(spark, first, out)
        m2 = run_pipeline(spark, corpus, out)
        m3 = run_pipeline(spark, corpus, out)
        manifest_docs = read_manifest(spark, out).select("doc_sha").distinct().count()
        rows = [
            ("batch1_docs", m1["docs_in_batch"]),
            ("batch2_docs", m2["docs_in_batch"]),
            ("batch3_docs", m3["docs_in_batch"]),
            ("edges_total", m1["edges"] + m2["edges"] + m3["edges"]),
            ("manifest_docs", manifest_docs),
        ]
        return spark.createDataFrame(rows, "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_pipeline_resume() -> str:
    import hashlib as _hl

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    n1 = sum(1 for r in rows if _hl.md5(r["path"].encode()).hexdigest()[0] < "8")
    n2 = len(rows) - n1
    edges_total = len(oracle.build_edges(rows, canonicalize=True))
    manifest_docs = len({_hl.sha256(r["content"].encode()).hexdigest() for r in rows})
    out = [
        ("batch1_docs", n1),
        ("batch2_docs", n2),
        ("batch3_docs", 0),
        ("edges_total", edges_total),
        ("manifest_docs", manifest_docs),
    ]
    return _values_sql(sorted(out), ["metric", "value"])

def q_obo_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot layer as an oracle-checked behavior: two ingest batches
    (same deterministic md5(path) split as the resume query), then node/
    edge counts read AT the first batch's snapshot vs HEAD — and the same
    two reads again after a NON-destructive rewrite_data_files pass,
    which must change neither (old snapshots keep reading through
    compaction; that is the whole point of the snapshot log)."""
    import shutil
    import tempfile

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_travel_q_")
    try:
        first = corpus.where(F.substring(F.md5(F.col("path")), 1, 1) < "8")
        m1 = run_pipeline(spark, first, out, canonicalize=False)
        run_pipeline(spark, corpus, out, canonicalize=False)
        s1 = m1["snapshot_id"]

        def counts(tag):
            return [
                (f"nodes_b1{tag}", S.read_table_at(spark, out, "nodes", snapshot_id=s1).count()),
                (f"nodes_head{tag}", S.read_table_at(spark, out, "nodes").count()),
                (f"edges_b1{tag}", S.read_table_at(spark, out, "edges", snapshot_id=s1).count()),
                (f"edges_head{tag}", S.read_table_at(spark, out, "edges").count()),
            ]

        rows = counts("")
        S.rewrite_data_files(spark, out, max_parts=0, target_bytes=1 << 30)
        rows += counts("_postrw")
        return spark.createDataFrame(rows, "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_time_travel() -> str:
    import hashlib as _hl

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    first = [r for r in rows if _hl.md5(r["path"].encode()).hexdigest()[0] < "8"]

    def node_count(rs):
        clauses, _ = oracle.parse_rows(rs)
        ix = oracle._IX
        return len(
            {(c[0], c[3 + ix["frame_id"]]) for c in clauses if c[3] != "Header" and c[3 + ix["frame_id"]]}
        )

    nb1 = node_count(first)
    nh = node_count(rows)
    eb1 = len(oracle.build_edges(first, canonicalize=False, apply_macros=True))
    eh = len(oracle.build_edges(rows, canonicalize=False, apply_macros=True))
    out = [
        ("nodes_b1", nb1), ("nodes_head", nh), ("edges_b1", eb1), ("edges_head", eh),
        ("nodes_b1_postrw", nb1), ("nodes_head_postrw", nh),
        ("edges_b1_postrw", eb1), ("edges_head_postrw", eh),
    ]
    return _values_sql(sorted(out), ["metric", "value"])


def q_obo_snapshot_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (CDC-style) snapshot read, oracle-checked: after two
    ingest batches, ``read_incremental(from=batch-1 snapshot)`` must
    return EXACTLY the rows batch 2 appended — the "everything since my
    last checkpoint" feed a downstream consumer reads without rescanning
    the table — and must return the SAME rows again after a
    non-destructive rewrite_data_files pass (the compaction's replace
    snapshot is skipped by the append scan, like Iceberg's)."""
    import shutil
    import tempfile

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_incr_q_")
    try:
        first = corpus.where(F.substring(F.md5(F.col("path")), 1, 1) < "8")
        m1 = run_pipeline(spark, first, out, canonicalize=False)
        run_pipeline(spark, corpus, out, canonicalize=False)
        s1 = m1["snapshot_id"]

        def counts(tag):
            inc_e = S.read_incremental(spark, out, "edges", s1)
            inc_n = S.read_incremental(spark, out, "nodes", s1)
            return [
                (f"inc_docs{tag}", inc_e.select("doc_sha").distinct().count()),
                (f"inc_edges{tag}", inc_e.select("subj", "pred", "obj", "doc_sha").distinct().count()),
                (f"inc_nodes{tag}", inc_n.count()),
            ]

        rows = counts("")
        S.rewrite_data_files(spark, out, max_parts=0, target_bytes=1 << 30)
        rows += counts("_postrw")
        return spark.createDataFrame(rows, "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_snapshot_incremental() -> str:
    import hashlib as _hl

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    second = [r for r in rows if _hl.md5(r["path"].encode()).hexdigest()[0] >= "8"]

    clauses, _ = oracle.parse_rows(second)
    ix = oracle._IX
    n_nodes = len(
        {(c[0], c[3 + ix["frame_id"]]) for c in clauses if c[3] != "Header" and c[3 + ix["frame_id"]]}
    )
    edges = oracle.build_edges(second, canonicalize=False, apply_macros=True)
    dist = {(s, p, o, sha) for s, p, o, _, sha in edges}
    n_edges = len(dist)
    n_docs = len({e[3] for e in dist})
    out = [
        ("inc_docs", n_docs), ("inc_edges", n_edges), ("inc_nodes", n_nodes),
        ("inc_docs_postrw", n_docs), ("inc_edges_postrw", n_edges), ("inc_nodes_postrw", n_nodes),
    ]
    return _values_sql(sorted(out), ["metric", "value"])


def q_obo_snapshot_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write DELETE on the snapshotted KG (takedown /
    right-to-be-forgotten): ingest the corpus, ``delete_where`` every row
    of docs whose doc_sha starts below '8' (a deterministic ~half of the
    corpus, expressible identically in the oracle as sha256(content)),
    then check three states — HEAD after the delete (kept docs only),
    time travel to the pre-delete snapshot (everything still readable),
    and after ``expire_snapshots`` (physical purge; HEAD counts
    unchanged, which also proves the expire rebase handles a delete
    snapshot's removed-file sets)."""
    import shutil
    import tempfile

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_del_q_")
    try:
        m1 = run_pipeline(spark, corpus, out, canonicalize=False)
        S.delete_where(spark, out, "substring(doc_sha, 1, 1) < '8'")

        def counts(tag, sid=None):
            e = S.read_table_at(spark, out, "edges", snapshot_id=sid)
            n = S.read_table_at(spark, out, "nodes", snapshot_id=sid)
            return [
                (f"docs{tag}", e.select("doc_sha").distinct().count()),
                (f"edges{tag}", e.select("subj", "pred", "obj", "doc_sha").distinct().count()),
                (f"nodes{tag}", n.count()),
            ]

        rows = counts("_head")
        rows += counts("_tt", m1["snapshot_id"])
        S.expire_snapshots(out, keep_last=1)
        rows += counts("_purged")
        return spark.createDataFrame(sorted(rows), "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_snapshot_delete() -> str:
    import hashlib as _hl

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    kept = [r for r in rows if _hl.sha256(r["content"].encode()).hexdigest()[0] >= "8"]
    ix = oracle._IX

    def stats(rs):
        clauses, _ = oracle.parse_rows(rs)
        n_nodes = len(
            {(c[0], c[3 + ix["frame_id"]]) for c in clauses if c[3] != "Header" and c[3 + ix["frame_id"]]}
        )
        edges = oracle.build_edges(rs, canonicalize=False, apply_macros=True)
        dist = {(s, p, o, sha) for s, p, o, _, sha in edges}
        return len({e[3] for e in dist}), len(dist), n_nodes

    fd, fe, fn = stats(rows)
    kd, ke, kn = stats(kept)
    out = [
        ("docs_head", kd), ("edges_head", ke), ("nodes_head", kn),
        ("docs_tt", fd), ("edges_tt", fe), ("nodes_tt", fn),
        ("docs_purged", kd), ("edges_purged", ke), ("nodes_purged", kn),
    ]
    return _values_sql(sorted(out), ["metric", "value"])


def q_obo_snapshot_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write MERGE (upsert by key) on the snapshotted KG — the
    curation-corrections / ontology-version-upsert operation: ingest the
    corpus, then ``merge_into(edges, on=doc_sha)`` with a source holding
    (a) the is_a-only edge set of every doc whose doc_sha starts below
    '4' (UPDATE: those docs' edges are REPLACED by the corrected set —
    xref/relationship edges drop) and (b) three synthetic new-doc edges
    (INSERT). Docs below '4' with no is_a edges have no source key, so
    MERGE leaves them untouched — SQL ON semantics, mirrored in the
    oracle. Three states checked: HEAD after merge, time travel to the
    pre-merge snapshot, and after expire_snapshots (the rebase must
    handle the overwrite snapshot's removed sets)."""
    import hashlib
    import shutil
    import tempfile

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_mrg_q_")
    try:
        m1 = run_pipeline(spark, corpus, out, canonicalize=False)
        e0 = S.read_table_at(spark, out, "edges")
        upd = e0.where("substring(doc_sha, 1, 1) < '4' AND pred = 'is_a'")
        ins = spark.createDataFrame(
            [
                (
                    f"MRG:000000{i}",
                    "is_a",
                    "MRG:0000000",
                    "is_a",
                    hashlib.sha256(f"merge-insert-{i}".encode()).hexdigest(),
                    "MRG",
                    0,
                )
                for i in (1, 2, 3)
            ],
            "subj string, pred string, obj string, src_tag string, "
            "doc_sha string, idspace string, salt int",
        )
        S.merge_into(spark, out, "edges", upd.unionByName(ins), on="doc_sha")

        def counts(tag, sid=None):
            e = S.read_table_at(spark, out, "edges", snapshot_id=sid)
            n = S.read_table_at(spark, out, "nodes", snapshot_id=sid)
            dist = e.select("subj", "pred", "obj", "doc_sha").distinct()
            return [
                (f"docs{tag}", dist.select("doc_sha").distinct().count()),
                (f"edges{tag}", dist.count()),
                (f"isa{tag}", dist.where("pred = 'is_a'").count()),
                (f"nodes{tag}", n.count()),
            ]

        rows = counts("_head")
        rows += counts("_tt", m1["snapshot_id"])
        S.expire_snapshots(out, keep_last=1)
        rows += counts("_purged")
        return spark.createDataFrame(sorted(rows), "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_snapshot_merge() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    clauses, _ = oracle.parse_rows(rows)
    ix = oracle._IX
    n_nodes = len(
        {(c[0], c[3 + ix["frame_id"]]) for c in clauses if c[3] != "Header" and c[3 + ix["frame_id"]]}
    )
    edges = oracle.build_edges(rows, canonicalize=False, apply_macros=True)
    dist = {(s, p, o, sha) for s, p, o, _, sha in edges}
    # UPDATE scope: docs below '4' owning at least one is_a edge (only
    # those appear among the source keys — MERGE ON semantics)
    matched = {sha for (_s, p, _o, sha) in dist if sha[0] < "4" and p == "is_a"}
    head = {(s, p, o, sha) for (s, p, o, sha) in dist if sha not in matched or p == "is_a"}
    # INSERT scope: three synthetic new-doc is_a edges
    import hashlib as _hl

    for i in (1, 2, 3):
        head.add(
            (
                f"MRG:000000{i}",
                "is_a",
                "MRG:0000000",
                _hl.sha256(f"merge-insert-{i}".encode()).hexdigest(),
            )
        )

    def stats(es):
        return (
            len({e[3] for e in es}),
            len(es),
            len([e for e in es if e[1] == "is_a"]),
            n_nodes,
        )

    hd, he, hi, hn = stats(head)
    td, te, ti, tn = stats(dist)
    out = [
        ("docs_head", hd), ("edges_head", he), ("isa_head", hi), ("nodes_head", hn),
        ("docs_tt", td), ("edges_tt", te), ("isa_tt", ti), ("nodes_tt", tn),
        ("docs_purged", hd), ("edges_purged", he), ("isa_purged", hi), ("nodes_purged", hn),
    ]
    return _values_sql(sorted(out), ["metric", "value"])


def q_obo_snapshot_mor(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read DELETE on the snapshotted KG (Iceberg v2 equality
    deletes): same takedown as obo_snapshot_delete but via
    ``equality_delete`` — the write commits only key files, reads mask
    on the fly, then ``materialize_deletes`` + ``expire_snapshots``
    complete the physical purge. Identical visible states to the CoW
    path (the two row-level delete strategies must agree), so the oracle
    IS the CoW delete oracle."""
    import shutil
    import tempfile

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_mor_q_")
    try:
        m1 = run_pipeline(spark, corpus, out, canonicalize=False)
        S.equality_delete(spark, out, "substring(doc_sha, 1, 1) < '8'", keys=("doc_sha",))

        def counts(tag, sid=None):
            e = S.read_table_at(spark, out, "edges", snapshot_id=sid)
            n = S.read_table_at(spark, out, "nodes", snapshot_id=sid)
            return [
                (f"docs{tag}", e.select("doc_sha").distinct().count()),
                (f"edges{tag}", e.select("subj", "pred", "obj", "doc_sha").distinct().count()),
                (f"nodes{tag}", n.count()),
            ]

        rows = counts("_head")
        rows += counts("_tt", m1["snapshot_id"])
        S.materialize_deletes(spark, out)
        S.expire_snapshots(out, keep_last=1)
        rows += counts("_purged")
        return spark.createDataFrame(sorted(rows), "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_snapshot_mor() -> str:
    # the MoR and CoW delete paths must present IDENTICAL visible states
    return sql_obo_snapshot_delete()


def q_obo_snapshot_wap(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish on the snapshotted KG (Iceberg branch refs):
    batch 1 lands on main; batch 2 (the corpus remainder, via resume)
    commits to the 'audit' branch — HEAD readers must still see ONLY
    batch 1 while the branch sees everything (the audit read); then
    ``fast_forward`` publishes and HEAD sees the full corpus. The oracle
    recomputes both states from the same deterministic md5(path) split
    used by obo_snapshot_incremental."""
    import shutil
    import tempfile

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    corpus = _corpus_df(spark)
    out = tempfile.mkdtemp(prefix="kg_wap_q_")
    try:
        first = corpus.where(F.substring(F.md5(F.col("path")), 1, 1) < "8")
        run_pipeline(spark, first, out, canonicalize=False)
        run_pipeline(spark, corpus, out, canonicalize=False, snapshot_branch="audit")

        def counts(tag, **kw):
            e = S.read_table_at(spark, out, "edges", **kw)
            n = S.read_table_at(spark, out, "nodes", **kw)
            return [
                (f"docs{tag}", e.select("doc_sha").distinct().count()),
                (f"edges{tag}", e.select("subj", "pred", "obj", "doc_sha").distinct().count()),
                (f"nodes{tag}", n.count()),
            ]

        rows = counts("_main")
        rows += counts("_audit", branch="audit")
        S.fast_forward(out, "audit")
        rows += counts("_published")
        return spark.createDataFrame(sorted(rows), "metric string, value bigint").orderBy("metric")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def sql_obo_snapshot_wap() -> str:
    import hashlib as _hl

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    first = [r for r in rows if _hl.md5(r["path"].encode()).hexdigest()[0] < "8"]
    ix = oracle._IX

    def stats(rs):
        clauses, _ = oracle.parse_rows(rs)
        n_nodes = len(
            {(c[0], c[3 + ix["frame_id"]]) for c in clauses if c[3] != "Header" and c[3 + ix["frame_id"]]}
        )
        edges = oracle.build_edges(rs, canonicalize=False, apply_macros=True)
        dist = {(s, p, o, sha) for s, p, o, _, sha in edges}
        return len({e[3] for e in dist}), len(dist), n_nodes

    md, me, mn = stats(first)
    fd, fe, fn = stats(rows)
    out = [
        ("docs_main", md), ("edges_main", me), ("nodes_main", mn),
        ("docs_audit", fd), ("edges_audit", fe), ("nodes_audit", fn),
        ("docs_published", fd), ("edges_published", fe), ("nodes_published", fn),
    ]
    return _values_sql(sorted(out), ["metric", "value"])


def q_obo_ancestors(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive is_a ancestor closure over the canonical KG — the
    classic downstream ontology query (reference users walk the AST in
    Python per doc; here it is a path-doubling DataFrame fixpoint). The
    DuckDB oracle recomputes the closure INDEPENDENTLY with a recursive
    CTE over the pure-Python oracle's edge list — a cross-engine check
    of the closure algorithm itself."""
    from fastobo_py_spark.operators.graph import transitive_ancestors
    from fastobo_py_spark.operators.idents import edge_idspace
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cl = _clauses(spark)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    caches: list = []
    try:
        e = canonical_edges(with_doc_key(cl).repartition(n, "doc_key"), persisted_out=caches)
        anc = transitive_ancestors(e)
        caches.append(anc)
        out = (
            anc.select(edge_idspace("id").alias("idspace"), "id")
            .groupBy("idspace")
            .agg(F.count("*").alias("n_pairs"), F.countDistinct("id").alias("n_ids"))
            .orderBy("idspace")
        )
        rows = out.collect()
    finally:
        release(caches)
    return spark.createDataFrame(rows, out.schema)


def sql_obo_ancestors() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    edges = oracle.build_edges(generate_corpus(**_CORPUS_KW), canonicalize=True)
    base = sorted({(sha, s, o) for s, p, o, _, sha in edges if p == "is_a" and s != o})
    rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(s)}, {_sql_quote(o)})" for d, s, o in base
    )
    return f"""
WITH RECURSIVE base(doc_sha, id, anc) AS (VALUES
{rows}
),
closure(doc_sha, id, anc) AS (
  SELECT * FROM base
  UNION
  SELECT c.doc_sha, c.id, b.anc
  FROM closure c JOIN base b ON b.doc_sha = c.doc_sha AND b.id = c.anc
  WHERE c.id <> b.anc
)
SELECT CASE WHEN regexp_matches(id, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN 'URL'
            WHEN contains(id, ':') THEN split_part(id, ':', 1)
            ELSE 'UNPREFIXED' END AS idspace,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id) AS BIGINT) AS n_ids
FROM closure
GROUP BY 1
ORDER BY 1
"""


QUERIES.update({"obo_ancestors": q_obo_ancestors})
_GENERATED_ORACLES.update({"obo_ancestors": sql_obo_ancestors})


def q_obo_ancestors_seeded(spark: SparkSession, sf: str) -> DataFrame:
    """Seed-set ancestor query with min-depth: "ancestors of THESE terms"
    (the common interactive walk — reference users do exactly this over the
    AST, docs/examples/graph.ipynb). Seeds = is_a subjects whose id ends in
    '0' (a deterministic predicate both engines can evaluate). The DuckDB
    oracle recomputes the seeded walk independently with a depth-carrying
    recursive CTE and min(depth) — a cross-engine check of BFS min-depth
    semantics, not just reachability."""
    from fastobo_py_spark.operators.graph import ancestors_of
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cl = _clauses(spark)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    caches: list = []
    try:
        e = canonical_edges(with_doc_key(cl).repartition(n, "doc_key"), persisted_out=caches)
        seeds = (
            e.where(F.col("pred") == "is_a")
            .select(F.col("subj").alias("id"))
            .where(F.col("id").endswith("0"))
            .dropDuplicates()
        )
        anc = ancestors_of(e, seeds, persisted_out=caches).orderBy("doc_sha", "id", "ancestor")
        rows = anc.collect()
    finally:
        release(caches)
    return spark.createDataFrame(rows, anc.schema)


def sql_obo_ancestors_seeded() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    edges = oracle.build_edges(generate_corpus(**_CORPUS_KW), canonicalize=True)
    base = sorted({(sha, s, o) for s, p, o, _, sha in edges if p == "is_a" and s != o})
    rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(s)}, {_sql_quote(o)})" for d, s, o in base
    )
    return f"""
WITH RECURSIVE base(doc_sha, child, parent) AS (VALUES
{rows}
),
walk(doc_sha, id, anc, depth) AS (
  SELECT doc_sha, child, parent, 1 FROM base WHERE child LIKE '%0'
  UNION
  SELECT w.doc_sha, w.id, b.parent, w.depth + 1
  FROM walk w JOIN base b ON b.doc_sha = w.doc_sha AND b.child = w.anc
  WHERE w.id <> b.parent AND w.depth < 25
)
SELECT doc_sha, id, anc AS ancestor, CAST(min(depth) AS BIGINT) AS min_depth
FROM walk
GROUP BY doc_sha, id, anc
ORDER BY doc_sha, id, ancestor
"""


QUERIES.update({"obo_ancestors_seeded": q_obo_ancestors_seeded})
_GENERATED_ORACLES.update({"obo_ancestors_seeded": sql_obo_ancestors_seeded})


QUERIES.update(
    {
        "obo_graph_roundtrip": q_obo_graph_roundtrip,
        "obo_pipeline_resume": q_obo_pipeline_resume,
        "obo_time_travel": q_obo_time_travel,
        "obo_snapshot_incremental": q_obo_snapshot_incremental,
        "obo_snapshot_delete": q_obo_snapshot_delete,
        "obo_snapshot_merge": q_obo_snapshot_merge,
        "obo_snapshot_wap": q_obo_snapshot_wap,
        "obo_snapshot_mor": q_obo_snapshot_mor,
    }
)
_GENERATED_ORACLES.update(
    {
        "obo_graph_roundtrip": sql_obo_graph_roundtrip,
        "obo_pipeline_resume": sql_obo_pipeline_resume,
        "obo_time_travel": sql_obo_time_travel,
        "obo_snapshot_incremental": sql_obo_snapshot_incremental,
        "obo_snapshot_delete": sql_obo_snapshot_delete,
        "obo_snapshot_merge": sql_obo_snapshot_merge,
        "obo_snapshot_wap": sql_obo_snapshot_wap,
        "obo_snapshot_mor": sql_obo_snapshot_mor,
    }
)


def q_obo_descendants_seeded(spark: SparkSession, sf: str) -> DataFrame:
    """Subtree extraction with min-depth: "everything under THESE terms"
    — the downward twin of obo_ancestors_seeded (same BFS over the
    reversed relation). Seeds = is_a parents whose id ends in '0'; the
    DuckDB oracle walks downward independently with a depth-carrying
    recursive CTE + min(depth)."""
    from fastobo_py_spark.operators.graph import descendants_of
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cl = _clauses(spark)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    caches: list = []
    try:
        e = canonical_edges(with_doc_key(cl).repartition(n, "doc_key"), persisted_out=caches)
        seeds = (
            e.where(F.col("pred") == "is_a")
            .select(F.col("obj").alias("id"))
            .where(F.col("id").endswith("0"))
            .dropDuplicates()
        )
        desc = descendants_of(e, seeds, persisted_out=caches).orderBy("doc_sha", "id", "descendant")
        rows = desc.collect()
    finally:
        release(caches)
    return spark.createDataFrame(rows, desc.schema)


def sql_obo_descendants_seeded() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    edges = oracle.build_edges(generate_corpus(**_CORPUS_KW), canonicalize=True)
    base = sorted({(sha, s, o) for s, p, o, _, sha in edges if p == "is_a" and s != o})
    rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(s)}, {_sql_quote(o)})" for d, s, o in base
    )
    return f"""
WITH RECURSIVE base(doc_sha, child, parent) AS (VALUES
{rows}
),
walk(doc_sha, id, descendant, depth) AS (
  SELECT doc_sha, parent, child, 1 FROM base WHERE parent LIKE '%0'
  UNION
  SELECT w.doc_sha, w.id, b.child, w.depth + 1
  FROM walk w JOIN base b ON b.doc_sha = w.doc_sha AND b.parent = w.descendant
  WHERE w.id <> b.child AND w.depth < 25
)
SELECT doc_sha, id, descendant, CAST(min(depth) AS BIGINT) AS min_depth
FROM walk
GROUP BY doc_sha, id, descendant
ORDER BY doc_sha, id, descendant
"""


QUERIES.update({"obo_descendants_seeded": q_obo_descendants_seeded})
_GENERATED_ORACLES.update({"obo_descendants_seeded": sql_obo_descendants_seeded})
