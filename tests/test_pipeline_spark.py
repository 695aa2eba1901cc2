"""Spark dataflow vs the independent pure-Python oracle, plus pipeline
behaviors (quarantine, resume, CC, nodes). The P/R gate mirrors
BASELINE.json: triple parity >= 0.95 — we assert == 1.0 on the synthetic
corpus."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from fastobo_py_spark import oracle
from fastobo_py_spark.operators.components import connected_components
from fastobo_py_spark.operators.materialize import build_nodes, top_k_per_idspace
from fastobo_py_spark.operators.parse import frame_counts, parse_corpus, split_parsed
from fastobo_py_spark.operators.triples import extract_edges


def test_parse_counts(spark, corpus, clauses, corpus_rows):
    py_clauses, py_quar = oracle.parse_rows(corpus_rows)
    assert clauses.count() == len(py_clauses)
    _, quarantine = split_parsed(parse_corpus(corpus))
    assert quarantine.count() == len(py_quar) == 3


def test_doc_sha_invariant(spark, clauses, corpus_rows):
    import hashlib

    want = {hashlib.sha256(r["content"].encode()).hexdigest() for r in corpus_rows if r["lang"] == "OBO"}
    got = {r["doc_sha"] for r in clauses.select("doc_sha").distinct().collect()}
    assert got <= want  # parsed docs are a subset (broken ones quarantined)
    assert len(want - got) == 3


def test_frame_counts_vs_oracle(spark, clauses, corpus_rows):
    got = {r["doc_sha"]: r["n_frames"] for r in frame_counts(clauses).collect()}
    import hashlib
    from collections import Counter

    py_clauses, _ = oracle.parse_rows(corpus_rows)
    frames = {}
    for c in py_clauses:
        if c[3] != "Header":
            frames.setdefault(c[0], set()).add(c[5])
    assert got == {sha: len(ixs) for sha, ixs in frames.items()}


def test_edges_raw_vs_oracle(spark, clauses, corpus_rows):
    got = {
        (r["subj"], r["pred"], r["obj"], r["doc_sha"])
        for r in extract_edges(clauses).dropDuplicates(["subj", "pred", "obj", "doc_sha"]).collect()
    }
    want = oracle.edge_key_set(oracle.build_edges(corpus_rows, canonicalize=False, apply_macros=False))
    p, r = oracle.precision_recall(got, want)
    assert (p, r) == (1.0, 1.0), f"precision={p} recall={r}"


import pytest


@pytest.mark.parametrize("threshold", [1_000_000, 0])  # driver path / distributed path
def test_connected_components_basic(spark, threshold):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], "src string, dst string"
    )
    comps = {
        r["id"]: r["component"]
        for r in connected_components(pairs, driver_threshold=threshold).collect()
    }
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["p"] == "p"


@pytest.mark.parametrize("threshold", [1_000_000, 0])
def test_connected_components_chain(spark, threshold):
    # a long path graph stresses the iteration count
    n = 33
    pairs = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i+1:02d}") for i in range(n - 1)], "src string, dst string"
    )
    comps = connected_components(pairs, max_iter=40, driver_threshold=threshold).collect()
    assert {r["component"] for r in comps} == {"v00"}
    assert len(comps) == n


def test_nodes(spark, clauses, corpus_rows):
    nodes = build_nodes(clauses)
    row = nodes.where(F.col("id") == "MS0:0000003").collect()[0]
    assert row["obsolete"] is True
    assert row["replaced_by"] == ["MS0:0000001"]
    # every parsed frame becomes exactly one node
    n_frames = frame_counts(clauses).agg(F.sum("n_frames")).collect()[0][0]
    assert nodes.count() == n_frames


def test_top_k_per_idspace(spark, clauses):
    nodes = build_nodes(clauses)
    top = top_k_per_idspace(nodes, k=2)
    counts = top.groupBy("idspace").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_pipeline_resume(spark, corpus):
    from fastobo_py_spark.plans.pipeline import pending_corpus, run_pipeline

    out = tempfile.mkdtemp(prefix="kg_test_")
    try:
        m1 = run_pipeline(spark, corpus, out, canonicalize=False)
        assert m1["docs_in_batch"] == 203
        assert m1["quarantined_docs"] == 3
        assert pending_corpus(spark, corpus, out).count() == 0
        m2 = run_pipeline(spark, corpus, out, canonicalize=False)
        assert m2["docs_in_batch"] == 0
        # partitioned layout on disk
        edges = spark.read.parquet(out + "/edges")
        assert {"idspace", "salt"} <= set(edges.columns)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_pipeline_doc_key_audit_fallback(spark, corpus, monkeypatch):
    """run_pipeline audits the surrogate spine every batch (ADVICE r5):
    a clean corpus records zero collisions and keeps the doc_key spine;
    a (forced) collision report flips the batch to the exact doc_sha
    spine, with BIT-IDENTICAL edge output either way. ``spine_strategy``
    names the spine the batch ran on."""
    from fastobo_py_spark.operators import surrogate
    from fastobo_py_spark.plans.pipeline import run_pipeline

    out1 = tempfile.mkdtemp(prefix="kg_audit_clean_")
    out2 = tempfile.mkdtemp(prefix="kg_audit_coll_")
    try:
        m1 = run_pipeline(spark, corpus, out1)
        assert m1["doc_key_collisions"] == 0
        assert m1["spine_strategy"] == "doc_key"

        def fake_audit(clauses):
            return clauses.sparkSession.createDataFrame(
                [(7, 2, ["sha_a", "sha_b"])],
                "doc_key long, n_docs long, doc_shas array<string>",
            )

        monkeypatch.setattr(surrogate, "audit_doc_keys", fake_audit)
        m2 = run_pipeline(spark, corpus, out2)
        assert m2["doc_key_collisions"] == 1
        assert m2["spine_strategy"] == "doc_sha"
        cols = ["subj", "pred", "obj", "src_tag", "doc_sha"]
        e1 = {tuple(r) for r in spark.read.parquet(out1 + "/edges").select(*cols).collect()}
        e2 = {tuple(r) for r in spark.read.parquet(out2 + "/edges").select(*cols).collect()}
        assert e1 == e2 and len(e1) > 0
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_spark_serializer_roundtrip(spark, clauses, corpus_rows):
    """Distributed serialize → reparse == original clause rows."""
    import hashlib

    from fastobo_py_spark.obo.parser import parse_document
    from fastobo_py_spark.obo.serializer import serialize_documents

    out = {r["doc_sha"]: r["obo_text"] for r in serialize_documents(clauses).collect()}
    py_clauses, _ = oracle.parse_rows(corpus_rows)
    parsed_shas = {c[0] for c in py_clauses}
    by_sha = {
        hashlib.sha256(r["content"].encode()).hexdigest(): r["content"]
        for r in corpus_rows
        if hashlib.sha256(r["content"].encode()).hexdigest() in parsed_shas
    }
    assert set(out) == set(by_sha)
    checked = 0
    for sha, text in out.items():
        want = parse_document(by_sha[sha])
        got = parse_document(text)
        norm = lambda rows: [tuple(tuple(x) if isinstance(x, list) else x for x in r) for r in rows]
        assert norm(got) == norm(want)
        checked += 1
    assert checked == 40


def _obo_corpus(spark, docs: dict):
    """{path: OBO text} → (corpus rows, corpus DataFrame, {path: doc_sha})."""
    import hashlib

    from fastobo_py_spark.schema import CORPUS_SCHEMA

    rows = [
        {"repo": "r", "path": path, "commit": "c1", "lang": "OBO", "content": text}
        for path, text in docs.items()
    ]
    df = spark.createDataFrame(
        [tuple(r[c.name] for c in CORPUS_SCHEMA) for r in rows], schema=CORPUS_SCHEMA
    )
    shas = {path: hashlib.sha256(text.encode()).hexdigest() for path, text in docs.items()}
    return rows, df, shas


def test_equivalence_scope_is_per_document(spark):
    """Two documents reusing the same local ids must not leak equivalences
    into each other (reference: each OboDoc resolves independently)."""
    from fastobo_py_spark.plans.pipeline import canonical_edges

    # doc A declares X:1 == W:0; doc B merely *uses* X:1
    rows, corpus, shas = _obo_corpus(spark, {
        "a.obo": "format-version: 1.2\n\n[Term]\nid: X:1\nequivalent_to: W:0\nis_a: Z:5\n",
        "b.obo": "format-version: 1.2\n\n[Term]\nid: X:1\nis_a: Z:5\n",
    })
    clauses, _ = split_parsed(parse_corpus(corpus))
    got = {
        (r["doc_sha"], r["subj"], r["pred"], r["obj"])
        for r in canonical_edges(clauses).collect()
    }
    sha_a, sha_b = shas["a.obo"], shas["b.obo"]
    # doc A's X:1 rewrites to its component min W:0 ...
    assert {(s, p, o) for d, s, p, o in got if d == sha_a} == {
        ("W:0", "equivalent_to", "W:0"), ("W:0", "is_a", "Z:5"),
    }
    # ... while doc B's rows are untouched even though A merged the id
    assert {(s, p, o) for d, s, p, o in got if d == sha_b} == {("X:1", "is_a", "Z:5")}
    want = {(sha, s, p, o) for s, p, o, sha in oracle.edge_key_set(oracle.build_edges(rows))}
    assert got == want


def test_canonical_edges_shuffle_hash_vs_oracle(spark, clauses, corpus_rows):
    """The fully-distributed chain (one partition-wide resolution/CC
    kernel, shuffle-hash dimension joins, no broadcasts, no driver
    collects) must produce the exact oracle edge set — here on a cache
    partitioned by doc_sha, which the chain heals onto the doc_key spine."""
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cl = clauses.repartition(4, "doc_sha")
    e = canonical_edges(cl)
    got = {(r["subj"], r["pred"], r["obj"], r["doc_sha"]) for r in e.collect()}
    want = oracle.edge_key_set(oracle.build_edges(corpus_rows, canonicalize=True))
    p, r = oracle.precision_recall(got, want)
    assert (p, r) == (1.0, 1.0), f"precision={p} recall={r}"


def test_gzip_content_adapter(spark):
    """content_gz (binary, gzip) rows parse identically to their plain
    twins — the reference's gzip adapter, table-native; corrupt payloads
    quarantine instead of failing the stage."""
    import gzip

    from fastobo_py_spark.operators.parse import parse_corpus, split_parsed
    from fastobo_py_spark.sources.corpus import make_ms_like

    text = make_ms_like(0)
    rows = [
        ("r", "plain.obo", "c", "OBO", text, None),
        ("r", "packed.obo.gz", "c", "OBO", None, bytearray(gzip.compress(text.encode()))),
        ("r", "broken.obo.gz", "c", "OBO", None, bytearray(b"\x1f\x8b not really gzip")),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, content_gz binary"
    )
    clauses, quarantine = split_parsed(parse_corpus(df))
    per_path = {r["path"]: r["n"] for r in clauses.groupBy("path").agg(F.count("*").alias("n")).collect()}
    assert per_path["plain.obo"] == per_path["packed.obo.gz"] > 0
    # same decompressed content -> same doc_sha (the per-row invariant)
    shas = {r["doc_sha"] for r in clauses.select("doc_sha").distinct().collect()}
    assert len(shas) == 1
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["path"] == "broken.obo.gz"


def test_pipeline_resume_with_gzip_rows(spark):
    """Resume manifest keys gzip-only rows on sha256(content_gz): a
    mixed plain+gz corpus processes once, and a rerun is a no-op."""
    import gzip

    from fastobo_py_spark.plans.pipeline import run_pipeline
    from fastobo_py_spark.sources.corpus import make_pato_like

    rows = [
        ("r", "a.obo", "c", "OBO", make_pato_like(1), None),
        ("r", "b.obo.gz", "c", "OBO", None, bytearray(gzip.compress(make_pato_like(2).encode()))),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, content_gz binary"
    )
    out = tempfile.mkdtemp(prefix="kg_gz_")
    try:
        m1 = run_pipeline(spark, df, out)
        assert m1["docs_in_batch"] == 2 and m1["edges"] > 0
        m2 = run_pipeline(spark, df, out)
        assert m2["docs_in_batch"] == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_canonical_edges_doc_key_and_doc_sha_spines_agree(spark, clauses, corpus_rows):
    """The BIGINT doc_key surrogate spine (production) and the exact
    doc_sha spine (the audit-collision fallback) give identical edge
    rows — src_tag and idspace included — and both match the oracle."""
    from fastobo_py_spark.operators.surrogate import with_doc_key
    from fastobo_py_spark.plans.pipeline import canonical_edges

    def run(cache, key):
        cache = cache.persist()
        caches: list = []
        rows = {tuple(r) for r in canonical_edges(cache, persisted_out=caches, key_col=key).collect()}
        for c in caches + [cache]:
            c.unpersist()
        return rows

    by_key = run(with_doc_key(clauses).repartition(4, "doc_key"), "doc_key")
    by_sha = run(clauses.repartition(4, "doc_sha"), "doc_sha")
    assert by_key == by_sha and by_key, "doc_sha spine and doc_key spine diverged"
    got = {(r[0], r[1], r[2], r[4]) for r in by_key}
    want = oracle.edge_key_set(oracle.build_edges(corpus_rows, canonicalize=True))
    p, r = oracle.precision_recall(got, want)
    assert (p, r) == (1.0, 1.0), f"precision={p} recall={r}"


def test_doc_key_surrogate_contract(spark, clauses):
    """The surrogate module's three contracts: doc_key is deterministic
    (same doc_sha → same BIGINT everywhere), with_doc_key is idempotent,
    and audit_doc_keys reports exactly the doc_keys claimed by >1
    distinct doc_sha (none on a real corpus; a planted collision row is
    reported with both shas)."""
    from fastobo_py_spark.operators.surrogate import audit_doc_keys, with_doc_key

    keyed = with_doc_key(clauses.select("doc_sha").distinct())
    # idempotent: second call is a no-op (same plan, same columns)
    again = with_doc_key(keyed)
    assert again.columns == keyed.columns
    # deterministic: re-deriving from scratch yields identical pairs
    pairs = {(r["doc_sha"], r["doc_key"]) for r in keyed.collect()}
    pairs2 = {
        (r["doc_sha"], r["doc_key"])
        for r in with_doc_key(clauses.select("doc_sha").distinct()).collect()
    }
    assert pairs == pairs2 and len({k for _, k in pairs}) == len(pairs)
    # clean corpus: no collisions
    assert audit_doc_keys(clauses).count() == 0
    # planted collision (pre-set doc_key passes through with_doc_key):
    # two distinct doc_shas on one doc_key must be reported together
    planted = spark.createDataFrame(
        [("sha_a", 7), ("sha_a", 7), ("sha_b", 7), ("sha_c", 9)],
        "doc_sha string, doc_key long",
    )
    rows = audit_doc_keys(planted).collect()
    assert len(rows) == 1
    assert rows[0]["doc_key"] == 7 and rows[0]["n_docs"] == 2
    assert rows[0]["doc_shas"] == ["sha_a", "sha_b"]


def test_canonical_edges_larger_corpus_vs_oracle(spark):
    """Size-robustness: 2x docs at 2x doc_scale (≈4x clause rows, multiple
    partitions per family) still matches the oracle exactly — guards
    partition-boundary and scale-dependent bugs the default-size fixtures
    can't see."""
    from fastobo_py_spark.plans.pipeline import canonical_edges
    from fastobo_py_spark.schema import CORPUS_SCHEMA
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(n_obo=80, n_noise=20, n_broken=2, doc_scale=2)
    corpus = spark.createDataFrame(rows, schema=CORPUS_SCHEMA).repartition(8)
    from fastobo_py_spark.operators.parse import parse_corpus, split_parsed

    cl, _ = split_parsed(parse_corpus(corpus))
    cl = cl.repartition(8, "doc_sha").persist()
    e = canonical_edges(cl)
    got = {(r["subj"], r["pred"], r["obj"], r["doc_sha"]) for r in e.collect()}
    want = oracle.edge_key_set(oracle.build_edges(rows, canonicalize=True))
    p, r = oracle.precision_recall(got, want)
    assert (p, r) == (1.0, 1.0), f"precision={p} recall={r}"
    assert len(got) > 8000  # genuinely larger than the default corpus
    # the canonicalization map itself equals the pure-Python statement
    assert _kernel_map_rows(cl) == _oracle_map_rows(rows)
    cl.unpersist()


def test_pipeline_resume_with_broadcast_gate_forced_shut(spark, corpus, monkeypatch):
    """The resume anti-join must stay correct when the manifest is too big
    to broadcast: force the gate shut (threshold 0) so the shuffle-join
    fallback path runs, and assert resume semantics are unchanged."""
    from fastobo_py_spark.operators import hints
    from fastobo_py_spark.plans.pipeline import pending_corpus, run_pipeline

    monkeypatch.setattr(hints, "BROADCAST_ROW_THRESHOLD", 0)
    out = tempfile.mkdtemp(prefix="kg_gate_test_")
    try:
        half = corpus.where(F.substring(F.md5(F.col("path")), 1, 1) < "8")
        m1 = run_pipeline(spark, half, out, canonicalize=False)
        assert m1["docs_in_batch"] > 0
        # the anti-join (now a shuffle join) sees exactly the remainder
        n_total = corpus.count()
        assert pending_corpus(spark, corpus, out).count() == n_total - m1["docs_in_batch"]
        m2 = run_pipeline(spark, corpus, out, canonicalize=False)
        assert m1["docs_in_batch"] + m2["docs_in_batch"] == n_total
        m3 = run_pipeline(spark, corpus, out, canonicalize=False)
        assert m3["docs_in_batch"] == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _oracle_map_rows(corpus_rows) -> set:
    """oracle.build_canonical_maps flattened to (doc_sha, old, new) rows."""
    return {
        (sha, old, new)
        for sha, m in oracle.build_canonical_maps(corpus_rows).items()
        for old, new in m.items()
    }


def _kernel_map_rows(dims, key_col: str = "doc_sha") -> set:
    from fastobo_py_spark.operators.canonicalize import combined_map_distributed

    return {tuple(r) for r in combined_map_distributed(dims, key_col=key_col).collect()}


def test_fused_rewrite_map_equals_sequential(spark):
    """The fused kernel map must equal resolution-then-components applied
    sequentially, on the adversarial shapes: alias into an equivalence
    member, an aliased would-be representative, an alias onto a
    representative, a redirect into a component, and ids known to only
    one map (or to neither)."""
    text = "format-version: 1.2\n" + "".join(
        f"\n[Term]\nid: {fid}\n" + "".join(f"{tag}: {v}\n" for tag, v in frame)
        for fid, frame in [
            ("A:2", [("alt_id", "A:1"), ("equivalent_to", "A:0")]),  # alias into a component
            ("B:2", [("alt_id", "B:1")]),                            # alias, no component
            ("C:0", [("alt_id", "C:1"), ("equivalent_to", "C:9")]),  # alias onto the rep
            ("E:5", [("equivalent_to", "E:2")]),                     # component, no alias
            ("G:7", [("alt_id", "G:0")]),                            # G:0 would be the rep ...
            ("G:3", [("equivalent_to", "G:0")]),                     # ... but is aliased away
            ("D:1", [("is_obsolete", "true"), ("replaced_by", "D:2")]),  # redirect into a component
            ("D:2", [("equivalent_to", "D:0")]),
        ]
    )
    rows, corpus, shas = _obo_corpus(spark, {"adv.obo": text})
    clauses, _ = split_parsed(parse_corpus(corpus))
    fused = {old: new for _, old, new in _kernel_map_rows(clauses)}

    res_d = {"A:1": "A:2", "B:1": "B:2", "C:1": "C:0", "G:0": "G:7", "D:1": "D:2"}
    comp_d = {  # labels over the res-rewritten pairs, min member wins
        "A:2": "A:0", "A:0": "A:0", "C:0": "C:0", "C:9": "C:0", "E:5": "E:2",
        "E:2": "E:2", "G:3": "G:3", "G:7": "G:3", "D:2": "D:0", "D:0": "D:0",
    }

    def sequential(x):
        y = res_d.get(x, x)
        return comp_d.get(y, y)

    every_id = set(res_d) | set(res_d.values()) | set(comp_d) | {"Z:77"}
    for x in sorted(every_id):
        assert fused.get(x, x) == sequential(x), f"{x}: fused={fused.get(x, x)} sequential={sequential(x)}"
    # identity entries must not appear in the map
    assert all(k != v for k, v in fused.items())
    assert {(shas["adv.obo"], o, n) for o, n in fused.items()} == _oracle_map_rows(rows)


def test_per_doc_components_random_graphs_vs_union_find(spark):
    """The kernel's per-document union-find vs an independent python
    union-find on 60 random per-document equivalence graphs (seeded),
    fed as ``equivalent_to`` clause rows: labels must match exactly,
    including per-document scoping of identical local ids reused across
    documents."""
    import random

    rng = random.Random(1234)
    rows = []
    for d in range(60):
        sha = f"{d:064x}"
        n_ids = rng.randint(2, 30)
        ids = [f"X:{i}" for i in range(n_ids)]  # same local ids in every doc
        for _ in range(rng.randint(1, 40)):
            rows.append((sha, rng.choice(ids), rng.choice(ids)))
    dims = spark.createDataFrame(
        [(sha, "Term", a, "equivalent_to", b, i + 1, 0) for i, (sha, a, b) in enumerate(rows)],
        "doc_sha string, frame_type string, frame_id string, tag string, v1 string, "
        "frame_ix int, clause_ix int",
    )
    got = {(sha, old): new for sha, old, new in _kernel_map_rows(dims)}

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for sha, a, b in rows:
        ra, rb = find((sha, a)), find((sha, b))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    want = {}
    for sha, a, b in rows:
        for v in (a, b):
            rep = find((sha, v))[1]
            if rep != v:  # the map drops identity labels
                want[(sha, v)] = rep
    assert got == want and got
    # no labels leak across documents: every label names a doc-local id
    ids_by_doc: dict = {}
    for sha, a, b in rows:
        ids_by_doc.setdefault(sha, set()).update((a, b))
    assert all(new in ids_by_doc[sha] for (sha, _), new in got.items())


def test_combined_map_kernel_equals_oracle_maps(spark, clauses, corpus_rows):
    """The single-kernel fused map (production path) must emit exactly the
    rows of the pure-Python ``oracle.build_canonical_maps`` over the full
    synthetic corpus dims, on both spines."""
    from fastobo_py_spark.operators.surrogate import with_doc_key

    dims = clauses.where(
        (F.col("frame_type") == "Header")
        | F.col("tag").isin("alt_id", "replaced_by", "equivalent_to", "xref")
    )
    want = _oracle_map_rows(corpus_rows)
    assert _kernel_map_rows(dims) == want and want
    keyed = with_doc_key(dims)
    sha_of = {r["doc_key"]: r["doc_sha"] for r in keyed.select("doc_key", "doc_sha").distinct().collect()}
    assert {(sha_of[k], o, n) for k, o, n in _kernel_map_rows(keyed, "doc_key")} == want


def test_transitive_ancestors_semantics(spark):
    """Path-doubling closure: diamond + deep chain converge in log rounds,
    ancestors never cross documents, and a cycle terminates (self-pairs
    dropped, mutual ancestry kept)."""
    from fastobo_py_spark.operators.graph import transitive_ancestors

    d1, d2 = "A" * 64, "B" * 64
    rows = (
        # d1: diamond a->b, a->c, b->d, c->d  plus chain d->e->f
        [(d1, a, "is_a", b) for a, b in
         [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f")]]
        # d2: same local names, different topology — must not leak into d1
        + [(d2, "a", "is_a", "f")]
        # d2: a 2-cycle x<->y
        + [(d2, "x", "is_a", "y"), (d2, "y", "is_a", "x")]
    )
    e = spark.createDataFrame(rows, "doc_sha string, subj string, pred string, obj string")
    got = {(r["doc_sha"], r["id"], r["ancestor"]) for r in transitive_ancestors(e).collect()}
    want_d1 = {
        ("a", x) for x in ("b", "c", "d", "e", "f")
    } | {("b", x) for x in ("d", "e", "f")} | {("c", x) for x in ("d", "e", "f")} | {
        ("d", "e"), ("d", "f"), ("e", "f")
    }
    assert {(i, a) for d, i, a in got if d == d1} == want_d1
    assert {(i, a) for d, i, a in got if d == d2} == {("a", "f"), ("x", "y"), ("y", "x")}


def test_ancestors_of_seeded_min_depth(spark):
    """Seeded BFS: only seed rows appear, min_depth is the SHORTEST path
    (diamond: two length-2 routes to d -> depth 2), doc scoping holds, and
    a cycle reachable from a seed terminates."""
    from fastobo_py_spark.operators.graph import ancestors_of

    d1, d2 = "A" * 64, "B" * 64
    rows = (
        [(d1, a, "is_a", b) for a, b in
         [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"), ("a", "d")]]
        + [(d2, "a", "is_a", "z")]           # same seed name, other doc
        + [(d1, "s", "is_a", "x"), (d1, "x", "is_a", "y"), (d1, "y", "is_a", "x")]
    )
    e = spark.createDataFrame(rows, "doc_sha string, subj string, pred string, obj string")
    seeds = spark.createDataFrame([("a",), ("s",)], "id string")
    got = {
        (r["doc_sha"], r["id"], r["ancestor"]): r["min_depth"]
        for r in ancestors_of(e, seeds).collect()
    }
    # unseeded ids never appear
    assert {k[1] for k in got} == {"a", "s"}
    # shortest path wins: a->d directly (depth 1), not via b/c (depth 2)
    assert got[(d1, "a", "d")] == 1
    assert got[(d1, "a", "b")] == 1 and got[(d1, "a", "c")] == 1
    assert got[(d1, "a", "e")] == 2  # a->d->e
    assert got[(d2, "a", "z")] == 1  # per-doc scoping
    # cycle from seed s: x (1), y (2); no self-pairs, terminates
    assert got[(d1, "s", "x")] == 1 and got[(d1, "s", "y")] == 2
    assert (d1, "s", "s") not in got and (d1, "x", "y") not in got


def test_ancestors_of_deep_chain_seen_compaction(spark):
    """A 20-deep chain crosses the seen-set compaction threshold twice
    (_SEEN_COMPACT_EVERY=8): results must be identical to the naive
    expectation — every depth present exactly once with the right
    min_depth — and a revisiting shortcut edge must still be anti-joined
    away after compaction."""
    from fastobo_py_spark.operators.graph import _SEEN_COMPACT_EVERY, ancestors_of

    assert _SEEN_COMPACT_EVERY <= 10  # the chain below must trigger it
    d = "C" * 64
    depth = 20
    rows = [(d, f"n{i}", "is_a", f"n{i+1}") for i in range(depth)]
    # shortcut that RE-discovers n5 late (via the far end): must stay depth 5
    rows.append((d, f"n{depth}", "is_a", "n5"))
    e = spark.createDataFrame(rows, "doc_sha string, subj string, pred string, obj string")
    seeds = spark.createDataFrame([("n0",)], "id string")
    got = {r["ancestor"]: r["min_depth"] for r in ancestors_of(e, seeds).collect()}
    assert len(got) == depth  # n1..n20, each exactly once
    assert all(got[f"n{i}"] == i for i in range(1, depth + 1))


def test_manifest_compaction_preserves_resume(spark, corpus):
    """O19 compaction: force a rewrite (threshold 0) after a half-run,
    assert the manifest collapsed to the target part count, and that
    resume behaves IDENTICALLY before/after — remainder processed once,
    then no-op; totals equal a single shot."""
    from fastobo_py_spark.plans.pipeline import (
        _manifest_part_count,
        compact_manifest,
        pending_corpus,
        run_pipeline,
    )

    single = tempfile.mkdtemp(prefix="kg_oneshot_")
    out = tempfile.mkdtemp(prefix="kg_compact_")
    try:
        run_pipeline(spark, corpus, single, canonicalize=False, compact_threshold=None)
        want_edges = spark.read.parquet(single + "/edges").count()

        half = corpus.where(F.crc32(F.col("path")) % 2 == 0)
        m1 = run_pipeline(spark, half, out, canonicalize=False, compact_threshold=None)
        assert m1["docs_in_batch"] > 0
        frag = _manifest_part_count(out)
        st = compact_manifest(spark, out, max_parts=0)
        assert st["compacted"] and st["parts_before"] == frag
        assert _manifest_part_count(out) == st["parts_after"] <= frag
        # compacted manifest answers the anti-join exactly as before
        assert pending_corpus(spark, half, out).count() == 0
        m2 = run_pipeline(spark, corpus, out, canonicalize=False, compact_threshold=0)
        assert m2["docs_in_batch"] == 203 - m1["docs_in_batch"]
        assert m2["manifest_compaction"]["compacted"] is True
        m3 = run_pipeline(spark, corpus, out, canonicalize=False, compact_threshold=0)
        assert m3["docs_in_batch"] == 0
        assert spark.read.parquet(out + "/edges").count() == want_edges
    finally:
        shutil.rmtree(single, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_manifest_compaction_crash_window_adoption(spark, corpus):
    """Crash between the two swap renames leaves only a committed
    _manifest.compact-* dir; read_manifest must adopt it with no loss."""
    import os

    from fastobo_py_spark.plans.pipeline import (
        _manifest_path,
        pending_corpus,
        read_manifest,
        run_pipeline,
    )

    out = tempfile.mkdtemp(prefix="kg_crash_")
    try:
        m1 = run_pipeline(spark, corpus, out, canonicalize=False, compact_threshold=None)
        p = _manifest_path(out)
        n_before = read_manifest(spark, out).count()
        # simulate: compact dir fully committed, primary already renamed away
        os.rename(p, p + ".compact-deadbeef")
        assert os.path.exists(os.path.join(p + ".compact-deadbeef", "_SUCCESS"))
        m = read_manifest(spark, out)
        assert m is not None and m.count() == n_before
        assert os.path.isdir(p) and not os.path.isdir(p + ".compact-deadbeef")
        assert pending_corpus(spark, corpus, out).count() == 0
        m2 = run_pipeline(spark, corpus, out, canonicalize=False)
        assert m2["docs_in_batch"] == 0 and m1["docs_in_batch"] == 203
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_unreadable_manifest_fails_the_resumed_batch(spark, corpus):
    """A manifest part that cannot be read fails the resumed batch before
    it writes anything; read as "no manifest" it would reprocess every
    document into duplicate outputs."""
    import os

    from fastobo_py_spark.plans.pipeline import _manifest_path, run_pipeline

    out = tempfile.mkdtemp(prefix="kg_bad_manifest_")
    try:
        os.makedirs(_manifest_path(out))
        with open(os.path.join(_manifest_path(out), "part-00000-garbage.snappy.parquet"), "wb") as fh:
            fh.write(b"not a parquet file" * 8)
        with pytest.raises(Exception):
            run_pipeline(spark, corpus, out, resume=True)
        assert not os.path.exists(os.path.join(out, "edges"))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_batch_commit_is_a_plain_append(spark, corpus, monkeypatch):
    """Without a stream batch id the commit is a plain ``op="append"``
    under the batch's own id, and ``run_pipeline`` itself lists no
    snapshots (only a stream micro-batch checks for its replay)."""
    import sys

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    callers = []
    real = S.list_snapshots

    def spy(out_dir):
        callers.append(sys._getframe(1).f_code.co_name)
        return real(out_dir)

    out = tempfile.mkdtemp(prefix="kg_batch_commit_")
    try:
        monkeypatch.setattr(S, "list_snapshots", spy)
        m = run_pipeline(spark, corpus, out, resume=False, canonicalize=False)
        assert "run_pipeline" not in callers
        (snap,) = real(out)
        assert (snap["op"], snap["batch_id"], snap["snapshot_id"]) == ("append", m["batch_id"], m["snapshot_id"])
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_descendants_of_is_reverse_bfs(spark):
    """Subtree extraction mirrors the seeded ancestor BFS over reversed
    edges: depths measured downward, doc scoping and seed filtering hold."""
    from fastobo_py_spark.operators.graph import ancestors_of, descendants_of

    d1 = "A" * 64
    rows = [(d1, a, "is_a", b) for a, b in
            [("a", "b"), ("b", "c"), ("c", "d"), ("x", "c")]]
    e = spark.createDataFrame(rows, "doc_sha string, subj string, pred string, obj string")
    seeds = spark.createDataFrame([("c",)], "id string")
    got = {
        (r["id"], r["descendant"]): r["min_depth"]
        for r in descendants_of(e, seeds).collect()
    }
    assert got == {("c", "b"): 1, ("c", "x"): 1, ("c", "a"): 2}
    # duality: descendants(seed) pairs == ancestors-of-everything pairs
    # that END at the seed, with the same depths
    all_ids = e.select(F.col("subj").alias("id")).dropDuplicates()
    anc = {
        (r["ancestor"], r["id"]): r["min_depth"]
        for r in ancestors_of(e, all_ids).collect()
        if r["ancestor"] == "c"
    }
    assert anc == got


def test_output_compaction_preserves_table(spark, corpus):
    """Output compaction is ``snapshots.rewrite_data_files`` then
    ``expire_snapshots(keep_last=1)``: fragment the partitioned outputs
    via two batch appends, compact every leaf, and assert the same rows
    through the plain path and the snapshot reader, intact partition
    discovery, fewer files, one snapshot, and an idempotent second pass."""
    import os
    from collections import Counter

    from fastobo_py_spark.plans import snapshots as S
    from fastobo_py_spark.plans.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="kg_outcompact_")
    try:
        half = corpus.where(F.crc32(F.col("path")) % 2 == 0)
        run_pipeline(spark, half, out, canonicalize=False)
        run_pipeline(spark, corpus, out, canonicalize=False)

        def census(df):
            cols = sorted(df.columns)
            rows = Counter(r[0] for r in df.select(F.to_json(F.struct(*cols))).collect())
            return rows, set(cols)

        def reads(t):
            return census(spark.read.parquet(f"{out}/{t}")), census(S.read_table_at(spark, out, t))

        def n_parts(t):
            return sum(
                sum(1 for f in files if f.endswith(".parquet"))
                for _d, _s, files in os.walk(f"{out}/{t}")
            )

        before = {t: reads(t) for t in S.TABLES}
        parts_before = {t: n_parts(t) for t in S.TABLES}
        assert all(plain == snap for plain, snap in before.values())
        st = S.rewrite_data_files(spark, out, max_parts=0)
        assert st["leaves_rewritten"] > 0
        S.expire_snapshots(out, keep_last=1)
        assert len(S.list_snapshots(out)) == 1
        for t in S.TABLES:
            assert reads(t) == before[t]
            assert n_parts(t) < parts_before[t]
        # edges keep the (idspace, salt) partition layout after the rewrite
        assert {"idspace", "salt"} <= before["edges"][0][1]
        assert {"idspace", "salt"} <= reads("edges")[0][1]
        # idempotent: a second pass finds nothing above threshold
        assert S.rewrite_data_files(spark, out, max_parts=1)["leaves_rewritten"] == 0
        assert S.expire_snapshots(out, keep_last=1)["expired"] == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_run_pipeline_releases_caches_when_a_write_fails(spark, corpus):
    """A failed edges write (a plain file squats on ``<out>/edges``) must
    not strand the parse, clause and canonical-chain caches in the
    session: every persist is released on the exception path too."""
    import os

    from py4j.protocol import Py4JJavaError

    from fastobo_py_spark.plans.pipeline import run_pipeline

    jsc = spark.sparkContext._jsc
    out = tempfile.mkdtemp(prefix="kg_failwrite_")
    try:
        open(os.path.join(out, "edges"), "w").close()
        n0 = jsc.getPersistentRDDs().size()
        with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
            run_pipeline(spark, corpus, out, resume=False)
        assert os.path.isdir(os.path.join(out, "nodes"))  # failed AFTER the chain ran
        # at most n0: the JVM may collect earlier tests' checkpoints meanwhile
        assert jsc.getPersistentRDDs().size() <= n0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_alias_conflict_first_declared_wins(spark):
    """Two frames claiming the same alt_id: the fused kernel and the
    pure-Python oracle must both keep the FIRST declaration in document
    order — previously dropDuplicates / setdefault-on-arrival-order kept
    an arbitrary survivor that could differ per run and per spine."""
    content = (
        "format-version: 1.2\n\n"
        "[Term]\nid: T:1\nalt_id: T:9\n\n"
        "[Term]\nid: T:2\nalt_id: T:9\n\n"
        "[Term]\nid: T:3\nis_a: T:9\n"
    )
    rows, corpus, shas = _obo_corpus(spark, {"a.obo": content})
    clauses, _ = split_parsed(parse_corpus(corpus))
    # tiny doc: the whole clause set is a valid dims input
    assert _kernel_map_rows(clauses) == {(shas["a.obo"], "T:9", "T:1")}
    assert oracle.build_canonical_maps(rows)[shas["a.obo"]] == {"T:9": "T:1"}
