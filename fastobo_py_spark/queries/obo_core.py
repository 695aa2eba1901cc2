"""OBO KG-construction core queries: triple extraction, canonicalized
edges, frame stats, obsolete nodes, mention dictionaries, URL
compaction, document diff, serializer round-trip and hub degrees."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastobo_py_spark.queries._registry import (
    GENERATED_ORACLES as _GENERATED_ORACLES,
    QUERIES,
)
from fastobo_py_spark.queries._shared import _CORPUS_KW, _clauses, _values_sql
from fastobo_py_spark.session import release


def q_obo_edges_by_pred(spark: SparkSession, sf: str) -> DataFrame:
    """Raw triple extraction profile: edges per predicate."""
    from fastobo_py_spark.operators.triples import extract_edges

    return (
        extract_edges(_clauses(spark))
        .dropDuplicates(["subj", "pred", "obj", "doc_sha"])
        .groupBy("pred")
        .agg(F.count("*").alias("n_edges"))
        .orderBy("pred")
    )


def sql_obo_edges_by_pred() -> str:
    from collections import Counter

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    edges = oracle.build_edges(generate_corpus(**_CORPUS_KW), canonicalize=False, apply_macros=False)
    counts = Counter(p for _, p, _, _, _ in edges)
    rows = sorted(counts.items())
    return _values_sql([(p, n) for p, n in rows], ["pred", "n_edges"])


def q_obo_canonical_edges_pato(spark: SparkSession, sf: str) -> DataFrame:
    """Fully canonicalized triples for the pato-like docs (exercises the
    equivalence-CC labels + URL compaction targets). The canonical chain
    is per document, so filtering to the pato docs first yields exactly
    their edges in the full corpus."""
    from fastobo_py_spark.plans.pipeline import canonical_edges

    cl = _clauses(spark).where(F.col("path").startswith("ontologies/pato"))
    caches: list = []
    try:
        e = canonical_edges(cl, persisted_out=caches)
        out = e.select("subj", "pred", "obj").dropDuplicates().orderBy("subj", "pred", "obj")
        # the chain persists its dims; materialize, then release them
        rows = out.collect()
    finally:
        release(caches)
    return spark.createDataFrame(rows, out.schema)


def sql_obo_canonical_edges_pato() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = [r for r in generate_corpus(**_CORPUS_KW) if r["path"].startswith("ontologies/pato")]
    edges = oracle.build_edges(rows, canonicalize=True)
    triples = sorted({(s, p, o) for s, p, o, _, _ in edges})
    return _values_sql(triples, ["subj", "pred", "obj"])


def q_obo_frame_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-family frame/clause counts (O13 metrics)."""
    cl = _clauses(spark)
    fam = F.regexp_extract(F.col("path"), r"ontologies/([a-z]+)_", 1)
    return (
        cl.withColumn("family", fam)
        .groupBy("family")
        .agg(
            F.countDistinct("doc_sha").alias("n_docs"),
            F.sum(F.when((F.col("tag") == "id") & (F.col("frame_type") != "Header"), 1).otherwise(0)).alias(
                "n_frames"
            ),
            F.count("*").alias("n_clauses"),
        )
        .orderBy("family")
    )


def sql_obo_frame_stats() -> str:
    import re as _re
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    agg = defaultdict(lambda: [set(), 0, 0])
    clauses, _ = oracle.parse_rows(rows)
    import hashlib

    sha_to_fam = {
        hashlib.sha256(r["content"].encode()).hexdigest(): (_re.search(r"ontologies/([a-z]+)_", r["path"]).group(1) if _re.search(r"ontologies/([a-z]+)_", r["path"]) else "")
        for r in rows
        if oracle.is_obo_row(r)
    }
    for c in clauses:
        fam = sha_to_fam.get(c[0], "")
        a = agg[fam]
        a[0].add(c[0])
        if c[3 + 4] == "id" and c[3] != "Header":
            a[1] += 1
        a[2] += 1
    out = [(fam, len(a[0]), a[1], a[2]) for fam, a in sorted(agg.items())]
    return _values_sql(out, ["family", "n_docs", "n_frames", "n_clauses"])


def q_obo_obsolete_nodes(spark: SparkSession, sf: str) -> DataFrame:
    """Obsolete-term audit (the reference's obsolete.ipynb validation):
    obsolete nodes with their replacement status."""
    from fastobo_py_spark.operators.materialize import build_nodes

    nodes = build_nodes(_clauses(spark))
    return (
        nodes.where(F.col("obsolete"))
        .select(
            "id",
            F.size("replaced_by").alias("n_replaced"),
            F.size("alt_ids").alias("n_alt"),
        )
        .orderBy("id")
    )


def sql_obo_obsolete_nodes() -> str:
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    obs = set()
    repl = defaultdict(set)
    alt = defaultdict(set)
    for c in clauses:
        sha, ftype, fid, tag, v1 = c[0], c[3], c[3 + 1], c[3 + 4], c[3 + 5]
        if ftype == "Header" or not fid:
            continue
        key = (sha, fid)
        if tag == "is_obsolete" and v1 == "true":
            obs.add(key)
        elif tag == "replaced_by" and v1:
            repl[key].add(v1)
        elif tag == "alt_id" and v1:
            alt[key].add(v1)
    rows = sorted((fid, len(repl[k]), len(alt[k])) for k in obs for fid in [k[1]])
    return _values_sql(rows, ["id", "n_replaced", "n_alt"])


def q_obo_mention_dict(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-linking dictionary profile: surface forms per kind/scope."""
    from fastobo_py_spark.operators.linking import mention_dictionary

    d = mention_dictionary(_clauses(spark))
    return (
        d.groupBy("kind", "scope")
        .agg(F.count("*").alias("n_forms"), F.countDistinct("mention").alias("n_distinct"))
        .orderBy("kind", "scope")
    )


def sql_obo_mention_dict() -> str:
    import re as _re
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    def norm(s):
        s = _re.sub(r"\s+", " ", s.strip().lower())
        return _re.sub(r"^[\"'\(\[]+|[\"'\)\]\.,;:]+$", "", s)

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    seen = set()
    for c in clauses:
        sha, ftype, fid, tag = c[0], c[3], c[3 + 1], c[3 + 4]
        if ftype == "Header" or not fid:
            continue
        if tag == "name" and c[3 + 7]:
            m = norm(c[3 + 7])
            if m:
                seen.add((sha, m, fid, "name", None))
        elif tag == "synonym" and c[3 + 7]:
            m = norm(c[3 + 7])
            if m:
                seen.add((sha, m, fid, "synonym", c[3 + 11]))
    agg = defaultdict(lambda: [0, set()])
    for sha, m, fid, kind, scope in seen:
        a = agg[(kind, scope)]
        a[0] += 1
        a[1].add(m)
    rows = sorted((k, s, n, len(d)) for (k, s), (n, d) in agg.items())
    return _values_sql(rows, ["kind", "scope", "n_forms", "n_distinct"])


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
def q_obo_url_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """O6: URL→prefixed compaction through per-doc idspace declarations
    (doc.rs:219-234 semantics) over the pato-like docs."""
    from fastobo_py_spark.operators.idents import compact_with_idspaces
    from fastobo_py_spark.operators.triples import extract_edges

    cl = _clauses(spark).where(F.col("path").startswith("ontologies/pato"))
    urls = extract_edges(cl).where(F.col("obj").startswith("http://"))
    compacted = compact_with_idspaces(urls, "obj", cl)
    return (
        compacted.select(F.col("subj"), F.col("obj").alias("compacted"))
        .dropDuplicates()
        .orderBy("subj", "compacted")
    )


def sql_obo_url_compaction() -> str:
    import re as _re

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = [r for r in generate_corpus(**_CORPUS_KW) if r["path"].startswith("ontologies/pato")]
    out = set()
    for r in rows:
        clauses = oracle.parse_document(r["content"])
        idspaces = {}
        edges = []
        for c in clauses:
            tag, fid = c[4], c[1]
            if c[0] == "Header" and tag == "idspace":
                idspaces[c[5]] = c[6]
            elif tag == "is_a" and c[5] and fid:
                edges.append((fid, c[5]))
        for subj, obj in edges:
            if obj.startswith("http://"):
                comp = obj
                for pfx, base in idspaces.items():
                    if obj.startswith(base):
                        comp = f"{pfx}:{obj[len(base):]}"
                        break
                else:
                    m = _re.match(r"^http://purl\.obolibrary\.org/obo/([A-Za-z0-9]+)_([A-Za-z0-9]+)$", obj)
                    if m:
                        comp = f"{m.group(1)}:{m.group(2)}"
                out.add((subj, comp))
    return _values_sql(sorted(out), ["subj", "compacted"])


def q_obo_frame_diff(spark: SparkSession, sf: str) -> DataFrame:
    """O15: version-diff audit — corpus vs corpus-with-one-family-dropped,
    summarized by change kind."""
    from fastobo_py_spark.operators.diff import frame_change_summary

    cl = _clauses(spark)
    new = cl.where(~F.col("path").startswith("ontologies/pato"))
    ch = frame_change_summary(cl, new)
    return ch.groupBy("change").agg(F.count("*").alias("n_frames")).orderBy("change")


def sql_obo_frame_diff() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    clauses, _ = oracle.parse_rows(rows)
    import hashlib

    pato_shas = {
        hashlib.sha256(r["content"].encode()).hexdigest()
        for r in rows
        if r["path"].startswith("ontologies/pato")
    }
    all_ids = {c[3 + 1] for c in clauses if c[3] != "Header" and c[3 + 1]}
    removed_only = {
        c[3 + 1] for c in clauses if c[0] in pato_shas and c[3] != "Header" and c[3 + 1]
    } - {c[3 + 1] for c in clauses if c[0] not in pato_shas and c[3] != "Header" and c[3 + 1]}
    n_removed = len(removed_only)
    n_unchanged = len(all_ids) - n_removed
    out = []
    if n_removed:
        out.append(("removed", n_removed))
    out.append(("unchanged", n_unchanged))
    return _values_sql(sorted(out), ["change", "n_frames"])


# late registrations (defined below the base registry)
QUERIES["obo_url_compaction"] = q_obo_url_compaction
QUERIES["obo_frame_diff"] = q_obo_frame_diff


def q_obo_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Serializer round-trip audit: serialize every parsed doc back to
    canonical OBO, reparse, and compare clause counts — per family."""
    from fastobo_py_spark.obo.serializer import serialize_documents
    from fastobo_py_spark.operators.parse import parse_corpus, split_parsed

    cl = _clauses(spark)
    texts = serialize_documents(cl)
    reparsed_corpus = texts.select(
        F.lit("roundtrip").alias("repo"),
        F.col("doc_sha").alias("path"),  # carries the ORIGINAL sha forward
        F.lit("rt").alias("commit"),
        F.lit("OBO").alias("lang"),
        F.col("obo_text").alias("content"),
    )
    cl2, _ = split_parsed(parse_corpus(reparsed_corpus))
    before = cl.groupBy(F.col("doc_sha").alias("orig_sha")).agg(F.count("*").alias("n_before"))
    after = cl2.groupBy(F.col("path").alias("orig_sha")).agg(F.count("*").alias("n_after"))
    return (
        before.join(after, "orig_sha")
        .select(
            F.when(F.col("n_before") == F.col("n_after"), F.lit("identical")).otherwise(F.lit("mismatch")).alias(
                "status"
            )
        )
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("status")
    )


def sql_obo_roundtrip() -> str:
    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    n_parsed = len({c[0] for c in clauses})
    return _values_sql([("identical", n_parsed)], ["status", "n_docs"])


QUERIES["obo_serializer_roundtrip"] = q_obo_roundtrip


def q_obo_hub_degrees(spark: SparkSession, sf: str) -> DataFrame:
    """O18: salted two-phase in-degree — top 10 hub targets (go-like docs
    concentrate ~60% of is_a edges on 3 hubs per doc)."""
    from fastobo_py_spark.operators.materialize import hub_degrees
    from fastobo_py_spark.operators.triples import extract_edges

    e = (
        extract_edges(_clauses(spark))
        .where(F.col("pred") == "is_a")
        .dropDuplicates(["subj", "pred", "obj", "doc_sha"])
    )
    return hub_degrees(e).orderBy(F.col("in_degree").desc(), F.col("obj")).limit(10)


def sql_obo_hub_degrees() -> str:
    from collections import Counter

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    edges = oracle.build_edges(generate_corpus(**_CORPUS_KW), canonicalize=False, apply_macros=False)
    deg = Counter()
    seen = set()
    for s, p, o, _, sha in edges:
        if p == "is_a" and (s, p, o, sha) not in seen:
            seen.add((s, p, o, sha))
            deg[o] += 1
    top = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return _values_sql(top, ["obj", "in_degree"])


QUERIES["obo_hub_degrees"] = q_obo_hub_degrees


# ---------------------------------------------------------------------------
def q_obo_canonical_nodes(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document canonical node view (VERDICT r4): one row per
    canonical id across every ontology version in the corpus — each
    document's node ids rewritten through its own fused canonicalization
    map, then aggregated corpus-wide."""
    from fastobo_py_spark.operators.materialize import canonical_node_view

    return canonical_node_view(_clauses(spark)).orderBy("canonical_id")


def sql_obo_canonical_nodes() -> str:
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    rows = generate_corpus(**_CORPUS_KW)
    clauses, _ = oracle.parse_rows(rows)
    maps = oracle.build_canonical_maps(rows)

    # per-(doc, frame) node attrs, mirroring build_nodes' aggregates
    ix = oracle._IX
    frames: dict = {}
    for c in clauses:
        sha, ftype, fid = c[0], c[3], c[3 + ix["frame_id"]]
        if ftype == "Header" or not fid:
            continue
        f = frames.setdefault((sha, fid), {"names": [], "obs": False, "alt": set()})
        tag, v1, vt = c[3 + ix["tag"]], c[3 + ix["v1"]], c[3 + ix["value_text"]]
        if tag == "name" and vt is not None:
            f["names"].append(vt)
        elif tag == "is_obsolete" and v1 == "true":
            f["obs"] = True
        elif tag == "alt_id" and v1 is not None:
            f["alt"].add(v1)

    agg = defaultdict(lambda: {"docs": set(), "ids": set(), "names": [], "obs": False, "alt": set()})
    for (sha, fid), f in frames.items():
        canon = maps.get(sha, {}).get(fid, fid)
        a = agg[canon]
        a["docs"].add(sha)
        a["ids"].add(fid)
        # mirror build_nodes EXACTLY: the per-frame name is max() over a
        # frame's name clauses, THEN the group takes min() across frames —
        # flattening all names would diverge on a frame with two names
        if f["names"]:
            a["names"].append(max(f["names"]))
        a["obs"] = a["obs"] or f["obs"]
        a["alt"] |= f["alt"]
    out = [
        (
            cid,
            len(a["docs"]),
            len(a["ids"]),
            min(a["names"]) if a["names"] else None,
            a["obs"],
            len(a["alt"]),
        )
        for cid, a in sorted(agg.items())
    ]
    return _values_sql(
        out, ["canonical_id", "n_docs", "n_source_ids", "name", "ever_obsolete", "n_alt_ids"]
    )


# Round-2 additions: oracle coverage for the formerly pytest-only operators
# (O12 frame dicts, O19 resume, graph-JSON meta round-trip, typed dates,
# missing-clause audit, ident validity).
# ---------------------------------------------------------------------------


QUERIES.update(
    {
        "obo_edges_by_pred": q_obo_edges_by_pred,
        "obo_canonical_edges_pato": q_obo_canonical_edges_pato,
        "obo_frame_stats": q_obo_frame_stats,
        "obo_obsolete_nodes": q_obo_obsolete_nodes,
        "obo_mention_dict": q_obo_mention_dict,
        "obo_canonical_nodes": q_obo_canonical_nodes,
    }
)
_GENERATED_ORACLES.update(
    {
        "obo_edges_by_pred": sql_obo_edges_by_pred,
        "obo_canonical_edges_pato": sql_obo_canonical_edges_pato,
        "obo_frame_stats": sql_obo_frame_stats,
        "obo_obsolete_nodes": sql_obo_obsolete_nodes,
        "obo_mention_dict": sql_obo_mention_dict,
        "obo_canonical_nodes": sql_obo_canonical_nodes,
        "obo_url_compaction": sql_obo_url_compaction,
        "obo_frame_diff": sql_obo_frame_diff,
        "obo_serializer_roundtrip": sql_obo_roundtrip,
        "obo_hub_degrees": sql_obo_hub_degrees,
    }
)
