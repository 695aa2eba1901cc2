"""OBO metadata/audit queries: creation dates, frame dicts, cardinality
audits, ident validity, OWL axiom census, obsolete-unreplaced audit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastobo_py_spark.queries._registry import (
    GENERATED_ORACLES as _GENERATED_ORACLES,
    QUERIES,
)
from fastobo_py_spark.queries._shared import _CORPUS_KW, _clauses, _values_sql


def q_obo_creation_dates(spark: SparkSession, sf: str) -> DataFrame:
    """Typed dates on the node table: per creation_date shape, count and
    epoch-µs extrema (functions/dates.py applied by build_nodes)."""
    from fastobo_py_spark.functions.dates import creation_date_kind
    from fastobo_py_spark.operators.materialize import build_nodes

    nodes = build_nodes(_clauses(spark)).where(F.col("creation_date").isNotNull())
    return (
        nodes.groupBy(creation_date_kind("creation_date").alias("kind"))
        .agg(
            F.count("*").alias("n"),
            F.min("creation_date_us").alias("min_us"),
            F.max("creation_date_us").alias("max_us"),
        )
        .orderBy("kind")
    )


def sql_obo_creation_dates() -> str:
    import re as _re
    from datetime import datetime, timezone

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    per_frame: dict = {}
    for c in clauses:
        if c[3] != "Header" and c[3 + 1] and c[3 + 4] == "creation_date":
            per_frame[(c[0], c[3 + 1])] = c[3 + 7]  # value_text; max() of 1 value per frame
    agg: dict = {}
    for raw in per_frame.values():
        if _re.match(r"^\d{4}-\d{2}-\d{2}$", raw):
            kind = "date"
        elif _re.match(r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?$", raw):
            kind = "datetime"
        else:
            kind = "datetime_tz"
        dt = datetime.fromisoformat(raw)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)  # session tz is UTC
        us = int(dt.timestamp()) * 1_000_000 + dt.microsecond
        n, lo, hi = agg.get(kind, (0, us, us))
        agg[kind] = (n + 1, min(lo, us), max(hi, us))
    rows = [(k, n, lo, hi) for k, (n, lo, hi) in sorted(agg.items())]
    return _values_sql(rows, ["kind", "n", "min_us", "max_us"])


def q_obo_frame_dicts(spark: SparkSession, sf: str) -> DataFrame:
    """O12: the dict-of-lists aggregation profiled per idspace —
    (idspace, n_frames, sum of distinct tags, sum of values)."""
    from fastobo_py_spark.operators.idents import edge_idspace
    from fastobo_py_spark.operators.materialize import frame_dicts

    fd = frame_dicts(_clauses(spark).where(F.col("frame_id") != ""))
    n_vals = F.aggregate(F.map_values("clauses"), F.lit(0), lambda acc, v: acc + F.size(v))
    return (
        fd.select(edge_idspace("frame_id").alias("idspace"), F.size("clauses").alias("n_tags"), n_vals.alias("n_vals"))
        .groupBy("idspace")
        .agg(F.count("*").alias("n_frames"), F.sum("n_tags").alias("sum_tags"), F.sum("n_vals").alias("sum_vals"))
        .orderBy("idspace")
    )


def sql_obo_frame_dicts() -> str:
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    frames: dict = defaultdict(lambda: defaultdict(int))
    for c in clauses:
        if c[3] == "Header" or not c[3 + 1]:
            continue
        frames[(c[0], c[3 + 1])][c[3 + 4]] += 1
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for (sha, fid), tags in frames.items():
        if oracle._URL_RE.match(fid):
            space = "URL"
        elif ":" in fid:
            space = fid.split(":", 1)[0]
        else:
            space = "UNPREFIXED"
        a = agg[space]
        a[0] += 1
        a[1] += len(tags)
        a[2] += sum(tags.values())
    rows = [(s, a[0], a[1], a[2]) for s, a in sorted(agg.items())]
    return _values_sql(rows, ["idspace", "n_frames", "sum_tags", "sum_vals"])


def q_obo_missing_clauses(spark: SparkSession, sf: str) -> DataFrame:
    """Missing-clause cardinality audit (reference raises
    MissingClauseError, src/error.rs:106-110; here a metrics view):
    frames lacking name/def, counted per (frame_type, missing_tag)."""
    from fastobo_py_spark.operators.parse import missing_clause_violations

    v = missing_clause_violations(_clauses(spark), required=("name", "def"))
    return v.groupBy("frame_type", "missing_tag").agg(F.count("*").alias("n_frames")).orderBy(
        "frame_type", "missing_tag"
    )


def sql_obo_missing_clauses() -> str:
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    frames: dict = defaultdict(set)
    ftypes: dict = {}
    for c in clauses:
        if c[3] == "Header" or not c[3 + 1]:
            continue
        frames[(c[0], c[3 + 1])].add(c[3 + 4])
        ftypes[(c[0], c[3 + 1])] = c[3]
    agg: dict = defaultdict(int)
    for key, tags in frames.items():
        for req in ("name", "def"):
            if req not in tags:
                agg[(ftypes[key], req)] += 1
    rows = [(ft, tag, n) for (ft, tag), n in sorted(agg.items())]
    return _values_sql(rows, ["frame_type", "missing_tag", "n_frames"])


_GOLDEN_IDENTS = [
    "MS:1000031",
    "https://purl.obolibrary.org/obo/MS_1000031",
    "related_to",
    "definitely not an identifier",
]


def q_obo_ident_validity(spark: SparkSession, sf: str) -> DataFrame:
    """fastobo.id.is_valid parity (id.rs:65-93): validity × kind counts
    over every edge object in the corpus plus the doctest golden idents."""
    from fastobo_py_spark.operators.idents import ident_is_valid, ident_kind
    from fastobo_py_spark.operators.triples import extract_edges

    objs = (
        extract_edges(_clauses(spark))
        .dropDuplicates(["subj", "pred", "obj", "doc_sha"])
        .select(F.col("obj").alias("ident"))
    )
    golden = spark.createDataFrame([(s,) for s in _GOLDEN_IDENTS], "ident string")
    idents = objs.unionByName(golden)
    return (
        idents.groupBy(ident_kind("ident").alias("kind"), ident_is_valid("ident").alias("valid"))
        .agg(F.count("*").alias("n"))
        .orderBy("kind", "valid")
    )


def sql_obo_ident_validity() -> str:
    import re as _re
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    edges = oracle.build_edges(generate_corpus(**_CORPUS_KW), canonicalize=False, apply_macros=False)
    idents = [o for _, _, o, _, _ in edges] + _GOLDEN_IDENTS
    agg: dict = defaultdict(int)
    for s in idents:
        if oracle._URL_RE.match(s):
            kind = "url"
            valid = bool(_re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://\S+$", s))
        elif ":" in s:
            kind = "prefixed"
            valid = bool(_re.match(r"^[^\s:]+:\S+$", s))
        else:
            kind = "unprefixed"
            valid = bool(s) and bool(_re.match(r"^\S+$", s))
        agg[(kind, valid)] += 1
    rows = [(k, v, n) for (k, v), n in sorted(agg.items())]
    return _values_sql(rows, ["kind", "valid", "n"])

def q_obo_owl_axioms(spark: SparkSession, sf: str) -> DataFrame:
    """dump_owl parity (best-effort OBO→OWL2-DL mapping like the
    reference's experimental fastobo-owl path): axiom counts per kind,
    format-parametrized — the functional ('ofn') and OWL/XML ('owx')
    renderers must agree axiom for axiom (reference accepts both,
    src/py/mod.rs:464-511)."""
    from fastobo_py_spark.operators.owl import owl_axioms, owl_axioms_owx, owl_axioms_rdf

    cl = _clauses(spark)
    fn = (
        owl_axioms(cl)
        .groupBy(F.substring_index("axiom", "(", 1).alias("kind"))
        .agg(F.count("*").alias("n_axioms"))
    )
    owx = owl_axioms_owx(cl).groupBy("kind").agg(F.count("*").alias("n_axioms_owx"))
    rdf = owl_axioms_rdf(cl).groupBy("kind").agg(F.count("*").alias("n_axioms_rdf"))
    return fn.join(owx, "kind", "full_outer").join(rdf, "kind", "full_outer").orderBy("kind")


def sql_obo_owl_axioms() -> str:
    from collections import Counter

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    counts: Counter = Counter()
    for c in clauses:
        ftype, fid, tag = c[3], c[3 + 1], c[3 + 4]
        v1, v2, vt = c[3 + 5], c[3 + 6], c[3 + 7]
        if ftype == "Header" or not fid:
            continue
        if tag == "id":
            counts["Declaration"] += 1
        elif tag == "instance_of" and v1:
            counts["ClassAssertion"] += 1
        elif tag == "name" and vt is not None:
            counts["AnnotationAssertion"] += 1
        elif tag == "def" and vt is not None:
            counts["AnnotationAssertion"] += 1
        elif tag == "is_obsolete" and v1 == "true":
            counts["AnnotationAssertion"] += 1
        elif tag == "is_a" and v1:
            counts["SubObjectPropertyOf" if ftype == "Typedef" else "SubClassOf"] += 1
        elif tag == "relationship" and v1 and v2:
            counts["SubClassOf"] += 1
    rows = [(k, n, n, n) for k, n in sorted(counts.items())]
    return _values_sql(rows, ["kind", "n_axioms", "n_axioms_owx", "n_axioms_rdf"])

def q_obo_obsolete_unreplaced(spark: SparkSession, sf: str) -> DataFrame:
    """Obsolete-without-replacement audit (the reference's validation
    pattern, ``docs/examples/obsolete.ipynb`` cell 4): obsolete frames
    lacking a hard ``replaced_by`` redirect, with ``consider``-only
    advisories classed separately from fully dangling obsoletes."""
    from fastobo_py_spark.operators.materialize import build_nodes

    nodes = build_nodes(_clauses(spark))
    status = (
        F.when(F.size("replaced_by") > 0, F.lit("replaced"))
        .when(F.size("consider") > 0, F.lit("consider_only"))
        .otherwise(F.lit("unreplaced"))
    )
    return (
        nodes.where(F.col("obsolete"))
        .select("id", status.alias("status"))
        .where(F.col("status") != "replaced")
        .orderBy("id")
    )


def sql_obo_obsolete_unreplaced() -> str:
    from collections import defaultdict

    from fastobo_py_spark import oracle
    from fastobo_py_spark.sources.corpus import generate_corpus

    clauses, _ = oracle.parse_rows(generate_corpus(**_CORPUS_KW))
    obs = set()
    repl: dict = defaultdict(set)
    cons: dict = defaultdict(set)
    for c in clauses:
        sha, ftype, fid, tag, v1 = c[0], c[3], c[3 + 1], c[3 + 4], c[3 + 5]
        if ftype == "Header" or not fid:
            continue
        key = (sha, fid)
        if tag == "is_obsolete" and v1 == "true":
            obs.add(key)
        elif tag == "replaced_by" and v1:
            repl[key].add(v1)
        elif tag == "consider" and v1:
            cons[key].add(v1)
    rows = sorted(
        (k[1], "consider_only" if cons[k] else "unreplaced") for k in obs if not repl[k]
    )
    return _values_sql(rows, ["id", "status"])


QUERIES.update(
    {
        "obo_creation_dates": q_obo_creation_dates,
        "obo_frame_dicts": q_obo_frame_dicts,
        "obo_missing_clauses": q_obo_missing_clauses,
        "obo_ident_validity": q_obo_ident_validity,
        "obo_owl_axioms": q_obo_owl_axioms,
        "obo_obsolete_unreplaced": q_obo_obsolete_unreplaced,
    }
)
_GENERATED_ORACLES.update(
    {
        "obo_creation_dates": sql_obo_creation_dates,
        "obo_frame_dicts": sql_obo_frame_dicts,
        "obo_missing_clauses": sql_obo_missing_clauses,
        "obo_ident_validity": sql_obo_ident_validity,
        "obo_owl_axioms": sql_obo_owl_axioms,
        "obo_obsolete_unreplaced": sql_obo_obsolete_unreplaced,
    }
)
