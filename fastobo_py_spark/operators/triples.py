"""O5: triple extraction — clause rows → (subj, pred, obj) edges.

Reproduces the reference's documented KG-construction scan
(``docs/examples/graph.ipynb`` cell 5: ``isinstance(clause, IsAClause)``
→ DiGraph edge) plus the other edge-bearing clause types, as one
filter+project plan — whole-stage codegen end to end, no UDFs:

  tag            reference semantics                         pred
  ----           -----------------------------------------   ----
  is_a           single parent ident (term/clause.rs:1067)    'is_a'
  relationship   typedef + target (term/clause.rs:1479)       v1 (relation)
  intersection_of genus (no rel) / differentia (rel+class)    'intersection_of:genus'
                 (term/clause.rs:1135-1244)                   / 'intersection_of:<rel>'
  union_of       class ident (term/clause.rs:1256)            'union_of'
  equivalent_to  class ident (term/clause.rs:1330)            'equivalent_to'
  disjoint_from  class ident (term/clause.rs:1404)            'disjoint_from'
  xref           foreign id (term/clause.rs:826)              'xref'
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastobo_py_spark.operators.idents import edge_idspace

# tags whose object is v1 and whose predicate is the tag itself
_SIMPLE_EDGE_TAGS = ("is_a", "union_of", "equivalent_to", "disjoint_from", "xref")


def edge_case_exprs():
    """(pred, obj, valid) case expressions over a clause row — shared by
    :func:`extract_edges` and the macro-fused single-pass variant
    (canonicalize.extract_edges_with_macros)."""
    t, v1, v2 = F.col("tag"), F.col("v1"), F.col("v2")
    pred = (
        F.when(t == "relationship", v1)
        .when(
            t == "intersection_of",
            F.when(v1.isNull(), F.lit("intersection_of:genus")).otherwise(F.concat(F.lit("intersection_of:"), v1)),
        )
        .otherwise(t)
    )
    obj = F.when(t.isin("relationship", "intersection_of"), v2).otherwise(v1)
    # empty-string values are NOT edges: an empty ident is not a vertex
    # (the lenient parser emits v1='' for `is_a: ` lines; the pure-Python
    # oracle's truthiness check has always dropped them — isNotNull alone
    # diverged on exactly those rows)
    nonempty = lambda c: c.isNotNull() & (c != "")
    valid = (
        F.when(t == "relationship", nonempty(v1) & nonempty(v2))
        .when(t == "intersection_of", nonempty(v2))
        .otherwise(nonempty(v1))
    )
    return pred, obj, valid


def extract_edges(clauses: DataFrame, include_xrefs: bool = True) -> DataFrame:
    """Entity clause rows → edge table (EDGE_SCHEMA).

    SINGLE scan of the clause table: each row maps to its (pred, obj)
    through one case expression (a union-of-projections formulation costs
    one cache scan per branch — measured on a 37M-row cached table).
    """
    simple_tags = [t for t in _SIMPLE_EDGE_TAGS if include_xrefs or t != "xref"]
    t = F.col("tag")
    ent = clauses.where(
        (F.col("frame_type") != "Header")
        & (F.col("frame_id") != "")
        & t.isin(simple_tags + ["relationship", "intersection_of"])
    )
    pred, obj, valid = edge_case_exprs()
    edges = ent.where(valid).select(
        F.col("frame_id").alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        t.alias("src_tag"),
        "doc_sha",
    )
    return edges.withColumn("idspace", edge_idspace(F.col("subj")))
