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

from fastobo_py_spark.operators.idents import edge_idspace_sql
from fastobo_py_spark.session import sql_over

# tags whose object is v1 and whose predicate is the tag itself
_SIMPLE_EDGE_TAGS = ("is_a", "union_of", "equivalent_to", "disjoint_from", "xref")


def sql_list(values) -> str:
    """SQL ``IN`` list of string literals."""
    return ", ".join(f"'{v}'" for v in values)


def edge_clause_filter(tags=_SIMPLE_EDGE_TAGS) -> str:
    """SQL predicate selecting the entity clause rows that can bear an edge."""
    tags = sql_list(list(tags) + ["relationship", "intersection_of"])
    return f"NOT frame_type = 'Header' AND NOT frame_id = '' AND tag IN ({tags})"


# (pred, obj, valid) of a clause row as SQL text — shared by
# :func:`extract_edges` and the macro-fused single-pass variant
# (canonicalize.extract_edges_with_macros). Empty-string values are NOT
# edges: an empty ident is not a vertex (the lenient parser emits v1='' for
# `is_a: ` lines; the pure-Python oracle's truthiness check has always
# dropped them — IS NOT NULL alone diverged on exactly those rows).
EDGE_PRED = (
    "CASE WHEN tag = 'relationship' THEN v1"
    " WHEN tag = 'intersection_of' THEN"
    " CASE WHEN v1 IS NULL THEN 'intersection_of:genus' ELSE concat('intersection_of:', v1) END"
    " ELSE tag END"
)
EDGE_OBJ = "CASE WHEN tag IN ('relationship', 'intersection_of') THEN v2 ELSE v1 END"
_V1, _V2 = "(v1 IS NOT NULL AND NOT v1 = '')", "(v2 IS NOT NULL AND NOT v2 = '')"
EDGE_VALID = f"CASE WHEN tag = 'relationship' THEN {_V1} AND {_V2} WHEN tag = 'intersection_of' THEN {_V2} ELSE {_V1} END"


def extract_edges(clauses: DataFrame, include_xrefs: bool = True) -> DataFrame:
    """Entity clause rows → edge table (EDGE_SCHEMA).

    SINGLE scan of the clause table: each row maps to its (pred, obj)
    through one case expression (a union-of-projections formulation costs
    one cache scan per branch — measured on a 37M-row cached table).
    """
    tags = [t for t in _SIMPLE_EDGE_TAGS if include_xrefs or t != "xref"]
    return sql_over(
        clauses.sparkSession,
        f"SELECT frame_id AS subj, {EDGE_PRED} AS pred, {EDGE_OBJ} AS obj, tag AS src_tag, doc_sha,"
        f" {edge_idspace_sql('frame_id')} AS idspace"
        f" FROM {{clauses}} WHERE {edge_clause_filter(tags)} AND {EDGE_VALID}",
        clauses=clauses,
    )
