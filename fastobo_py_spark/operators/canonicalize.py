"""O8/O9/O11: entity canonicalization — alias merge, obsolete redirect,
treat-xrefs macro rewrites.

Reference semantics being reproduced:
  * ``alt_id:`` declares alternate ids for a frame
    (``/root/reference/src/py/term/clause.rs:403-410``) → rewrite any
    subj/obj that is an alt_id to its canonical frame id.
  * ``is_obsolete`` + ``replaced_by`` (hard redirect) / ``consider``
    (advisory only) (``term/clause.rs:1564,1630,1705``; validation
    pattern in ``docs/examples/obsolete.ipynb`` cell 4) → rewrite edge
    endpoints pointing at obsolete terms to their replacement.
  * ``treat-xrefs-as-is_a`` / ``-as-relationship(rel)`` /
    ``-as-genus-differentia(rel, filler)`` / reverse / ``-as-has-subclass``
    header macros (``header/clause.rs:1283-1642``) → synthesize edges from
    xref rows whose object prefix matches the macro idspace.

Scale notes: the alias and redirect maps are proportional to the number of
*declared aliases*, orders of magnitude smaller than the edge table; macro
lists are per-document header metadata. One composition of the three
(:func:`plans.pipeline.canonical_edges`): the resolution map and the
equivalence labels come out of one partition-wide kernel
(:func:`combined_map_distributed`), the macros fuse into the extraction
pass (:func:`extract_edges_with_macros`), and every dim joins the clause
cache's document-key hash partitioning as a shuffle-hash join — zero
exchanges of the edge table and zero driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from fastobo_py_spark.operators.idents import edge_idspace_sql, ident_prefix_sql
from fastobo_py_spark.operators.triples import (
    EDGE_OBJ,
    EDGE_PRED,
    EDGE_VALID,
    edge_clause_filter,
    sql_list,
)
from fastobo_py_spark.session import sql_over
from fastobo_py_spark.worker import prune_zip_importers


def combined_map_distributed(
    dims: DataFrame, max_hops: int = 3, key_col: str = "doc_sha"
) -> DataFrame:
    """The FUSED canonicalization map — alias/obsolete resolution composed
    with equivalence component labels — in ONE exchange + ONE
    partition-wide kernel.

    ``key_col`` is the document key the kernel shards and emits on:
    ``doc_sha`` (string spine) or ``doc_key`` (the BIGINT surrogate,
    operators/surrogate.py) — the surrogate also shrinks the Arrow
    transfer into the kernel by ~80 bytes/row.

    Per document, the map composes:

    * resolution ``res``: an ``alt_id`` maps to its frame (first
      declaration in document order wins), then ``max_hops``
      ``replaced_by`` redirects apply (first declared target wins);
    * equivalence labels ``comp``: union-find over the ``equivalent_to``
      clauses plus the xrefs a ``treat-xrefs-as-equivalent`` macro covers,
      endpoints taken through ``res`` first, each component labelled by
      its smallest member (:class:`components.MinUnionFind`);
    * ``combined(x) = comp(res(x)) ?? res(x)`` where ``res`` is defined,
      else ``comp(x)``; identity entries are dropped.

    ``oracle.build_canonical_maps`` is the pure-Python statement of the
    same map, and the tests pin the kernel to it row for row. Every
    per-document step runs inside one Python call per partition, so the
    dim tables pay one stage boundary instead of a chain of kilobyte-
    sized joins; doc-locality comes from the explicit ``key_col``
    repartition.
    """
    import re

    import pandas as pd

    url_re = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

    def py_prefix(s: str):
        # mirrors idents.ident_prefix: prefix of a PREFIXED ident else None
        if url_re.match(s) or ":" not in s:
            return None
        return s.split(":", 1)[0]

    def kernel(batches):
        prune_zip_importers()
        docs: dict = {}
        for pdf in batches:
            for sha, ftype, fid, tag, v1, fix, cix in zip(
                pdf[key_col], pdf["frame_type"], pdf["frame_id"],
                pdf["tag"], pdf["v1"], pdf["frame_ix"], pdf["clause_ix"],
            ):
                if v1 is None:
                    continue
                d = docs.get(sha)
                if d is None:
                    d = docs[sha] = {"alias": {}, "repl": {}, "pairs": [], "xrefs": [], "spaces": set()}
                if ftype == "Header":
                    if tag == "treat-xrefs-as-equivalent":
                        d["spaces"].add(v1)
                elif fid:
                    if tag == "alt_id":
                        # first in DOCUMENT order wins (the oracle's
                        # parse-order rule) — partition arrival order
                        # after the shuffle is not deterministic, so
                        # track the key
                        cur = d["alias"].get(v1)
                        if cur is None or (fix, cix) < cur[1]:
                            d["alias"][v1] = (fid, (fix, cix))
                    elif tag == "replaced_by":
                        cur = d["repl"].get(fid)
                        if cur is None or (fix, cix) < cur[1]:
                            # first declared in DOCUMENT order (same
                            # tiebreak as alias handling above)
                            d["repl"][fid] = (v1, (fix, cix))
                    elif tag == "equivalent_to":
                        d["pairs"].append((fid, v1))
                    elif tag == "xref":
                        d["xrefs"].append((fid, v1))
        out: list[tuple] = []
        for sha, d in docs.items():
            repl = {k: v[0] for k, v in d["repl"].items()}
            # strip the (frame_ix, clause_ix) tiebreak keys; alias wins
            # over a same-key replacement
            res = {k: v[0] for k, v in d["alias"].items()}
            for k in repl:
                res.setdefault(k, k)
            for _ in range(max_hops):
                for k in res:
                    res[k] = repl.get(res[k], res[k])
            res = {k: v for k, v in res.items() if k != v}

            pairs = list(d["pairs"])
            if d["spaces"]:
                for fid, x in d["xrefs"]:
                    if py_prefix(x) in d["spaces"]:
                        pairs.append((fid, x))
            from fastobo_py_spark.operators.components import MinUnionFind

            uf = MinUnionFind()
            verts = set()
            for a, b in pairs:
                a, b = res.get(a, a), res.get(b, b)
                verts.add(a)
                verts.add(b)
                uf.union(a, b)
            comp = {v: uf.find(v) for v in verts}

            for old, new in res.items():
                final = comp.get(new, new)
                if old != final:
                    out.append((sha, old, final))
            for v, c in comp.items():
                if v not in res and v != c:
                    out.append((sha, v, c))
        if out:
            yield pd.DataFrame(out, columns=[key_col, "old", "new"])

    spark = dims.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = (key_col, "frame_type", "frame_id", "tag", "v1", "frame_ix", "clause_ix")
    eq_hdr = "frame_type = 'Header' AND tag = 'treat-xrefs-as-equivalent'"
    # xref rows dominate the dims volume but only those covered by a
    # treat-xrefs-as-equivalent macro ever matter — filter them with a
    # vectorized JVM semi-join BEFORE anything reaches Python (looping
    # every xref row through the kernel cost more than the whole edge job)
    proj = sql_over(
        spark,
        f"SELECT /*+ REPARTITION({n}, {key_col}) */ * FROM ("
        f" SELECT {', '.join(cols)} FROM {{dims}}"
        f" WHERE ({eq_hdr}) OR (NOT frame_type = 'Header' AND tag IN ('alt_id', 'replaced_by', 'equivalent_to'))"
        f" UNION ALL"
        f" SELECT /*+ SHUFFLE_HASH(s) */ {', '.join('x.' + c for c in cols)}"
        f" FROM (SELECT * FROM {{dims}} WHERE NOT frame_type = 'Header' AND tag = 'xref') x"
        f" LEFT SEMI JOIN (SELECT {key_col} AS __d, v1 AS __space FROM {{dims}} WHERE {eq_hdr}) s"
        f" ON x.{key_col} = s.__d AND {ident_prefix_sql('x.v1')} = s.__space)",
        dims=dims,
    )
    key_type = "bigint" if key_col == "doc_key" else "string"
    return proj.mapInPandas(kernel, f"{key_col} {key_type}, old string, new string")


def rewrite_edges_sql(key_col: str, edges: str, resolution: str) -> str:
    """SQL text that canonicalizes the endpoints of the relation ``edges``
    via the pre-composed ``(key_col, old, new)`` relation ``resolution`` —
    one equi-join per endpoint; yields ``subj, pred, obj, src_tag,
    key_col``. The dedup stage (``plans.pipeline._dedup_edges``) reads it
    as a subquery, so rewrite and dedup are analysed as one statement.

    Zero probe jobs, zero broadcasts: both join keys lead with the
    document key, and the edge side is already hash-partitioned on it (the
    clause cache contract), so each shuffle-hash join co-locates without
    exchanging the edge table — only the map side shuffles.
    """
    return (
        "SELECT /*+ SHUFFLE_HASH(ms), SHUFFLE_HASH(mo) */"
        f" coalesce(ms.new, e.subj) AS subj, e.pred, coalesce(mo.new, e.obj) AS obj, e.src_tag, e.{key_col}"
        f" FROM {edges} e"
        f" LEFT JOIN {resolution} ms ON e.{key_col} = ms.{key_col} AND e.subj = ms.old"
        f" LEFT JOIN {resolution} mo ON e.{key_col} = mo.{key_col} AND e.obj = mo.old"
    )


# ---------------------------------------------------------------------------
# O11: treat-xrefs header macros
# ---------------------------------------------------------------------------

_MACRO_SIMPLE = ("treat-xrefs-as-equivalent", "treat-xrefs-as-is_a", "treat-xrefs-as-has-subclass")
_MACRO_GD = ("treat-xrefs-as-genus-differentia", "treat-xrefs-as-reverse-genus-differentia")
_MACRO_REL = ("treat-xrefs-as-relationship",) + _MACRO_GD


def macro_table_sql(doc_col: str, src: str) -> str:
    """SQL text of the macro dim: every treat-xrefs-* header clause of the
    relation ``src`` as (doc_col, kind, macro_idspace, rel, filler), in one
    filter over the header rows; ``rel`` and ``filler`` are NULL for the
    kinds that take none. ``doc_col`` is the document key the dim joins on
    — ``doc_sha`` (string spine) or ``doc_key`` (the BIGINT surrogate
    spine, operators/surrogate.py)."""
    return (
        f"SELECT {doc_col}, tag AS kind, v1 AS macro_idspace,"
        f" CASE WHEN tag IN ({sql_list(_MACRO_REL)}) THEN v2 END AS rel,"
        f" CASE WHEN tag IN ({sql_list(_MACRO_GD)}) THEN value_text END AS filler"
        f" FROM {src} WHERE frame_type = 'Header'"
        f" AND tag IN ({sql_list(_MACRO_SIMPLE + _MACRO_REL)})"
    )


def _edge(s: str, p: str, o: str, st: str) -> str:
    return f"named_struct('s', {s}, 'p', {p}, 'o', {o}, 'st', {st})"


# Edges a (kind, rel, filler) macro synthesizes from an xref (s → x), per
# macro kind (O11), as SQL text over the joined row (frame_id = s, v1 = x):
#
#   equivalent        → (s, 'equivalent_to', x)
#   is_a              → (s, 'is_a', x)
#   has-subclass      → (x, 'is_a', s)          [reversed]
#   relationship(rel) → (s, rel, x)
#   genus-differentia(rel, filler)
#                     → (s, 'intersection_of:genus', x)
#                       + (s, 'intersection_of:<rel>', filler)
#   reverse-genus-differentia
#                     → (x, 'intersection_of:genus', s)
#                       + (x, 'intersection_of:<rel>', filler)
_MACRO_TAG = "'xref-macro'"
_MACRO_EDGES = (
    ("treat-xrefs-as-equivalent", [("frame_id", "'equivalent_to'", "v1")]),
    ("treat-xrefs-as-is_a", [("frame_id", "'is_a'", "v1")]),
    ("treat-xrefs-as-has-subclass", [("v1", "'is_a'", "frame_id")]),
    ("treat-xrefs-as-relationship", [("frame_id", "rel", "v1")]),
    ("treat-xrefs-as-genus-differentia", [
        ("frame_id", "'intersection_of:genus'", "v1"),
        ("frame_id", "concat('intersection_of:', rel)", "filler"),
    ]),
    ("treat-xrefs-as-reverse-genus-differentia", [
        ("v1", "'intersection_of:genus'", "frame_id"),
        ("v1", "concat('intersection_of:', rel)", "filler"),
    ]),
)
_MACRO_EMIT = (
    "CASE"
    + "".join(
        f" WHEN kind = '{kind}' THEN array({', '.join(_edge(*e, _MACRO_TAG) for e in edges)})"
        for kind, edges in _MACRO_EDGES
    )
    + " ELSE array() END"
)


def extract_edges_with_macros(
    clauses: DataFrame,
    macro_source: DataFrame | None = None,
    key_col: str = "doc_sha",
) -> DataFrame:
    """Single-pass triple extraction WITH treat-xrefs macro synthesis, as
    one ``spark.sql`` stage.

    ``extract_edges(...).unionByName(synthesized)`` loses the clause
    cache's document-key hash partitioning (UnionExec concatenates partitions),
    which re-introduces a full edge-table exchange at the final dedup.
    Fusing the macro join INTO the extraction pass — left-join each xref
    row against the per-(doc, idspace) macro dim, then ONE explode emits
    the base edge plus any synthesized ones — keeps the whole chain on
    the cache's partitioning: zero edge-table exchanges end to end.

    Direct left join to the macro dim (NOT aggregated into per-idspace
    arrays): transform/flatten higher-order functions fall out of
    whole-stage codegen and cost ~10x per row on the 14M-row hot path.
    Several macros on one idspace duplicate the matched xref row — each
    duplicate re-emits the base edge, which the end-of-chain dedup
    removes; pure CaseWhen/CreateArray keeps the whole emission inside
    codegen.
    """
    base = f"CASE WHEN {EDGE_VALID} THEN array({_edge('frame_id', EDGE_PRED, EDGE_OBJ, 'tag')}) ELSE array() END"
    macros = macro_table_sql(key_col, "{macros}")
    return sql_over(
        clauses.sparkSession,
        f"SELECT e.s AS subj, e.p AS pred, e.o AS obj, e.st AS src_tag, {key_col},"
        f" {edge_idspace_sql('e.s')} AS idspace"
        f" FROM (SELECT /*+ SHUFFLE_HASH(m) */ c.{key_col}, explode(concat({base}, {_MACRO_EMIT})) AS e"
        f" FROM (SELECT * FROM {{clauses}} WHERE {edge_clause_filter()}) c"
        f" LEFT JOIN (SELECT {key_col} AS __d, kind, macro_idspace, rel, filler FROM ({macros}) t) m"
        f" ON c.{key_col} = m.__d AND c.tag = 'xref' AND {ident_prefix_sql('c.v1')} = m.macro_idspace)",
        clauses=clauses,
        macros=clauses if macro_source is None else macro_source,
    )
