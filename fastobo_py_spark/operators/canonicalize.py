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
from pyspark.sql import functions as F

from fastobo_py_spark.operators.idents import edge_idspace, ident_prefix
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

    n = int(dims.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cols = [key_col, "frame_type", "frame_id", "tag", "v1", "frame_ix", "clause_ix"]
    hdr = F.col("frame_type") == "Header"
    # xref rows dominate the dims volume but only those covered by a
    # treat-xrefs-as-equivalent macro ever matter — filter them with a
    # vectorized JVM semi-join BEFORE anything reaches Python (looping
    # every xref row through the kernel cost more than the whole edge job)
    eq_hdr = dims.where(hdr & (F.col("tag") == "treat-xrefs-as-equivalent"))
    spaces = eq_hdr.select(F.col(key_col).alias("__d"), F.col("v1").alias("__space")).hint(
        "shuffle_hash"
    )
    xr = dims.where(~hdr & (F.col("tag") == "xref"))
    xr_kept = xr.join(
        spaces, (xr[key_col] == F.col("__d")) & (ident_prefix(xr["v1"]) == F.col("__space")), "left_semi"
    )
    small = dims.where(~hdr & F.col("tag").isin("alt_id", "replaced_by", "equivalent_to"))
    proj = eq_hdr.select(*cols).unionByName(small.select(*cols)).unionByName(xr_kept.select(*cols))
    key_type = "bigint" if key_col == "doc_key" else "string"
    return proj.repartition(n, key_col).mapInPandas(
        kernel, f"{key_col} {key_type}, old string, new string"
    )


def rewrite_edges(edges: DataFrame, resolution: DataFrame, key_col: str) -> DataFrame:
    """Canonicalize edge endpoints via the pre-composed ``(key_col, old,
    new)`` map — one equi-join per endpoint.

    Zero probe jobs, zero broadcasts: both join keys lead with the
    document key, and the edge side is already hash-partitioned on it (the
    clause cache contract), so each shuffle-hash join co-locates without
    exchanging the edge table — only the map side shuffles.
    """
    m = resolution.hint("shuffle_hash")
    ms = m.withColumnRenamed("old", "__ks").withColumnRenamed("new", "__vs").withColumnRenamed(key_col, "__ds")
    mo = m.withColumnRenamed("old", "__ko").withColumnRenamed("new", "__vo").withColumnRenamed(key_col, "__do")
    return (
        edges.join(ms, (F.col(key_col) == F.col("__ds")) & (F.col("subj") == F.col("__ks")), "left")
        .withColumn("subj", F.coalesce(F.col("__vs"), F.col("subj")))
        .drop("__ks", "__vs", "__ds")
        .join(mo, (F.col(key_col) == F.col("__do")) & (F.col("obj") == F.col("__ko")), "left")
        .withColumn("obj", F.coalesce(F.col("__vo"), F.col("obj")))
        .drop("__ko", "__vo", "__do")
    )


# ---------------------------------------------------------------------------
# O11: treat-xrefs header macros
# ---------------------------------------------------------------------------

def macro_table(clauses: DataFrame, doc_col: str = "doc_sha") -> DataFrame:
    """Normalize all treat-xrefs-* header clauses into one macro dim:
    (doc_col, kind, macro_idspace, rel, filler). ``doc_col`` is the
    document key the dim joins on — ``doc_sha`` (string spine) or
    ``doc_key`` (the BIGINT surrogate spine, operators/surrogate.py)."""
    hdr = clauses.where(F.col("frame_type") == "Header")
    simple = hdr.where(
        F.col("tag").isin("treat-xrefs-as-equivalent", "treat-xrefs-as-is_a", "treat-xrefs-as-has-subclass")
    ).select(
        doc_col,
        F.col("tag").alias("kind"),
        F.col("v1").alias("macro_idspace"),
        F.lit(None).cast("string").alias("rel"),
        F.lit(None).cast("string").alias("filler"),
    )
    rel = hdr.where(F.col("tag") == "treat-xrefs-as-relationship").select(
        doc_col,
        F.col("tag").alias("kind"),
        F.col("v1").alias("macro_idspace"),
        F.col("v2").alias("rel"),
        F.lit(None).cast("string").alias("filler"),
    )
    gd = hdr.where(
        F.col("tag").isin("treat-xrefs-as-genus-differentia", "treat-xrefs-as-reverse-genus-differentia")
    ).select(
        doc_col,
        F.col("tag").alias("kind"),
        F.col("v1").alias("macro_idspace"),
        F.col("v2").alias("rel"),
        F.col("value_text").alias("filler"),
    )
    return simple.unionByName(rel).unionByName(gd)


def _macro_emit(kind, rel, filler, s, x):
    """Edges a (kind, rel, filler) macro synthesizes from an xref (s → x),
    per macro kind (O11):

      equivalent        → (s, 'equivalent_to', x)
      is_a              → (s, 'is_a', x)
      has-subclass      → (x, 'is_a', s)          [reversed]
      relationship(rel) → (s, rel, x)
      genus-differentia(rel, filler)
                        → (s, 'intersection_of:genus', x)
                          + (s, 'intersection_of:<rel>', filler)
      reverse-genus-differentia
                        → (x, 'intersection_of:genus', s)
                          + (x, 'intersection_of:<rel>', filler)
    """
    pair = lambda subj, pred, obj: F.struct(
        subj.alias("s"), pred.alias("p"), obj.alias("o"), F.lit("xref-macro").alias("st")
    )
    return (
        F.when(kind == "treat-xrefs-as-equivalent", F.array(pair(s, F.lit("equivalent_to"), x)))
        .when(kind == "treat-xrefs-as-is_a", F.array(pair(s, F.lit("is_a"), x)))
        .when(kind == "treat-xrefs-as-has-subclass", F.array(pair(x, F.lit("is_a"), s)))
        .when(kind == "treat-xrefs-as-relationship", F.array(pair(s, rel, x)))
        .when(
            kind == "treat-xrefs-as-genus-differentia",
            F.array(
                pair(s, F.lit("intersection_of:genus"), x),
                pair(s, F.concat(F.lit("intersection_of:"), rel), filler),
            ),
        )
        .when(
            kind == "treat-xrefs-as-reverse-genus-differentia",
            F.array(
                pair(x, F.lit("intersection_of:genus"), s),
                pair(x, F.concat(F.lit("intersection_of:"), rel), filler),
            ),
        )
        .otherwise(F.array())
    )


def extract_edges_with_macros(
    clauses: DataFrame,
    macro_source: DataFrame | None = None,
    key_col: str = "doc_sha",
) -> DataFrame:
    """Single-pass triple extraction WITH treat-xrefs macro synthesis.

    ``extract_edges(...).unionByName(synthesized)`` loses the clause
    cache's document-key hash partitioning (UnionExec concatenates partitions),
    which re-introduces a full edge-table exchange at the final dedup.
    Fusing the macro join INTO the extraction pass — left-join each xref
    row against the per-(doc, idspace) macro dim, then ONE explode emits
    the base edge plus any synthesized ones — keeps the whole chain on
    the cache's partitioning: zero edge-table exchanges end to end.
    """
    from fastobo_py_spark.operators.triples import _SIMPLE_EDGE_TAGS, edge_case_exprs

    t, v1 = F.col("tag"), F.col("v1")
    fid = F.col("frame_id")
    ent = clauses.where(
        (F.col("frame_type") != "Header")
        & (fid != "")
        & t.isin(list(_SIMPLE_EDGE_TAGS) + ["relationship", "intersection_of"])
    )
    pred, obj, valid = edge_case_exprs()
    base = F.when(
        valid,
        F.array(F.struct(fid.alias("s"), pred.alias("p"), obj.alias("o"), t.alias("st"))),
    ).otherwise(F.array())

    # Direct left join to the macro dim (NOT aggregated into per-idspace
    # arrays): transform/flatten higher-order functions fall out of
    # whole-stage codegen and cost ~10x per row on the 14M-row hot path.
    # Several macros on one idspace duplicate the matched xref row — each
    # duplicate re-emits the base edge, which the end-of-chain dedup
    # removes; pure CaseWhen/CreateArray keeps
    # the whole emission inside codegen.
    mspace = (
        macro_table(clauses if macro_source is None else macro_source, doc_col=key_col)
        .withColumnRenamed(key_col, "__d")
        .hint("shuffle_hash")
    )

    joined = ent.join(
        mspace,
        (ent[key_col] == mspace["__d"]) & (t == "xref") & (ident_prefix(v1) == mspace["macro_idspace"]),
        "left",
    )
    synth = _macro_emit(F.col("kind"), F.col("rel"), F.col("filler"), fid, v1)
    edges = joined.select(key_col, F.explode(F.concat(base, synth)).alias("e")).select(
        F.col("e.s").alias("subj"),
        F.col("e.p").alias("pred"),
        F.col("e.o").alias("obj"),
        F.col("e.st").alias("src_tag"),
        key_col,
    )
    return edges.withColumn("idspace", edge_idspace(F.col("subj")))
