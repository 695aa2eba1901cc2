"""Single-node pure-Python oracle for the KG pipeline.

An INDEPENDENT implementation of the downstream semantics (triple
extraction, macro rewrites, alias/obsolete canonicalization, equivalence
closure) using plain dicts and union-find — no DataFrames. The Spark
pipeline's broadcast joins and iterative CC fixpoint are checked against
this at test time: same corpus in, identical (subj, pred, obj) sets out.

It shares only the line parser with the engine (both must agree on the
grammar — that part is checked against the reference's own fixtures:
ms.obo == 2941 frames); everything downstream is written twice on purpose.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from fastobo_py_spark.obo.parser import CLAUSE_FIELDS, ParseError, parse_document

_IX = {f: i for i, f in enumerate(CLAUSE_FIELDS)}


_SNIFF_RE = None


def is_obo_row(row) -> bool:
    """Same O1 predicate as operators.parse.is_obo_document: line-anchored
    format-version / frame header anywhere in the first 64 KB (the engine
    moved off the bracket-free-prefix sniff; this mirror must track it or
    the two sides select different document sets)."""
    global _SNIFF_RE
    if row.get("lang") == "OBO":
        return True
    if _SNIFF_RE is None:
        _SNIFF_RE = re.compile(r"^\s*(format-version:|\[(Term|Typedef|Instance)\])", re.M)
    return bool(_SNIFF_RE.search((row.get("content") or "")[:65536]))


def parse_rows(corpus_rows):
    """corpus rows → (clause_rows, quarantine) the slow, obvious way."""
    clauses, quarantine = [], []
    for r in corpus_rows:
        if not is_obo_row(r):
            continue
        content = r.get("content")
        if content is None and r.get("content_gz") is not None:
            # the engine's gzip adapter path (parse.py kernel): corrupt
            # payloads quarantine keyed on sha256 of the compressed bytes
            import gzip

            try:
                content = gzip.decompress(bytes(r["content_gz"])).decode("utf-8")
            except Exception as e:
                sha = hashlib.sha256(bytes(r["content_gz"])).hexdigest()
                quarantine.append((sha, r["repo"], r["path"], type(e).__name__, str(e), None))
                continue
        if content is None:
            continue  # lang-tagged row with no payload: engine skips it too
        sha = hashlib.sha256(content.encode()).hexdigest()
        try:
            rows = parse_document(content)
            if not any(t[0] != "Header" or t[4] == "format-version" for t in rows):
                raise ParseError("no frames and no format-version header: not an OBO document", 1)
        except ParseError as e:
            quarantine.append((sha, r["repo"], r["path"], "SyntaxError", str(e), e.line_no))
            continue
        for t in rows:
            clauses.append((sha, r["repo"], r["path"]) + t)
    return clauses, quarantine


_URL_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _prefix(ident):
    """Idspace prefix — same dispatch as operators.idents.ident_prefix."""
    if ident is None or _URL_RE.match(ident):
        return None
    return ident.split(":", 1)[0] if ":" in ident else None


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = self.parent.setdefault(p, p)
            x = self.parent[x]
            p = self.parent.setdefault(x, x)
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-id representative to match the Spark CC's min() convention
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def build_edges(corpus_rows, canonicalize=True, apply_macros=True):
    """corpus rows → sorted list of (subj, pred, obj, src_tag, doc_sha).

    Mirrors ``plans.pipeline.canonical_edges`` (extraction, treat-xrefs
    macros, alias/obsolete rewrite, equivalence CC, per-doc dedup),
    implemented sequentially edge by edge.
    """
    clauses, _ = parse_rows(corpus_rows)
    by_doc = defaultdict(list)
    for c in clauses:
        by_doc[c[0]].append(c)

    all_edges = []
    for sha, rows in by_doc.items():
        ftype = lambda r: r[3]
        tag = lambda r: r[3 + _IX["tag"]]
        fid = lambda r: r[3 + _IX["frame_id"]]
        v1 = lambda r: r[3 + _IX["v1"]]
        v2 = lambda r: r[3 + _IX["v2"]]
        vt = lambda r: r[3 + _IX["value_text"]]

        ent = [r for r in rows if r[3] != "Header" and fid(r)]
        hdr = [r for r in rows if r[3] == "Header"]

        edges = []
        for r in ent:
            t = tag(r)
            if t in ("is_a", "union_of", "equivalent_to", "disjoint_from", "xref") and v1(r):
                edges.append((fid(r), t, v1(r), t))
            elif t == "relationship" and v1(r) and v2(r):
                edges.append((fid(r), v1(r), v2(r), "relationship"))
            elif t == "intersection_of" and v2(r):
                pred = "intersection_of:genus" if v1(r) is None else f"intersection_of:{v1(r)}"
                edges.append((fid(r), pred, v2(r), "intersection_of"))

        # treat-xrefs macros
        macros = []
        for r in hdr:
            t = tag(r)
            if t in ("treat-xrefs-as-equivalent", "treat-xrefs-as-is_a", "treat-xrefs-as-has-subclass"):
                macros.append((t, v1(r), None, None))
            elif t == "treat-xrefs-as-relationship":
                macros.append((t, v1(r), v2(r), None))
            elif t in ("treat-xrefs-as-genus-differentia", "treat-xrefs-as-reverse-genus-differentia"):
                macros.append((t, v1(r), v2(r), vt(r)))
        if macros and apply_macros:
            xr = [e for e in edges if e[3] == "xref"]
            for kind, ids, rel, filler in macros:
                for subj, _, obj, _ in xr:
                    if _prefix(obj) != ids:
                        continue
                    if kind == "treat-xrefs-as-equivalent":
                        edges.append((subj, "equivalent_to", obj, "xref-macro"))
                    elif kind == "treat-xrefs-as-is_a":
                        edges.append((subj, "is_a", obj, "xref-macro"))
                    elif kind == "treat-xrefs-as-has-subclass":
                        edges.append((obj, "is_a", subj, "xref-macro"))
                    elif kind == "treat-xrefs-as-relationship":
                        edges.append((subj, rel, obj, "xref-macro"))
                    elif kind == "treat-xrefs-as-genus-differentia":
                        edges.append((subj, "intersection_of:genus", obj, "xref-macro"))
                        edges.append((subj, f"intersection_of:{rel}", filler, "xref-macro"))
                    else:  # reverse
                        edges.append((obj, "intersection_of:genus", subj, "xref-macro"))
                        edges.append((obj, f"intersection_of:{rel}", filler, "xref-macro"))

        if canonicalize:
            aliases = {}
            repl = {}
            repl_ix = {}
            for r in ent:
                if tag(r) == "alt_id" and v1(r) is not None and v1(r) not in aliases:
                    aliases[v1(r)] = fid(r)
                if tag(r) == "replaced_by" and v1(r) is not None:
                    ix = r[3 + _IX["clause_ix"]]
                    key = fid(r)
                    if key not in repl or ix < repl_ix[key]:
                        repl[key], repl_ix[key] = v1(r), ix

            def canon(x):
                x = aliases.get(x, x)
                for _ in range(3):
                    x = repl.get(x, x)
                return x

            edges = [(canon(s), p, canon(o), st) for s, p, o, st in edges]

            uf = _UnionFind()
            for s, p, o, _ in edges:
                if p == "equivalent_to":
                    uf.union(s, o)
            edges = [(uf.find(s) if s in uf.parent else s, p, uf.find(o) if o in uf.parent else o, st)
                     for s, p, o, st in edges]

        seen = set()
        for s, p, o, st in edges:
            k = (s, p, o)
            if k not in seen:
                seen.add(k)
                all_edges.append((s, p, o, st, sha))

    return sorted(all_edges)


def build_canonical_maps(corpus_rows, max_hops=3):
    """corpus rows → {doc_sha: {old_id: canonical_id}} — the pure-Python
    mirror of ``canonicalize.combined_map_distributed`` (alias/obsolete
    resolution composed with min-representative equivalence components,
    per document). Written independently of :func:`build_edges`'s inline
    canonicalization on purpose: a third implementation of the same
    semantics cross-checks both."""
    clauses, _ = parse_rows(corpus_rows)
    by_doc = defaultdict(list)
    for c in clauses:
        by_doc[c[0]].append(c)

    tag_ix, v1_ix = 3 + _IX["tag"], 3 + _IX["v1"]
    fid_ix, ftype_ix = 3 + _IX["frame_id"], 3
    fix_ix, cix_ix = 3 + _IX["frame_ix"], 3 + _IX["clause_ix"]

    maps = {}
    for sha, rows in by_doc.items():
        alias, repl, pairs, xrefs, spaces = {}, {}, [], [], set()
        for r in rows:
            v1 = r[v1_ix]
            if v1 is None:
                continue
            tag, fid = r[tag_ix], r[fid_ix]
            order = (r[fix_ix], r[cix_ix])
            if r[ftype_ix] == "Header":
                if tag == "treat-xrefs-as-equivalent":
                    spaces.add(v1)
            elif fid:
                if tag == "alt_id":
                    if v1 not in alias or order < alias[v1][1]:
                        alias[v1] = (fid, order)
                elif tag == "replaced_by":
                    if fid not in repl or order < repl[fid][1]:
                        repl[fid] = (v1, order)
                elif tag == "equivalent_to":
                    pairs.append((fid, v1))
                elif tag == "xref":
                    xrefs.append((fid, v1))
        repl = {k: v[0] for k, v in repl.items()}
        res = {k: v[0] for k, v in alias.items()}
        for k in repl:
            res.setdefault(k, k)
        for _ in range(max_hops):
            for k in res:
                res[k] = repl.get(res[k], res[k])
        res = {k: v for k, v in res.items() if k != v}

        if spaces:
            pairs = pairs + [(fid, x) for fid, x in xrefs if _prefix(x) in spaces]
        uf = _UnionFind()
        verts = set()
        for a, b in pairs:
            a, b = res.get(a, a), res.get(b, b)
            verts.add(a)
            verts.add(b)
            uf.union(a, b)
        comp = {v: uf.find(v) for v in verts}

        m = {}
        for old, new in res.items():
            final = comp.get(new, new)
            if old != final:
                m[old] = final
        for v, c in comp.items():
            if v not in res and v != c:
                m[v] = c
        maps[sha] = m
    return maps


def edge_key_set(edges):
    """(subj, pred, obj, doc_sha) set for P/R comparison."""
    return {(s, p, o, sha) for s, p, o, _, sha in edges}


def precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got and not want:
        return 1.0, 1.0
    tp = len(got & want)
    p = tp / len(got) if got else 0.0
    r = tp / len(want) if want else 0.0
    return p, r
