"""Seeded OBO corpus for the KG-build workloads, written without Spark.

``fastobo_py_spark.sources.corpus.generate_corpus`` keys every OBO
document on its position, so its ``seed`` changes only the noise rows.
Here the seed picks the document indices and the family of each
document, so two seeds give two different sets of ontologies. The
document builders themselves are the program's fixture builders.
"""

from __future__ import annotations

import hashlib
import os
import random

from fastobo_py_spark import oracle
from fastobo_py_spark.obo.parser import CLAUSE_FIELDS
from fastobo_py_spark.sources import corpus as fixtures

COLUMNS = ("repo", "path", "commit", "lang", "content")
_FAMILIES = {
    "ms": (fixtures.make_ms_like, 50),
    "plana": (fixtures.make_plana_like, 30),
    "go": (fixtures.make_go_like, 40),
    "pato": (fixtures.make_pato_like, 20),
}
_FRAME_ID = 3 + CLAUSE_FIELDS.index("frame_id")


def _row(repo: str, path: str, lang: str, content: str) -> dict:
    commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
    return {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}


def make_corpus(seed: int, n_docs: int, doc_scale: int, n_noise: int) -> list[dict]:
    """``n_docs`` OBO documents with seed-drawn indices and families,
    one broken document, one non-OBO file mislabeled as OBO (both must
    be quarantined) and ``n_noise`` non-OBO repository files."""
    rng = random.Random(seed)
    # every family gets an equal share of the documents (the remainder is
    # drawn), so the corpus size barely moves with the seed
    families = sorted(_FAMILIES) * (n_docs // len(_FAMILIES))
    families += rng.sample(sorted(_FAMILIES), n_docs % len(_FAMILIES))
    rng.shuffle(families)
    rows = []
    for ix, fam in zip(rng.sample(range(1, 100_000), n_docs), families):
        build, n_terms = _FAMILIES[fam]
        repo = f"org{ix % 7}/repo{ix % 23}"
        rows.append(_row(repo, f"ontologies/{fam}_{ix}.obo", "OBO", build(ix, n_terms=n_terms * doc_scale)))
    broken = rng.randrange(100_000)
    rows.append(_row("org0/broken", f"ontologies/broken_{broken}.obo", "OBO", fixtures.make_broken(broken)))
    rows.append(_row("org0/mislabeled", "config/settings.yaml", "OBO", "host: example.org\nport: 8080\n"))
    for i in range(n_noise):
        path, lang, content = fixtures.make_noise(rng.randrange(100_000), rng)
        rows.append(_row(f"org{i % 7}/repo{i % 23}", path, lang, content))
    rng.shuffle(rows)
    return rows


def write_corpus(rows: list[dict], out_dir: str, n_files: int) -> int:
    """Write ``rows`` as ``n_files`` parquet files; returns content bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([(c, pa.string()) for c in COLUMNS])
    for k in range(n_files):
        chunk = rows[k::n_files]
        table = pa.table({c: [r[c] for r in chunk] for c in COLUMNS}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return sum(len(r["content"].encode()) for r in rows)


def expected_outputs(rows: list[dict]) -> dict:
    """What one ``run_pipeline`` batch over ``rows`` must report, from the
    pure-Python oracle: metric counts and the full edge-key set."""
    clauses, quarantine = oracle.parse_rows(rows)
    nodes = {(c[0], c[_FRAME_ID]) for c in clauses if c[3] != "Header" and c[_FRAME_ID]}
    edge_set = oracle.edge_key_set(oracle.build_edges(rows))
    return {
        "clause_rows": len(clauses),
        "quarantined_docs": len(quarantine),
        "nodes": len(nodes),
        "edges": len(edge_set),
        "edge_set": edge_set,
    }


def check_metrics(metrics: dict, expected: dict) -> list[str]:
    """Mismatches between a ``run_pipeline`` metrics dict and the oracle
    counts; empty means the batch is correct."""
    bad = [
        f"{k}: got {metrics.get(k)}, want {expected[k]}"
        for k in ("clause_rows", "quarantined_docs", "nodes", "edges")
        if metrics.get(k) != expected[k]
    ]
    if metrics.get("doc_key_collisions") != 0:
        bad.append(f"doc_key_collisions: got {metrics.get('doc_key_collisions')}, want 0")
    return bad


def check_edge_set(got: set, expected: dict) -> list[str]:
    """Precision/recall of the written (subj, pred, obj, doc_sha) set."""
    p, r = oracle.precision_recall(got, expected["edge_set"])
    return [] if (p, r) == (1.0, 1.0) else [f"edge set P/R = {p:.4f}/{r:.4f}, want 1/1"]
