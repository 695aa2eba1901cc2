"""The KG batch body exists once: the doc_key audit and the graph writer
are each called from ``plans/pipeline.py`` alone, so the stream (and any
later caller) runs ``run_pipeline`` instead of a copy of it."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "fastobo_py_spark"


def _call_sites(name: str) -> list[str]:
    sites = []
    for p in sorted(PKG.rglob("*.py")):
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Call) and name in (getattr(n.func, "id", None), getattr(n.func, "attr", None)):
                sites.append(str(p.relative_to(PKG)))
    return sites


def test_batch_body_has_one_call_site():
    for name in ("audit_doc_keys", "graph_writers"):
        assert _call_sites(name) == ["plans/pipeline.py"], name
