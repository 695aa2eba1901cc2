"""Each private top-level function or class of the package has a package caller."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "fastobo_py_spark"


def _names(node: ast.AST) -> set[str]:
    return {
        getattr(n, "id", None) or getattr(n, "attr", None) or n.name.rsplit(".", 1)[-1]
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
    }


def test_private_top_level_code_has_a_package_caller():
    stmts = [(p, s) for p in sorted(PKG.rglob("*.py")) for s in ast.parse(p.read_text()).body]
    names = [_names(s) for _p, s in stmts]
    unused = [
        f"{p.relative_to(PKG)}::{s.name}"
        for i, (p, s) in enumerate(stmts)
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and s.name.startswith("_") and not s.name.startswith("__")
        and not any(s.name in n for j, n in enumerate(names) if j != i)
    ]
    assert not unused, unused
