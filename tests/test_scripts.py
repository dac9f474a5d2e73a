"""Scripts import the checkout they live in: a fixed absolute path on
``sys.path`` makes a run from any other checkout import and check the code
at that path instead."""

from __future__ import annotations

import ast
import pathlib

SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"


def _absolute_sys_path_entries(tree: ast.AST) -> list[int]:
    """Line numbers of ``sys.path.insert/append`` calls given a literal
    absolute path."""
    out = []
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("insert", "append")):
            continue
        target = n.func.value
        if not (isinstance(target, ast.Attribute) and target.attr == "path"
                and isinstance(target.value, ast.Name) and target.value.id == "sys"):
            continue
        if any(isinstance(a, ast.Constant) and isinstance(a.value, str)
               and a.value.startswith("/") for a in n.args):
            out.append(n.lineno)
    return out


def test_scripts_put_their_own_checkout_on_sys_path():
    found = {
        f"{path.name}:{line}"
        for path in sorted(SCRIPTS.rglob("*.py"))
        for line in _absolute_sys_path_entries(ast.parse(path.read_text()))
    }
    assert not found, f"literal absolute sys.path entries: {sorted(found)}"
