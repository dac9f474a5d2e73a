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


def _bench_distributed():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_distributed", SCRIPTS / "bench_distributed.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_distributed_legs_keep_their_own_settings():
    labelled_legs = _bench_distributed().labelled_legs
    old = {"cores": 32, "n_docs_10x": 2_000_000, "steal_pct_at_end": 0.05,
           "legs": {"closure_dist": {"sec": 20.8, "rows": 6},
                    "cc_10x": {"sec": 12.2, "rows": 9},
                    "twin_cap": {"sec": 29.8, "rows": 1, "cores": 4,
                                 "steal_pct": 0.03}}}
    legs = labelled_legs(old)
    assert legs == {
        "closure_dist": {"cores": 32, "steal_pct": 0.05, "sec": 20.8,
                         "rows": 6},
        "cc_10x": {"cores": 32, "steal_pct": 0.05, "n_docs_10x": 2_000_000,
                   "sec": 12.2, "rows": 9},
        "twin_cap": {"sec": 29.8, "rows": 1, "cores": 4, "steal_pct": 0.03}}
    # a file written since has no header, and its legs pass unchanged
    assert labelled_legs({"legs": legs}) == legs
