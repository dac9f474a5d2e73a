"""Every top-level definition in ``nabu_spark/`` is reachable from a command,
a contract query, a benchmark or a script — or is named on the allowlist
below with the reason it stays.

Reachability is a name closure over the AST (no imports, no Spark). The
roots are every name used in ``nabu_spark/cli.py``, ``__spark_entry__.py``,
``bench*.py``, ``jobs/``, ``scripts/`` and ``perfbench/``, plus the
module-level statements of the package that are not definitions,
assignments or imports. A reached definition reaches every name its own
body uses, and a name bound by ``import x as y`` reaches ``x``.
Names are matched without their module, so a name shared by two modules
reaches both: the closure can only over-approximate what runs.

Every module-level import of a package module is used by that module, or
named in its ``__all__``, or imported from it by another file.
"""

from __future__ import annotations

import ast
import functools
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "nabu_spark"

ORACLE = "test oracle: tests pin a distributed kernel against it"
GENERATOR = "test-input generator"

# "<path under the repo>::<name>" -> why it stays although nothing reaches it
ALLOWED = {
    # oracles
    "nabu_spark/graphstore.py::apply_update_local": ORACLE + " (SPARQL Update)",
    "nabu_spark/graphstore.py::_apply_one_local": ORACLE + " (apply_update_local)",
    "nabu_spark/graphstore.py::_eval_where_local": ORACLE + " (apply_update_local)",
    "nabu_spark/graphstore.py::_inst_local": ORACLE + " (apply_update_local)",
    "nabu_spark/graphstore.py::_bnode_hash_local": ORACLE + " (apply_update_local)",
    "nabu_spark/functions/bytesum.py::bytesum_lines": ORACLE + " (release bytesum)",
    "nabu_spark/evaluation.py::quads_pr": ORACLE + " (quad-set precision/recall)",
    "nabu_spark/evaluation.py::triple_pr": ORACLE + " (quad-set precision/recall)",
    "nabu_spark/functions/jsonld.py::jsonld_to_triples": ORACLE + " (JSON-LD toRdf)",
    "nabu_spark/functions/rdfc.py::canonical_ntriples": ORACLE + " (canonical_quads rows)",
    "nabu_spark/functions/rdfc.py::canonical_graph_hash": (
        ORACLE + " (canonical_quads graph_sha256)"),
    # generators
    "nabu_spark/datagen.py::generate_mainstems": GENERATOR,
    "nabu_spark/datagen.py::generate_known_iris": GENERATOR,
    "nabu_spark/operators/multimodal.py::synth_bmp": GENERATOR,
    "nabu_spark/operators/multimodal.py::encode_bmp": GENERATOR + " (synth_bmp's encoder)",
    "nabu_spark/sources/warc.py::write_warc_fixture": GENERATOR,
    "nabu_spark/functions/turtle.py::serialize_turtle": GENERATOR + " (parse_turtle roundtrips)",
    "nabu_spark/operators/shacl.py::geoconnex_shapes_ttl": (
        "test input: reads the reference's shape graph"),
    # numbered reference components (COVERAGE.md rows 1-40)
    "nabu_spark/sources/sitemap.py::parse_sitemap_index": "COVERAGE row 1",
    "nabu_spark/sources/sitemap.py::sitemap_index_df": "COVERAGE row 1",
    "nabu_spark/sources/sitemap.py::_local": "COVERAGE rows 1-2 (XML tag helper)",
    "nabu_spark/sources/sitemap.py::parse_urlset": "COVERAGE row 2",
    "nabu_spark/sources/sitemap.py::urlset_df": "COVERAGE row 2",
    "nabu_spark/functions/jsonld.py::register_context": "COVERAGE row 18 (context cache)",
    "nabu_spark/functions/jsonld.py::register_context_file": "COVERAGE row 18 (context cache)",
    "nabu_spark/operators/stats.py::duplicate_keys": "COVERAGE row 19",
    "nabu_spark/functions/skolem.py::skolemize_nt": "COVERAGE row 20 (reference-parity skolemizer)",
    "nabu_spark/functions/skolem.py::skolem_map_from_lines": "COVERAGE row 20 (skolemize_nt's map)",
    "nabu_spark/functions/ntriples.py::term_is_valid": "COVERAGE row 21 (strict term gate)",
    "nabu_spark/functions/jsonld.py::get_wkt_from_jsonld": "COVERAGE row 22",
    "nabu_spark/operators/enrich.py::enrich_docs_gated": "COVERAGE rows 23-24 (AddMainstems gate)",
    "nabu_spark/operators/stats.py::incremental_skip": "COVERAGE row 29",
    "nabu_spark/operators/stats.py::cleanup_list": "COVERAGE row 30",
    "nabu_spark/functions/urn.py::make_release_nq_name": "COVERAGE row 33",
    "nabu_spark/functions/urn.py::_text_before_last_dot": "COVERAGE row 33 (make_release_nq_name)",
    "nabu_spark/operators/validate.py::structural_check": "COVERAGE row 36",
    "nabu_spark/operators/validate.py::shacl_warnings": "COVERAGE row 36",
    "nabu_spark/operators/release.py::write_release_deterministic_gzip": "COVERAGE row 37",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _roots() -> list[pathlib.Path]:
    return [
        PKG / "cli.py",
        REPO / "__spark_entry__.py",
        *REPO.glob("bench*.py"),
        *(REPO / "jobs").rglob("*.py"),
        *(REPO / "scripts").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
    ]


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


@functools.cache
def unreached() -> dict[str, int]:
    """``{"<path>::<name>": lines}`` for each top-level function or class in
    the package that no root reaches."""
    seen: set[str] = set()
    for path in _roots():
        seen |= _names(ast.parse(path.read_text()))
    bodies: dict[str, list[ast.stmt]] = {}
    defs: list[tuple[str, ast.stmt]] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, _DEFS):
                bodies.setdefault(st.name, []).append(st)
                defs.append((f"{rel}::{st.name}", st))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and n.id != "__all__":
                            bodies.setdefault(n.id, []).append(st)
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                for a in st.names:  # `import x as y`: using y reaches x
                    if a.asname:
                        bodies.setdefault(a.asname, []).append(a)
            else:
                seen |= _names(st)  # runs at import: `if __name__ ...`, calls
    todo = [n for n in seen if n in bodies]
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for st in bodies[name]:
            todo.extend(n for n in _names(st) if n in bodies and n not in reached)
    return {
        key: st.end_lineno - st.lineno + 1
        for key, st in defs
        if key.rsplit("::", 1)[1] not in reached
    }


def test_every_definition_is_reached_or_allowed():
    stray = sorted(set(unreached()) - set(ALLOWED))
    assert not stray, (
        "top-level definitions no command, contract query, benchmark or "
        f"script reaches (delete them, or allowlist with a reason): {stray}"
    )


def test_allowlist_is_current():
    """An allowlisted name that is gone, or that a root now reaches, is a
    stale entry."""
    stale = sorted(set(ALLOWED) - set(unreached()))
    assert not stale, f"stale allowlist entries: {stale}"


def _module(path: pathlib.Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names() -> set[tuple[str, str]]:
    """``(module, name)`` for every ``from module import name`` in the
    package, the tests and the roots, relative imports resolved."""
    out: set[tuple[str, str]] = set()
    for path in {*PKG.rglob("*.py"), *(REPO / "tests").rglob("*.py"), *_roots()}:
        pkg = _module(path).split(".")
        if path.name != "__init__.py":
            pkg = pkg[:-1]
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.ImportFrom):
                base = pkg[: len(pkg) - n.level + 1] if n.level else []
                src = ".".join(base + ([n.module] if n.module else []))
                out.update((src, a.name) for a in n.names)
    return out


def test_no_unused_module_imports():
    imported = _imported_names()
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for st in tree.body:
            if isinstance(st, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in st.targets
            ):
                used |= {e.value for e in st.value.elts}
        for st in tree.body:
            if not isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(st, ast.ImportFrom) and st.module == "__future__":
                continue
            for a in st.names:
                name = (a.asname or a.name).split(".")[0]
                if name not in used and (_module(path), name) not in imported:
                    unused.append(f"{path.relative_to(REPO)}:{st.lineno} {name}")
    assert not unused, f"module-level imports nothing uses: {unused}"


# functions that may call `.limit(...).collect()` directly: the bounded
# collect itself and the refusal caps, which never fall back
BOUNDED_PROBES = {
    "nabu_spark/session.py::bounded_collect",
    "nabu_spark/graphstore.py::GraphStore.to_trig",
    "nabu_spark/operators/reasoner.py::_typed_props",
    "nabu_spark/cli.py::_print_query_result",
}


class _ScopedCalls(ast.NodeVisitor):
    """The qualified name of the function around each call that ``match``
    accepts."""

    def __init__(self, match):
        self.match = match
        self.scope: list[str] = []
        self.found: list[str] = []

    def _scoped(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _scoped

    def visit_Call(self, node):
        if self.match(node):
            self.found.append(".".join(self.scope))
        self.generic_visit(node)


def _scoped_calls(match) -> set[str]:
    """``"<path>::<qualified function>"`` of every call in the package that
    ``match`` accepts."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        v = _ScopedCalls(match)
        v.visit(ast.parse(path.read_text()))
        rel = path.relative_to(REPO).as_posix()
        found |= {f"{rel}::{name}" for name in v.found}
    return found


def _limit_collect(node: ast.Call) -> bool:
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == "collect"
            and isinstance(f.value, ast.Call)
            and isinstance(f.value.func, ast.Attribute)
            and f.value.func.attr == "limit")


def test_driver_fast_paths_go_through_bounded_collect():
    """A hand-rolled `limit(cap + 1).collect()` probe builds its input twice
    when the fallback runs; driver fast paths call `bounded_collect`."""
    found = _scoped_calls(_limit_collect)
    assert found == BOUNDED_PROBES, (
        f"unexpected: {sorted(found - BOUNDED_PROBES)}; "
        f"stale: {sorted(BOUNDED_PROBES - found)}")


def _eager_checkpoint(node: ast.Call) -> bool:
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == "localCheckpoint"
            and any(k.arg == "eager" and isinstance(k.value, ast.Constant)
                    and k.value.value is True for k in node.keywords))


def test_eager_checkpoints_go_through_materialize():
    """A bare eager checkpoint keeps the size estimate of the plan it
    replaced, and self-joins compound it round after round; every eager
    lineage cut calls `session.materialize`, which drops it."""
    found = _scoped_calls(_eager_checkpoint)
    assert found == {"nabu_spark/session.py::materialize"}, sorted(found)


def _sql_call(node: ast.Call) -> bool:
    return isinstance(node.func, ast.Attribute) and node.func.attr == "sql"


def test_spark_sql_is_called_once_with_bound_parameters():
    """SPARQL reaches Spark SQL through one call site, and that call binds
    the query's values as parameters (`args=`): none becomes SQL text."""
    calls = [n for path in sorted(PKG.rglob("*.py"))
             for n in ast.walk(ast.parse(path.read_text()))
             if isinstance(n, ast.Call) and _sql_call(n)]
    assert _scoped_calls(_sql_call) == {
        "nabu_spark/sparql.py::_SqlCompiler.run"}
    assert len(calls) == 1
    assert [k.arg for k in calls[0].keywords if k.arg == "args"] == ["args"]
