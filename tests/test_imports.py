"""The pages -> release path imports no pandas. A Python worker that
unpickles one of this path's closures imports the closure's module, and a
pandas import is most of a cold import's cost (~290 ms of 294 ms for
``nabu_spark.operators.release``), paid again by every fresh worker.
The RDF read, query and per-graph modules run their Python passes as
``mapInArrow`` and name no pandas at all."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PAGE_PATH_MODULES = (
    "nabu_spark.pipeline",
    "nabu_spark.snapshots",
    "nabu_spark.operators.extract",
    "nabu_spark.operators.triples",
    "nabu_spark.operators.release",
)


ARROW_PASS_MODULES = (
    "operators/graphpass.py",
    "operators/shacl.py",
    "operators/graphops.py",
    "sparql.py",
    "sources/turtle.py",
)

PANDAS_PASSES = {"mapInPandas", "applyInPandas", "pandas_udf"}


def _pandas_uses(path: str):
    """``file:line name`` for every pandas import, function-local ones
    included, and every pandas pass the module names."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or "", *(a.name for a in node.names)]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        elif isinstance(node, ast.Name):
            names = [node.id]
        else:
            continue
        for name in names:
            if name.split(".")[0] == "pandas" or name in PANDAS_PASSES:
                yield f"{os.path.relpath(path, REPO)}:{node.lineno} {name}"


def test_arrow_pass_modules_name_no_pandas():
    found = [hit for m in ARROW_PASS_MODULES
             for hit in _pandas_uses(os.path.join(REPO, "nabu_spark", m))]
    assert found == []


def _imports_pandas(code: str) -> bool:
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code + "import sys\nprint('pandas' in sys.modules)\n"],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip() == "True"


def test_page_to_release_path_imports_no_pandas():
    assert not _imports_pandas("".join(f"import {m}\n" for m in PAGE_PATH_MODULES))


def test_curate_arrow_pass_kernels_import_no_pandas():
    """The curation pass's kernels import the encoding and text-statistics
    operators in each fresh worker; neither may pull pandas in."""
    assert not _imports_pandas(
        "from nabu_spark.curate import fix_clean_kernel, lang_gopher_kernel\n"
        "fix_clean_kernel('caf\\u00c3\\u00a9 one two')\n"
        "lang_gopher_kernel('the river and the forest')\n")
