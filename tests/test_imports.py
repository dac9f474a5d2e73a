"""The pages -> release path imports no pandas. A Python worker that
unpickles one of this path's closures imports the closure's module, and a
pandas import is most of a cold import's cost (~290 ms of 294 ms for
``nabu_spark.operators.release``), paid again by every fresh worker."""

from __future__ import annotations

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


def test_page_to_release_path_imports_no_pandas():
    code = "".join(f"import {m}\n" for m in PAGE_PATH_MODULES) + (
        "import sys\nprint('pandas' in sys.modules)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=env, cwd=REPO, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
