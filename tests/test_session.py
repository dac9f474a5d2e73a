"""Session wiring and the worker daemon's stat-checked zip importer."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from nabu_spark.worker_daemon import StatZipImporter, install

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


class TestStatZipImporter:
    def test_unchanged_archive_is_not_reread(self, tmp_path, monkeypatch):
        archive = str(tmp_path / "mods.zip")
        _write_zip(archive, {"nabu_zip_a": "X = 1\n"})
        imp = StatZipImporter(archive)
        sub = StatZipImporter(os.path.join(archive, "sub"))  # same archive
        calls = _count_reads(monkeypatch)
        zipimport.zipimporter(archive).invalidate_caches()
        assert calls == [archive]  # the plain importer re-reads every time
        calls.clear()
        imp.invalidate_caches()
        imp.invalidate_caches()
        sub.invalidate_caches()
        assert calls == []
        assert imp.find_spec("nabu_zip_a") is not None

    def test_rewritten_archive_is_reread(self, tmp_path, monkeypatch):
        archive = str(tmp_path / "mods.zip")
        _write_zip(archive, {"nabu_zip_b": "X = 1\n"})
        monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
        monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
        install()
        monkeypatch.syspath_prepend(archive)
        try:
            assert importlib.import_module("nabu_zip_b").X == 1
            assert type(sys.path_importer_cache[archive]) is StatZipImporter
            calls = _count_reads(monkeypatch)
            importlib.invalidate_caches()
            assert archive not in calls
            _write_zip(archive, {"nabu_zip_b": "X = 1\n", "nabu_zip_c": "Y = 2\n"})
            importlib.invalidate_caches()
            assert calls.count(archive) == 1
            assert importlib.import_module("nabu_zip_c").Y == 2
        finally:
            sys.modules.pop("nabu_zip_b", None)
            sys.modules.pop("nabu_zip_c", None)


def _worker_importers(batches):
    """Per batch: the zip entries of the worker's importer cache, how many
    are the daemon's class, and the archive reads of one invalidation."""
    import importlib
    import sys
    import zipimport

    from nabu_spark.worker_daemon import StatZipImporter

    for _ in batches:
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "zips": [len(zips)],
            "stat_zips": [sum(isinstance(f, StatZipImporter) for f in zips)],
            "reads": [len(reads)],
        })


def test_workers_use_stat_importer(spark):
    df = spark.range(0, 8, numPartitions=4)
    rows = df.mapInArrow(_worker_importers, "zips long, stat_zips long, reads long").collect()
    assert rows
    for r in rows:
        assert r.zips > 0
        assert r.stat_zips == r.zips
        assert r.reads == 0


_SESSION_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
from nabu_spark.session import get_spark

def probe(batches):
    import sys, zipimport
    main = sys.modules["__main__"].__spec__.name
    kinds = sorted({type(f).__module__ + "." + type(f).__name__
                    for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)})
    for _ in batches:
        yield pa.RecordBatch.from_pydict({"main": [main], "kinds": [",".join(kinds)]})

out = {}
for name, extra in (("default", {}),
                    ("override", {"spark.python.daemon.module": "pyspark.daemon"})):
    spark = get_spark(app_name="session-" + name, cores=1,
                      extra_conf={"spark.driver.memory": "1g", **extra})
    row = spark.range(1).mapInArrow(probe, "main string, kinds string").first()
    out[name] = {"conf": spark.sparkContext.getConf().get("spark.python.daemon.module"),
                 "main": row.main, "kinds": row.kinds}
    spark.stop()
print(json.dumps(out))
"""


@pytest.mark.slow
def test_daemon_wiring_from_another_cwd(tmp_path):
    """No PYTHONPATH and a foreign cwd: the daemon module must still import,
    and an extra_conf daemon module wins over the default."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT, REPO],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["default"]["conf"] == "nabu_spark.worker_daemon"
    assert out["default"]["main"] == "nabu_spark.worker_daemon"
    assert out["default"]["kinds"] == "nabu_spark.worker_daemon.StatZipImporter"
    assert out["override"]["conf"] == "pyspark.daemon"
    assert out["override"]["main"] == "pyspark.daemon"
    assert out["override"]["kinds"] == "zipimport.zipimporter"


def test_no_daemon_when_imported_from_zip(tmp_path):
    archive = str(tmp_path / "nabu.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        for name in ("__init__.py", "session.py", "worker_daemon.py"):
            zf.write(os.path.join(REPO, "nabu_spark", name), f"nabu_spark/{name}")
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from nabu_spark import session; "
            "print(session.__file__); print(session._daemon_conf())")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", code, archive], capture_output=True,
                          text=True, timeout=120, cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr
    where, conf = proc.stdout.strip().splitlines()[-2:]
    assert where.startswith(archive)
    assert conf == "{}"


_MASTER_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from nabu_spark.session import get_spark

for cores in map(int, sys.argv[2:]):
    spark = get_spark(app_name="master", cores=cores,
                      extra_conf={"spark.driver.memory": "1g"})
    print(spark.sparkContext.master)
    spark.stop()
"""


def _masters(tmp_path, argv: list[str]) -> list[str]:
    script = tmp_path / "master.py"
    script.write_text(_MASTER_SCRIPT)
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    proc = subprocess.run([*argv, str(script), REPO, "4", "1"],
                          capture_output=True, text=True, timeout=600,
                          cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return [ln for ln in proc.stdout.splitlines() if ln.startswith("local")]


@pytest.mark.slow
def test_get_spark_keeps_a_submitted_master(tmp_path):
    """Under spark-submit the submitted --master stands over ``cores``."""
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert _masters(tmp_path, [submit, "--master", "local[2]",
                               "--driver-memory", "1g"]) == ["local[2]"] * 2


@pytest.mark.slow
def test_get_spark_sets_cores_on_a_launched_jvm(tmp_path):
    """A JVM the driver launches itself reports local[*] as its master, yet
    each session gets the requested core count, also after a restart."""
    assert _masters(tmp_path, [sys.executable]) == ["local[4]", "local[1]"]
