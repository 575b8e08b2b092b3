"""The engine's Python worker daemon (``timing_explorer_spark.worker_daemon``).

pyspark's worker calls ``importlib.invalidate_caches()`` per task; on Python
< 3.12 every ``zipimporter`` then re-reads its archive's directory. The
daemon's patch re-reads an archive only when its (mtime, size) stamp
changed. The first three tests drive the patch in this process with no
Spark session; the last two check that the engine's sessions run their
workers under the daemon, from any working directory.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from timing_explorer_spark import worker_daemon

ROOT = Path(__file__).resolve().parent.parent
PATCHED = sys.version_info < (3, 12)


def _write_zip(path: Path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture()
def zip_reads(monkeypatch):
    """Installs the daemon's patch for one test (restored after) and returns
    ``reads(archive)``: how often zipimport has read that archive's
    directory so far."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    read_directory, calls = zipimport._read_directory, []

    def counted(archive):
        calls.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    assert worker_daemon.install() is PATCHED
    yield lambda archive: calls.count(archive)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith("_tes_zipped_")]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(not PATCHED, reason="zipimport is lazy from Python 3.12")
def test_unchanged_zip_is_not_reread(zip_reads, zip_on_path):
    _write_zip(Path(zip_on_path), {"_tes_zipped_a": "X = 1\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("_tes_zipped_a").X == 1
    importlib.invalidate_caches()  # the first call stamps the archive
    before = zip_reads(zip_on_path)
    assert before >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_reads(zip_on_path) == before


@pytest.mark.skipif(not PATCHED, reason="zipimport is lazy from Python 3.12")
def test_rewritten_zip_is_reread_once(zip_reads, zip_on_path):
    # addPyFile semantics: a zip rewritten under the same name between tasks
    # serves its new modules to the next task
    _write_zip(Path(zip_on_path), {"_tes_zipped_a": "X = 1\n"})
    importlib.invalidate_caches()
    importlib.import_module("_tes_zipped_a")
    importlib.invalidate_caches()
    _write_zip(Path(zip_on_path), {"_tes_zipped_a": "X = 1\n", "_tes_zipped_b": "Y = 2\n"})
    before = zip_reads(zip_on_path)
    importlib.invalidate_caches()
    assert zip_reads(zip_on_path) == before + 1
    assert importlib.import_module("_tes_zipped_b").Y == 2
    importlib.invalidate_caches()
    assert zip_reads(zip_on_path) == before + 1


def test_patch_is_guarded_to_python_before_312(monkeypatch):
    eager = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", eager)
    assert worker_daemon.install((3, 12, 0)) is False
    assert worker_daemon.install((3, 13)) is False
    assert zipimport.zipimporter.invalidate_caches is eager
    assert worker_daemon.install((3, 11, 7)) is True
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._invalidate_if_changed


def test_engine_session_workers_run_the_daemon(spark):
    def probe(_):
        import os
        import sys
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__name__, os.path.basename(sys.argv[0])

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    name = "_invalidate_if_changed" if PATCHED else "invalidate_caches"
    assert got == [(name, "worker_daemon.py")]


_CWD_SCRIPT = r"""
import sys
sys.path.insert(0, __ROOT__)
from timing_explorer_spark.session import get_spark

spark = get_spark(app_name="worker-path-probe", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")

def bump(frames):
    for pdf in frames:
        yield pdf.assign(x=pdf.x + 1)

print("ROWS", sorted(r.x for r in spark.range(3).selectExpr("id AS x").mapInPandas(bump, "x long").collect()))
spark.stop()
"""


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    # no PYTHONPATH and a working directory without the package: the workers
    # find the daemon module through the path the session itself sets
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT.replace("__ROOT__", repr(str(ROOT)))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, f"stdout={out.stdout[-2000:]}\nstderr={out.stderr[-3000:]}"
    assert "ROWS [1, 2, 3]" in out.stdout
