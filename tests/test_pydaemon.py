"""The engine's Python worker daemon (``lightcurator_spark.pydaemon``)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from lightcurator_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 invalidates zipimport caches lazily; no patch",
)


@needs_patch
def test_invalidate_rereads_a_zip_only_when_its_stat_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lc_zip_a.py", "X = 1\n")
    path = str(archive)
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("lc_zip_a").X == 1
    monkeypatch.setattr(pydaemon, "_STAMPS", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first read takes the stamp
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged archive: not re-read

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("lc_zip_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("lc_zip_b").Y == 2

    importer = sys.path_importer_cache[path]
    archive.unlink()
    importer.invalidate_caches()
    patched = (importer._files, path in zipimport._zip_directory_cache)
    pydaemon._stock_invalidate(importer)
    stock = (importer._files, path in zipimport._zip_directory_cache)
    assert patched == stock == ({}, False)
    for m in ("lc_zip_a", "lc_zip_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)


@needs_patch
def test_session_workers_fork_from_the_engine_daemon(spark):
    def origin(_):
        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(origin).collect()
    assert got == ["lightcurator_spark.pydaemon"]


_OUTSIDE_REPO = """
import sys
sys.path.insert(0, {root!r})
from lightcurator_spark.plans import load_all
from lightcurator_spark.session import get_session

spark = get_session("pydaemon-cwd", cpus=2)
doubled = spark.range(8).mapInPandas(
    lambda it: (p.assign(id=p.id * 2) for p in it), "id long"
)
assert sorted(r.id for r in doubled.collect()) == list(range(0, 16, 2))
rows = load_all()["l4_knn_bruteforce"].fn(spark, {sf!r}).collect()
assert rows, "l4 returned no rows"
spark.stop()
print("ok")
"""


def test_session_runs_python_workers_from_outside_the_repo(tmp_path):
    """Workers launch the daemon module and unpickle closures that
    import the package, so both must load with neither the repo as the
    working directory nor PYTHONPATH set."""
    from tests.parity import TINY_SF_DIR

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO.format(root=ROOT, sf=TINY_SF_DIR)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]
