"""The lazy zipimport cache invalidation (parserpdf_spark.zipcache).

PySpark workers call ``importlib.invalidate_caches()`` before every task;
on CPython < 3.13 that re-reads every zip archive's central directory
once per zipimporter.  These tests count ``zipimport._read_directory``
calls on the driver, over a temp archive, and inside reused workers.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import parserpdf_spark  # noqa: F401  (installs the lazy method)
from parserpdf_spark import zipcache

LAZY_PYTHON = sys.version_info < (3, 13)


@pytest.fixture
def read_calls(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_archive(path, extra=()):
    members = {
        "zcpkg/__init__.py": "",
        "zcpkg/mod.py": "VALUE = 1\n",
        "zcpkg/sub/__init__.py": "",
        "zcpkg/sub/deep/__init__.py": "",
        "zcpkg/sub/deep/leaf.py": "VALUE = 2\n",
    }
    members.update(extra)
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_package(tmp_path):
    """A package with two levels of sub-packages, imported from a zip:
    one zipimporter per package, all on the same archive."""
    archive = str(tmp_path / "zcpkg.zip")
    _write_archive(archive)
    sys.path.insert(0, archive)
    try:
        import zcpkg.mod  # noqa: F401
        import zcpkg.sub.deep.leaf  # noqa: F401

        yield archive
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zcpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(not LAZY_PYTHON, reason="stdlib zipimport is lazy")
def test_unchanged_archive_is_not_reread(zip_package, read_calls):
    assert zipimport.zipimporter.invalidate_caches is zipcache._lazy_invalidate_caches
    importers = [k for k in sys.path_importer_cache if k.startswith(zip_package)]
    assert len(importers) >= 3  # archive root, zcpkg, zcpkg/sub, ...
    importlib.invalidate_caches()  # first sighting: one read, stamped
    assert read_calls.count(zip_package) <= 1
    read_calls.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert read_calls.count(zip_package) == 0


@pytest.mark.skipif(not LAZY_PYTHON, reason="stdlib zipimport is lazy")
def test_rewritten_archive_is_reread_once(zip_package, read_calls):
    importlib.invalidate_caches()
    read_calls.clear()
    _write_archive(zip_package, {"zcpkg/sub/added.py": "VALUE = 3\n"})
    importlib.invalidate_caches()
    assert read_calls.count(zip_package) == 1
    from zcpkg.sub import added

    assert added.VALUE == 3
    read_calls.clear()
    importlib.invalidate_caches()
    assert read_calls.count(zip_package) == 0


def test_nothing_installed_on_lazy_stdlib():
    """On CPython >= 3.13 (simulated here) the stdlib method stays."""
    code = (
        "import sys, zipimport\n"
        "sys.version_info = (3, 13, 0, 'final', 0)\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import parserpdf_spark\n"
        "from parserpdf_spark import zipcache\n"
        "assert zipcache.install() is False\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)


def test_lazy_method_active_in_reused_workers(spark):
    """Every worker that ran an engine-importing function has the lazy
    method, and once it has seen an archive, a full
    ``invalidate_caches`` reads no archive there."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        from parserpdf_spark import zipcache

        importlib.invalidate_caches()  # stamps archives this worker never saw
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [
                zipimport.zipimporter.invalidate_caches
                is zipcache._lazy_invalidate_caches
            ],
            "reads": [len(calls)],
            "archives": [",".join(sorted(zipimport._zip_directory_cache))],
        })

    partitions = 16
    rows = (
        spark.range(0, partitions * 10, numPartitions=partitions)
        .mapInArrow(probe, "pid long, installed boolean, reads long, archives string")
        .collect()
    )
    assert len(rows) == partitions
    assert len({r.pid for r in rows}) < partitions  # workers were reused
    if not any(r.archives for r in rows):
        pytest.skip("workers import pyspark from site-packages, not a zip")
    # every worker imported from at least one archive (pyspark.zip), so
    # zero reads below means the archives were skipped, not absent
    assert all(r.archives for r in rows), rows
    if LAZY_PYTHON:
        assert all(r.installed for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
