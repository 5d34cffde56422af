"""The zip-directory stamp check installed by ``spark_eventhubs_spark``.

On CPython < 3.12 ``importlib.invalidate_caches()`` re-reads every zip
archive's directory; the package replaces ``zipimporter.invalidate_caches``
so an unchanged archive is not re-read. These tests build their own zip
of a nested package, so they do not depend on how pyspark is installed.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import spark_eventhubs_spark  # noqa: F401  (installs the replacement)
from spark_eventhubs_spark import _zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY_ZIPIMPORT = sys.version_info >= (3, 12)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


PKG = {
    "zpkg/__init__.py": "",
    "zpkg/sub/__init__.py": "",
    "zpkg/sub/mod.py": "X = 1\n",
}


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path, PKG)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    _zipimport._STAMPS.pop(path, None)


def _count_reads(monkeypatch, archive):
    """Record every directory read of ``archive`` from here on."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _importers(archive):
    return [v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter) and v.archive == archive]


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="zipimport re-reads lazily on 3.12+")
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    import zpkg.sub.mod  # noqa: F401

    assert len(_importers(archive)) >= 2  # the archive root and zpkg/
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(calls) == 1  # one read shared by every importer of the archive
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(calls) == 1
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="zipimport re-reads lazily on 3.12+")
def test_changed_mtime_alone_rereads(archive, monkeypatch):
    import zpkg.sub.mod  # noqa: F401

    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert len(calls) == 1


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="zipimport re-reads lazily on 3.12+")
def test_directory_dropped_from_zipimport_cache_is_read_again(archive, monkeypatch):
    import zpkg.sub.mod  # noqa: F401

    importlib.invalidate_caches()
    del zipimport._zip_directory_cache[archive]
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(calls) == 1
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))


def test_rewritten_archive_makes_new_module_importable(archive):
    import zpkg.sub.mod  # noqa: F401

    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zpkg.sub.new")
    _write_zip(archive, {**PKG, "zpkg/sub/new.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.new").Y == 2


def test_missing_archive_falls_back_without_raising(archive):
    import zpkg.sub.mod  # noqa: F401

    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if not LAZY_ZIPIMPORT:
        assert all(imp._files == {} for imp in _importers(archive))
    # the archive comes back with a new module: it is read again
    _write_zip(archive, {**PKG, "zpkg/sub/back.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.back").Z == 3


def test_install_is_idempotent_and_version_gated():
    installed = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert (installed is _zipimport._stamped_invalidate_caches) != LAZY_ZIPIMPORT


def test_unpickling_connector_objects_installs_the_replacement(tmp_path):
    """A Spark worker imports the package only by unpickling what the
    driver sent it; each connector object must bring the fix along."""
    from pyspark import cloudpickle
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_eventhubs_spark.sources.datasource import (
        EventHubsDataSource,
        EventHubsStreamReader,
        EventHubsStreamWriter,
    )

    options = {"path": str(tmp_path / "hub")}
    schema = StructType([StructField("body", StringType())])
    objects = {
        "reader": EventHubsStreamReader(options),
        "writer": EventHubsStreamWriter(options, schema),
        "datasource": EventHubsDataSource,
    }
    check = (
        "import pickle, sys, zipimport\n"
        "assert 'spark_eventhubs_spark' not in sys.modules\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "fn = zipimport.zipimporter.invalidate_caches\n"
        "print(fn.__module__, fn.__name__)\n"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])}
    for label, obj in objects.items():
        out = subprocess.run(
            [sys.executable, "-c", check], input=cloudpickle.dumps(obj),
            cwd=str(tmp_path), env=env, capture_output=True, check=True,
        )
        got = out.stdout.decode().strip()
        if LAZY_ZIPIMPORT:
            assert got == "zipimport invalidate_caches", label
        else:
            assert got == "spark_eventhubs_spark._zipimport _stamped_invalidate_caches", label
