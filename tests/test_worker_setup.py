"""Worker set-up applied at package import (``_worker.py``): the lazy
zipimport invalidation backport keeps ``--py-files`` semantics, costs no
directory read per invalidation, stays out of host processes, and is live
inside Spark Python workers."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from datasketches_postgresql_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NEEDS_BACKPORT = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="the backport applies to CPython 3.10-3.12 only",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip with one module on sys.path; the path entry, its importers and
    the modules imported from it are removed afterwards."""
    path = str(tmp_path / "pyfiles.zip")
    _write_zip(path, {"wsz_mod_a": 1})
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    for key in [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]:
        if key.startswith(path):
            del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    for name in ("wsz_mod_a", "wsz_mod_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def forced_backport():
    """Install the backport in this process and take it out again. Importers
    created while it was installed have no ``_files`` of their own, so they
    are dropped from the importer cache on the way out."""
    cls = zipimport.zipimporter
    saved = cls.__dict__["invalidate_caches"]
    assert "_files" not in cls.__dict__
    assert _worker.lazy_zip_invalidation(force=True)
    yield
    cls.invalidate_caches = saved
    del cls._files
    for key, imp in list(sys.path_importer_cache.items()):
        if isinstance(imp, zipimport.zipimporter) and "_files" not in vars(imp):
            del sys.path_importer_cache[key]


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@NEEDS_BACKPORT
def test_stdlib_invalidation_rereads_eagerly(zip_on_path, monkeypatch):
    """Control: without the backport, every invalidation re-reads the zip
    directory at once (what each Spark task paid, once per importer)."""
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    importlib.import_module("wsz_mod_a")
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == [zip_on_path]


@NEEDS_BACKPORT
def test_lazy_invalidation_reads_nothing_until_lookup(zip_on_path, forced_backport, monkeypatch):
    assert importlib.import_module("wsz_mod_a").VALUE == 1
    calls = _count_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []
    assert zip_on_path not in zipimport._zip_directory_cache

    # --py-files semantics: the zip rewritten on disk with a new module,
    # invalidated, then imported from — one shared directory read
    _write_zip(zip_on_path, {"wsz_mod_a": 1, "wsz_mod_b": 2})
    importlib.invalidate_caches()
    assert calls == []
    assert importlib.import_module("wsz_mod_b").VALUE == 2
    assert calls == [zip_on_path]


@NEEDS_BACKPORT
def test_missing_archive_reads_as_empty(zip_on_path, forced_backport):
    importlib.import_module("wsz_mod_a")
    importer = sys.path_importer_cache[zip_on_path]
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert importer.find_spec("wsz_mod_a") is None


def test_host_import_leaves_zipimport_alone():
    code = (
        "import zipimport, datasketches_postgresql_spark\n"
        "cls = zipimport.zipimporter\n"
        "print(cls.invalidate_caches.__module__, '_files' in vars(cls))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    assert out == ["zipimport", "False"]


@NEEDS_BACKPORT
def test_backport_installed_in_spark_workers(spark):
    def report(batches):
        import zipimport

        import datasketches_postgresql_spark  # noqa: F401  (applies the worker set-up)

        installed = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        for pdf in batches:
            yield pd.DataFrame({"installed": [installed] * len(pdf)})

    rows = spark.range(8).repartition(8).mapInPandas(report, "installed boolean").collect()
    assert len(rows) == 8
    assert all(r.installed for r in rows)
