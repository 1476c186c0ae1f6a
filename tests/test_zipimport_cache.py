"""The stat-gated zip import cache (``mr_py_spark/_zipimport.py``).

PySpark workers call ``importlib.invalidate_caches()`` before every
task; before CPython 3.13 that re-read the central directory of every
cached zip archive. Importing ``mr_py_spark`` installs a version that
re-reads an archive only when its size or mtime changed. These tests
build a package zip, import a subpackage from it and count
``zipimport._read_directory`` calls for that archive.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import mr_py_spark  # noqa: F401  (installs the gate, as in a worker)

_GATED = sys.version_info < (3, 13)


def _write_zip(path, pkg: str, extra: bool = False) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "VALUE = 1\n")
        if extra:
            z.writestr(f"{pkg}/extra.py", "VALUE = 2\n")


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """(archive path, package name, list of directory reads of the
    archive) after importing ``<package>.sub`` from the zip."""
    pkg = f"zpkg_{tmp_path.name.replace('-', '_')}"
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, pkg)
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{pkg}.sub")
    yield archive, pkg, reads
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive: str) -> list:
    return [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]


def test_unchanged_zip_is_not_reread(zipped):
    """(a) After one read, repeated invalidations of an unchanged zip
    read its directory 0 times, for all of its importers."""
    archive, _, reads = zipped
    assert len(_importers(archive)) >= 2  # the path entry and the package
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread(zipped):
    """(b) A zip rewritten with an added module is read again, and the
    new module imports."""
    archive, pkg, reads = zipped
    importlib.invalidate_caches()
    _write_zip(archive, pkg, extra=True)
    reads.clear()
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module(f"{pkg}.extra").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_deleted_zip_is_dropped(zipped, tmp_path):
    """(c) A deleted zip keeps the original drop semantics: no error,
    no cached directory, every importer left with no files."""
    archive, _, _ = zipped
    importlib.invalidate_caches()
    (tmp_path / "pkg.zip").unlink()
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert all(not imp._files for imp in _importers(archive))


@pytest.mark.skipif(not _GATED, reason="no gate on CPython 3.13+")
def test_install_wraps_once(monkeypatch):
    """(d) Installing again over an installed gate wraps nothing twice."""
    from mr_py_spark import _zipimport

    original = zipimport.zipimporter.invalidate_caches.__wrapped__
    assert not hasattr(original, "__wrapped__")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    _zipimport.install()
    gated = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is gated
    assert gated.__wrapped__ is original


def test_no_gate_from_cpython_3_13(monkeypatch):
    """(e) On CPython 3.13+ (lazy invalidation) nothing is installed."""
    from mr_py_spark import _zipimport

    method = zipimport.zipimporter.invalidate_caches
    original = getattr(method, "__wrapped__", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_worker_task_runs_with_gate(spark):
    """A Python worker that unpickles a package function imports the
    package, so its tasks run with the gate installed."""
    import pyarrow as pa

    from mr_py_spark.operators.vectors import _unit_rows

    def probe(batches):
        import sys as wsys
        import zipimport as wzip

        assert callable(_unit_rows)  # pickled by reference: imports mr_py_spark
        method = wzip.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "gated": [hasattr(method, "__wrapped__")],
                "needs_gate": [wsys.version_info < (3, 13)],
            }
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(probe, "gated boolean, needs_gate boolean")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.gated == r.needs_gate for r in rows)
