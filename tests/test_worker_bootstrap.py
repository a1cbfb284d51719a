"""The worker bootstrap (phphll_spark/_worker.py): zipimporter cache
invalidation re-reads an archive's directory only when the archive changed.

The unit tests patch a private copy of the ``zipimport`` module, never the
test process's own, and route imports through it by placing its
zipimporters in ``sys.path_importer_cache``. The Spark tests check the
real thing inside PySpark workers."""

from __future__ import annotations

import importlib
import importlib.util
import sys
import uuid
import zipfile
import zipimport

import pytest

from phphll_spark import _worker

needs_eager_zipimport = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13),
    reason="zipimport invalidation is already lazy here; install is a no-op",
)


def _write_zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def _private_zipimport():
    """A fresh copy of the stdlib zipimport module: its own zipimporter
    class and directory cache, with every directory read counted."""
    spec = importlib.util.spec_from_file_location("_zipimport_under_test", zipimport.__file__)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.reads = []
    read_directory = mod._read_directory

    def counted(archive):
        mod.reads.append(archive)
        return read_directory(archive)

    mod._read_directory = counted
    return mod


@pytest.fixture
def zi(monkeypatch):
    mod = _private_zipimport()
    mod.added = []  # module names imported from private archives

    def mount(path: str):
        """Put a private zipimporter for ``path`` where imports find it."""
        importer = mod.zipimporter(path)
        monkeypatch.setitem(sys.path_importer_cache, path, importer)
        return importer

    mod.mount = mount
    yield mod
    for name in mod.added:
        sys.modules.pop(name, None)


def _name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:10]}"


def _import(zi, name):
    zi.added.append(name)
    return importlib.import_module(name)


@needs_eager_zipimport
def test_unchanged_archive_is_never_reread(zi, tmp_path, monkeypatch):
    mod_name = _name("zmod")
    archive = _write_zip(tmp_path / "a.zip", {f"{mod_name}.py": "VALUE = 1\n"})
    assert _worker.install(zi)
    zi.mount(archive)
    monkeypatch.syspath_prepend(archive)
    assert _import(zi, mod_name).VALUE == 1
    zi.reads.clear()
    for _ in range(20):
        importlib.invalidate_caches()
    assert zi.reads == []


@needs_eager_zipimport
def test_eager_invalidation_rereads_without_install(zi, tmp_path, monkeypatch):
    # the cost the bootstrap removes: one full directory read per call
    archive = _write_zip(tmp_path / "a.zip", {"x.py": ""})
    zi.mount(archive)
    monkeypatch.syspath_prepend(archive)
    zi.reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert zi.reads == [archive] * 5


@needs_eager_zipimport
def test_rewritten_archive_is_visible_after_one_invalidate(zi, tmp_path, monkeypatch):
    pkg, old, new = _name("zpkg"), _name("zold"), _name("znew")
    path = tmp_path / "a.zip"
    archive = _write_zip(path, {f"{pkg}/__init__.py": "", f"{old}.py": "VALUE = 1\n"})
    assert _worker.install(zi)
    zi.mount(archive)
    # a second zipimporter over the same archive (a package directory),
    # as a worker holds for pyspark.zip's subpackages
    zi.mount(f"{archive}/{pkg}")
    monkeypatch.syspath_prepend(archive)
    assert _import(zi, old).VALUE == 1
    _write_zip(
        path,
        {
            f"{pkg}/__init__.py": "",
            f"{pkg}/sub.py": "VALUE = 3\n",
            f"{old}.py": "VALUE = 1\n",
            f"{new}.py": "VALUE = 2\n",
        },
    )
    with pytest.raises(ModuleNotFoundError):
        _import(zi, new)  # the directory cache still holds the old archive
    zi.reads.clear()
    importlib.invalidate_caches()
    assert zi.reads == [archive]  # one read shared by both zipimporters
    assert _import(zi, new).VALUE == 2
    assert _import(zi, f"{pkg}.sub").VALUE == 3
    zi.added.append(pkg)


@needs_eager_zipimport
def test_zipimporter_created_after_install_imports(zi, tmp_path, monkeypatch):
    assert _worker.install(zi)
    mod_name = _name("zlate")
    archive = _write_zip(tmp_path / "late.zip", {f"{mod_name}.py": "VALUE = 7\n"})
    zi.mount(archive)
    monkeypatch.syspath_prepend(archive)
    assert _import(zi, mod_name).VALUE == 7
    assert zi.reads == [archive]


@needs_eager_zipimport
def test_deleted_archive_falls_back_to_eager_invalidation(zi, tmp_path, monkeypatch):
    path = tmp_path / "gone.zip"
    archive = _write_zip(path, {"x.py": ""})
    assert _worker.install(zi)
    importer = zi.mount(archive)
    path.unlink()
    importlib.invalidate_caches()
    assert importer._files == {} and archive not in zi._zip_directory_cache


def test_install_is_idempotent(zi):
    first = _worker.install(zi)
    patched = zi.zipimporter.invalidate_caches
    assert _worker.install(zi) is first
    assert zi.zipimporter.invalidate_caches is patched


def test_install_is_a_noop_on_lazy_interpreters(zi, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    eager, read_directory = zi.zipimporter.invalidate_caches, zi._read_directory
    assert _worker.install(zi) is False
    assert zi.zipimporter.invalidate_caches is eager
    assert zi._read_directory is read_directory


def test_driver_process_is_left_alone():
    # the package is imported in this (driver) process with pyspark loaded
    # and no task running: the bootstrap must not touch the stdlib
    assert not getattr(zipimport.zipimporter, _worker._INSTALLED, False)


# --- inside PySpark workers ----------------------------------------------


def test_workers_report_the_check_installed(spark):
    from phphll_spark.functions import hll_count_distinct

    df = spark.range(0, 400, numPartitions=4).selectExpr(
        "cast(id % 4 as string) AS k", "cast(id AS string) AS v"
    )
    assert hll_count_distinct(df, ["k"], "v").count() == 4
    mark = _worker._INSTALLED

    # the default pickles a reference to the library, so unpickling this
    # function imports the package in the worker like any library UDF
    def probe(batches, _library=hll_count_distinct):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        installed = getattr(zipimport.zipimporter, mark, False)
        importlib.invalidate_caches()  # archives read before install: once
        reads = []
        checked = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return checked(archive)

        zipimport._read_directory = counted
        try:
            for _ in range(3):
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = checked
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed], "reads": [len(reads)], "zipimporters": [len(zips)]}
        )

    rows = df.mapInArrow(probe, "installed boolean, reads long, zipimporters long").collect()
    assert len(rows) == 4
    for r in rows:
        if sys.implementation.name == "cpython" and sys.version_info < (3, 13):
            assert r.installed
        assert r.zipimporters > 0  # pyspark.zip at least: the reads below are real
        assert r.reads == 0


def test_add_py_file_archive_imports_in_workers(spark, tmp_path):
    from phphll_spark.functions import hll_count_distinct

    mod_name = _name("shipped")
    archive = _write_zip(tmp_path / f"{mod_name}.zip", {f"{mod_name}.py": "ANSWER = 42\n"})
    # warm every worker slot with the library first, then ship the archive
    spark.range(0, 8, numPartitions=4).mapInArrow(
        lambda it, _library=hll_count_distinct: it, "id long"
    ).collect()
    spark.sparkContext.addPyFile(archive)

    def use(batches, _library=hll_count_distinct):
        import importlib

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"answer": [importlib.import_module(mod_name).ANSWER]})

    rows = spark.range(0, 8, numPartitions=4).mapInArrow(use, "answer long").collect()
    assert [r.answer for r in rows] == [42] * 4
