"""zipimport's directory re-read is gated on archive change
(ocr_service_spark/_zipimport.py): the `importlib.invalidate_caches()`
that starts every PySpark task re-reads a zip only when it changed."""

import importlib
import os
import statistics
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocr_service_spark import _zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def eager(monkeypatch):
    """The interpreter's eager method and an empty stamp table, so the
    test installs the gate itself; teardown restores the package's gate."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipimport._eager)
    monkeypatch.setattr(_zipimport, "_stamps", {})


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport's directory parser, in order."""
    seen = []
    parse = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return parse(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(archive, name, modules):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}/__init__.py", "")
        for mod in modules:
            z.writestr(f"{name}/{mod}.py", f"NAME = {mod!r}\n")


@pytest.fixture
def zpkg(request, tmp_path, monkeypatch):
    """A package `name` imported from a temp zip: one importer for the
    archive, one for the package directory inside it."""
    name = f"zpkg_{request.node.name.replace('test_', '')}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, name, ["a"])
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{name}.a")
    yield archive, name
    for mod in [m for m in sys.modules if m == name or m.startswith(name + ".")]:
        del sys.modules[mod]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive):
    return [i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter) and i.archive == archive]


def test_unchanged_archive_is_not_reread(eager, zpkg, reads):
    archive, _ = zpkg
    n_importers = len(_importers(archive))
    assert n_importers >= 2
    importlib.invalidate_caches()
    assert reads.count(archive) == n_importers, "eager: one read per importer"

    _zipimport.install()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, "the first gated call: one read for all importers"
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_rewritten_archive_is_reread_once(eager, zpkg, reads):
    archive, name = zpkg
    _zipimport.install()
    importlib.invalidate_caches()
    _write_zip(archive, name, ["a", "new_mod"])
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, "one read serves every importer"
    assert importlib.import_module(f"{name}.new_mod").NAME == "new_mod"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_deleted_archive_behaves_as_eager(eager, zpkg, reads):
    archive, _ = zpkg
    _zipimport.install()
    os.remove(archive)
    for _ in range(2):
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert all(i._files == {} for i in _importers(archive))


def test_install_is_idempotent_and_skips_313(eager, monkeypatch):
    _zipimport.install()
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is _zipimport._invalidate_caches

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipimport._eager)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is _zipimport._eager


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily")
def test_py_files_zip_installs_the_gate(tmp_path):
    """The `--py-files` deployment: the package imported from the zip of
    tools/make_pyfiles.py gates the re-read of its own zip, whose
    subpackages add importers of it: one read in three calls."""
    archive = str(tmp_path / "ocr_service_spark.zip")
    subprocess.run([sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), archive],
                   capture_output=True, timeout=60, check=True)
    code = f"""
import importlib, sys, zipimport
sys.path.insert(0, {archive!r})
import ocr_service_spark.kernel.extract_html
assert ocr_service_spark.__file__.startswith({archive!r}), ocr_service_spark.__file__
importers = [i for i in sys.path_importer_cache.values()
             if isinstance(i, zipimport.zipimporter) and i.archive == {archive!r}]
parse, reads = zipimport._read_directory, []
zipimport._read_directory = lambda a: reads.append(a) or parse(a)
for _ in range(3):
    importlib.invalidate_caches()
print(zipimport.zipimporter.invalidate_caches.__module__, len(importers), len(reads))
"""
    out = subprocess.run([sys.executable, "-I", "-c", code], cwd=tmp_path,
                         capture_output=True, text=True, timeout=60, check=True)
    module, n_importers, n_reads = out.stdout.split()
    assert module == "ocr_service_spark._zipimport"
    assert int(n_importers) >= 3 and int(n_reads) == 1


def test_worker_tasks_reread_no_zip_directory(spark):
    """Steady state in the Python workers: once a worker has imported the
    package (here through the fused UDF) and run one gated task start,
    every task's `importlib.invalidate_caches()` re-reads no zip
    directory (16 per task without the gate) and costs ~no CPU."""
    from pyspark.sql import functions as F

    from ocr_service_spark.bench_probe import worker_setup_probe
    from ocr_service_spark.corpus import corpus_df
    from ocr_service_spark.operators.extract import make_extract_correct_udf

    slots = spark.sparkContext.defaultParallelism
    (corpus_df(spark, 40, partitions=slots)
     .select(make_extract_correct_udf()(F.col("html")).alias("x"))
     .write.format("noop").mode("overwrite").save())
    tasks = worker_setup_probe(spark)
    assert len(tasks) == 2 * slots
    assert [t["reads"] for t in tasks] == [0] * len(tasks)
    assert statistics.median(t["cpu_s"] for t in tasks) <= 0.02
