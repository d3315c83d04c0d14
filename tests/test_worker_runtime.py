"""Stat-keyed zip-import invalidation in Spark Python workers
(``grenier_spark._worker``): an unchanged archive is not re-read, a changed
or deleted one behaves as under the stdlib, and the patch never reaches the
driver or CPython >= 3.13."""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from grenier_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 zipimport invalidation is already lazy")


def _write_zip(path, modules):
    """Write ``{name: source}`` as a fresh file replacing ``path`` (new inode,
    as a fetched or re-shipped archive would be)."""
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path``; its modules are unloaded afterwards."""
    path = str(tmp_path / "mods.zip")
    monkeypatch.setattr(sys, "path", [path] + sys.path)
    names = []

    def make(modules):
        names.extend(modules)
        _write_zip(path, modules)
        return path

    yield make
    for name in names:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def patched(monkeypatch):
    """The worker patch on this process, undone after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._STDLIB_INVALIDATE)
    monkeypatch.setattr(_worker, "_read_at", {})
    _worker._patch()


@pytest.fixture
def read_calls(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory`` from now on."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def fake_worker(monkeypatch):
    """sys.modules as a Spark Python worker sees them inside a task."""
    ctx = types.SimpleNamespace(TaskContext=types.SimpleNamespace(
        get=lambda: object()))
    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("w"))
    monkeypatch.setitem(sys.modules, "pyspark.taskcontext", ctx)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._STDLIB_INVALIDATE)
    monkeypatch.setattr(_worker, "_read_at", {})


@needs_eager_zipimport
def test_stdlib_rereads_unchanged_archive(zip_on_path, read_calls):
    """Control for the next test: the 3.11/3.12 stdlib re-reads every time."""
    path = zip_on_path({"wrt_ctl_a": "X = 1\n"})
    importlib.import_module("wrt_ctl_a")
    importlib.invalidate_caches()
    assert path in read_calls


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(zip_on_path, patched, read_calls):
    zip_on_path({"wrt_same_a": "X = 1\n", "wrt_same_b": "Y = 2\n"})
    importlib.import_module("wrt_same_a")
    importlib.invalidate_caches()          # first read under the patch
    read_calls.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert importlib.import_module("wrt_same_b").Y == 2
    assert read_calls == []


@needs_eager_zipimport
def test_rewritten_archive_exposes_new_module(zip_on_path, patched,
                                               read_calls):
    path = zip_on_path({"wrt_new_a": "X = 1\n"})
    importlib.import_module("wrt_new_a")
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wrt_new_b")
    read_calls.clear()
    zip_on_path({"wrt_new_a": "X = 1\n", "wrt_new_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read_calls == [path]            # one read for the changed archive
    assert importlib.import_module("wrt_new_b").Y == 2


@needs_eager_zipimport
@pytest.mark.parametrize("use_patch", [False, True], ids=["stdlib", "patched"])
def test_deleted_archive_matches_stdlib(zip_on_path, monkeypatch, use_patch):
    """Both ways the importer ends empty, the shared directory is dropped,
    and a module not yet imported from the archive is not found."""
    monkeypatch.setattr(_worker, "_read_at", {})
    if use_patch:
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            _worker._STDLIB_INVALIDATE)
        _worker._patch()
    path = zip_on_path({"wrt_del_a": "X = 1\n", "wrt_del_b": "Y = 2\n"})
    importlib.import_module("wrt_del_a")
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path]._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in _worker._read_at
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wrt_del_b")


@needs_eager_zipimport
def test_install_in_worker_is_idempotent(fake_worker, zip_on_path,
                                         read_calls):
    _worker.install()
    _worker.install()
    assert (zipimport.zipimporter.invalidate_caches
            is _worker._stat_keyed_invalidate)
    path = zip_on_path({"wrt_idem_a": "X = 1\n"})
    importlib.import_module("wrt_idem_a")
    read_calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_calls == [path]


def test_install_leaves_cpython_313_alone(fake_worker, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _worker.install()
    assert (zipimport.zipimporter.invalidate_caches
            is _worker._STDLIB_INVALIDATE)


def test_install_outside_a_task_is_a_no_op(fake_worker, monkeypatch):
    monkeypatch.setattr(sys.modules["pyspark.taskcontext"].TaskContext,
                        "get", lambda: None)
    _worker.install()
    assert (zipimport.zipimporter.invalidate_caches
            is _worker._STDLIB_INVALIDATE)


@pytest.mark.parametrize("code", [
    "import grenier_spark.core\n"
    "assert not [m for m in sys.modules if m.split('.')[0] == 'pyspark']\n",
    "import pyspark.worker, pyspark.sql\n"
    "import grenier_spark.operators.sketch_build\n",
], ids=["core_is_spark_free", "driver_keeps_stdlib"])
def test_import_in_fresh_driver(code):
    """``grenier_spark.core`` imports no pyspark, and ``import grenier_spark``
    on a driver (pyspark, even pyspark.worker, loaded but no task running)
    keeps the stdlib method."""
    subprocess.run(
        [sys.executable, "-c",
         "import sys, zipimport\n"
         "stdlib = zipimport.zipimporter.invalidate_caches\n" + code
         + "assert zipimport.zipimporter.invalidate_caches is stdlib\n"],
        cwd=REPO, check=True, timeout=120)


def test_spark_worker_task_does_not_reread_archives(spark):
    """From the second grenier_spark task in a worker on, Spark's per-task
    ``importlib.invalidate_caches()`` reads no zip directory. Each job is one
    task; the job repeats until a task lands on a worker that already ran
    one (the worker pool reuses idle workers)."""
    def probe(batches):
        """Was the patch installed by an earlier task of this worker, and
        how many archive reads does an invalidation cost now?"""
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        warm = "grenier_spark._worker" in sys.modules
        import grenier_spark  # noqa: F401  (installs the patch in this worker)

        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"warm": [warm], "reads": [len(calls)]})

    one = spark.range(1, numPartitions=1)
    warm = []
    for _ in range(8):
        (row,) = one.mapInArrow(probe, "warm boolean, reads long").collect()
        if row["warm"]:
            warm.append(row["reads"])
            if len(warm) >= 2:
                break
    assert warm, "no task reused a worker that had imported grenier_spark"
    assert warm == [0] * len(warm)
