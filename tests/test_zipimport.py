"""Lazy zip-import cache invalidation (deidcm_spark._zipimport): the
3.13 semantics installed on older interpreters — an unchanged archive is
not re-read by ``importlib.invalidate_caches()``, a changed one is still
seen — and the Python workers running with it from their first task (they
fork from ``deidcm_spark._daemon``, which installed it)."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from collections import defaultdict

import pytest

from deidcm_spark import _zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path; the modules imported from it are
    dropped from sys.modules afterwards."""
    path = str(tmp_path / "mods.zip")
    before = set(sys.modules)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in set(sys.modules) - before:
        if name.startswith("zipmod_"):
            del sys.modules[name]
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def read_counter(monkeypatch):
    """Counts zipimport._read_directory calls, per archive."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_invalidate_does_not_reread_unchanged_archive(zip_on_path, read_counter):
    _write_zip(zip_on_path, {"zipmod_a": 1, "zipmod_b": 2})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_a").VALUE == 1
    read_counter.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert read_counter == []
    # the next lookup re-reads the invalidated archive once
    assert importlib.import_module("zipmod_b").VALUE == 2
    assert read_counter.count(zip_on_path) == 1


def test_module_added_after_first_import_is_found(zip_on_path):
    _write_zip(zip_on_path, {"zipmod_c": 1})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_c").VALUE == 1
    _write_zip(zip_on_path, {"zipmod_c": 1, "zipmod_d": 4})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_d").VALUE == 4


def test_zipimporter_created_after_install(tmp_path):
    # 3.11/3.12 __init__ assigns _files before archive: the shim's setter
    # must cope with an instance that has no archive yet
    path = str(tmp_path / "late.zip")
    _write_zip(path, {"zipmod_late": 7})
    importer = zipimport.zipimporter(path)
    try:
        spec = importer.find_spec("zipmod_late")
        assert spec is not None and importer.is_package("zipmod_late") is False
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.VALUE == 7
        assert importer.find_spec("zipmod_missing") is None
    finally:
        zipimport._zip_directory_cache.pop(path, None)


def test_install_is_idempotent():
    # importing deidcm_spark already installed it (or the interpreter is
    # natively lazy): further calls change nothing
    before = zipimport.zipimporter.invalidate_caches
    assert _zipimport.install() is False
    assert _zipimport.install() is False
    assert zipimport.zipimporter.invalidate_caches is before
    assert hasattr(zipimport.zipimporter, "_get_files")


def test_package_import_installs_it_in_a_fresh_interpreter(tmp_path):
    """Before ``import deidcm_spark`` an unchanged archive is re-read on
    every invalidation (unless the interpreter is natively lazy); after,
    never."""
    path = str(tmp_path / "fresh.zip")
    _write_zip(path, {"zipmod_fresh": 1})
    script = textwrap.dedent(f"""
        import importlib, sys, zipimport
        sys.path.insert(0, {path!r})
        import zipmod_fresh
        native = hasattr(zipimport.zipimporter, "_get_files")
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or real(a)
        importlib.invalidate_caches()
        before = len(calls)
        import deidcm_spark
        del calls[:]
        importlib.invalidate_caches()
        print(native, before, len(calls))
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": ROOT}, check=True,
    ).stdout.split()
    native, before, after = out[0] == "True", int(out[1]), int(out[2])
    assert native or before >= 1
    assert after == 0


def test_workers_invalidate_lazily_after_their_first_task(spark):
    if _zipimport.NATIVE_LAZY:
        pytest.skip("this interpreter's zipimporter is lazy without the shim")
    rows = (
        spark.range(0, 16, numPartitions=16)
        .mapInArrow(_zipimport.worker_report, "pid long, lazy_invalidations long")
        .collect()
    )
    assert len(rows) == 16
    by_pid = defaultdict(list)
    for r in rows:
        by_pid[r.pid].append(r.lazy_invalidations)
    assert len(by_pid) < 16, "no Python worker was reused"
    for counts in by_pid.values():
        counts.sort()
        # the workers fork from deidcm_spark._daemon, which installed the
        # shim: a fresh worker's first start-up invalidation went through it
        # too, and every later task's added to the count
        assert counts[0] > 0, counts
        assert all(b > a for a, b in zip(counts, counts[1:])), counts
