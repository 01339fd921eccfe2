"""The Python worker daemon (pyworker.py): a zip directory is re-read
only when the archive changed, a changed or newly shipped archive is
still importable, the engine's sessions fork their workers from the
daemon, and every ENGINE_CONFS entry stays settable at runtime."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from embarrassingly_parallel_image_classification_spark import pyworker
from embarrassingly_parallel_image_classification_spark.session import ENGINE_CONFS

# a fixed member timestamp, so two archives with equal-length contents
# have equal sizes
_ZIP_TIME = (2020, 1, 1, 0, 0, 0)


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write modules {name: source} into the zip at path, in place."""
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(zipfile.ZipInfo(f"{name}.py", _ZIP_TIME), src)


@pytest.fixture
def rule(monkeypatch):
    """The rule installed in this process for one test, with every
    zipimport directory read counted per archive."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker.install()
    reads: dict[str, int] = {}
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A fresh zip on sys.path holding one module; yields (path, name)."""
    name = f"graft_zip_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {f"{name}_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path, name
    for mod in [m for m in sys.modules if m.startswith(name)]:
        del sys.modules[mod]


def test_unchanged_archive_is_not_reread(rule, zip_on_path):
    path, name = zip_on_path
    assert importlib.import_module(f"{name}_a").VALUE == 1
    importlib.invalidate_caches()
    first = rule.get(path, 0)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert rule.get(path, 0) == first, "an unchanged archive was read again"
    assert importlib.import_module(f"{name}_a").VALUE == 1


@pytest.mark.parametrize("changed", ["size", "mtime"])
def test_rewritten_archive_is_reread(rule, zip_on_path, changed):
    """Rewrite the archive in place (same inode) so that only its size,
    or only its mtime, tells it apart; the new module must import."""
    path, name = zip_on_path
    assert importlib.import_module(f"{name}_a").VALUE == 1
    importlib.invalidate_caches()  # the rule has now read this archive
    before = os.stat(path)
    if changed == "size":
        _write_zip(path, {f"{name}_a": "VALUE = 1\n", f"{name}_b": "VALUE = 2\n"})
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    else:
        _write_zip(path, {f"{name}_b": "VALUE = 2\n"})  # same length as _a
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    after = os.stat(path)
    assert after.st_ino == before.st_ino
    assert (after.st_size != before.st_size) == (changed == "size")
    assert (after.st_mtime_ns != before.st_mtime_ns) == (changed == "mtime")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{name}_b").VALUE == 2


def test_spark_workers_run_the_rule(spark):
    def rule_module(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(rule_module).collect()
    assert got == [pyworker.__name__]


def test_added_py_file_is_importable_by_the_next_task(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).map(lambda x: x).collect()  # workers are up
    name = f"graft_shipped_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    sc.addPyFile(path)

    def shipped_value(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).mapPartitions(shipped_value).collect() == [42]


def test_engine_confs_are_all_runtime_settable(spark):
    """apply_engine_confs sets every ENGINE_CONFS entry before each query
    and swallows failures; a launch-only conf belongs in get_spark."""
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)
