"""The Python worker daemon entry point (plans/pydaemon.py): stamp-checked
zipimport invalidation, unit-tested without Spark, then checked inside the
workers of the shared session."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from qwen_ocr_spark.plans import pydaemon

eager_only = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter already re-reads lazily")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@eager_only
def test_unchanged_archive_is_read_once(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pydaemon_probe_a": "A = 1\n"})
    first, second = zipimport.zipimporter(path), zipimport.zipimporter(path)
    reads.clear()
    pydaemon.invalidate_caches(first)   # never stamped: one read
    pydaemon.invalidate_caches(first)
    pydaemon.invalidate_caches(second)  # same archive, same stamp
    assert reads == [path]
    assert first._files is second._files


@eager_only
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, reads):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pydaemon_probe_old": "OLD = 1\n"})
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("pydaemon_probe_old").OLD == 1
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert path not in reads
        _write_zip(path, {"pydaemon_probe_old": "OLD = 1\n",
                          "pydaemon_probe_new": "NEW = 2\n"})
        importlib.invalidate_caches()
        assert path in reads
        assert importlib.import_module("pydaemon_probe_new").NEW == 2
    finally:
        for name in ("pydaemon_probe_old", "pydaemon_probe_new"):
            sys.modules.pop(name, None)


def test_install_only_on_eager_interpreters(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport.zipimporter, "_get_files",
                        lambda self: {}, raising=False)
    before = zipimport.zipimporter.invalidate_caches
    assert pydaemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is before
    monkeypatch.delattr(zipimport.zipimporter, "_get_files")
    assert pydaemon.install() is True
    assert zipimport.zipimporter.invalidate_caches is pydaemon.invalidate_caches


def test_daemon_conf_points_local_workers_at_the_package():
    from qwen_ocr_spark.plans.session import DAEMON_MODULE, python_daemon_conf

    conf = python_daemon_conf("local[2]")
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    root = conf["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, *DAEMON_MODULE.split("."))
                          + ".py")
    assert python_daemon_conf("spark://elsewhere:7077") == {}


@eager_only
def test_workers_run_the_program_daemon(spark):
    """Every task's ``importlib.invalidate_caches()`` in the shared
    session's workers goes through the stamp-checked version."""
    @F.pandas_udf("string")
    def invalidator_file(s):
        import zipimport
        f = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        return s.map(lambda _: f)

    got = {r[0] for r in spark.range(8).repartition(4)
           .select(invalidator_file("id")).collect()}
    assert {os.path.realpath(p) for p in got} == {
        os.path.realpath(pydaemon.__file__)}


def test_py_file_added_after_worker_start_imports(spark, tmp_path):
    @F.pandas_udf("long")
    def warm(s):
        return s

    spark.range(4).repartition(2).select(warm("id")).collect()
    path = tmp_path / "pydaemon_late.zip"
    _write_zip(path, {"pydaemon_late_mod": "VALUE = 7\n"})
    spark.sparkContext.addPyFile(str(path))

    @F.pandas_udf("long")
    def late(s):
        import pydaemon_late_mod
        return s * 0 + pydaemon_late_mod.VALUE

    got = {r[0] for r in spark.range(8).repartition(4)
           .select(late("id")).collect()}
    assert got == {7}
