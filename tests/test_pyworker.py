"""kawa_spark.pyworker: the stat-guarded zip-directory cache of the
Python worker daemon.

The unit tests drive the guard on archives of their own, with no Spark;
the Spark tests check the daemon that ``get_spark`` sessions start."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from kawa_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.implementation.name == "cpython" and sys.version_info < (3, 12)
needs_guard = pytest.mark.skipif(not GUARDED, reason="stock re-reads lazily here")


def _write(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A fresh archive path; the guard's stamps start empty, and the
    archive's cache entry and modules are dropped afterwards."""
    monkeypatch.setattr(pyworker, "_stamps", {})
    path = str(tmp_path / f"kpw_{uuid.uuid4().hex[:8]}.zip")
    before = set(sys.modules)
    yield path
    zipimport._zip_directory_cache.pop(path, None)
    sys.path_importer_cache.pop(path, None)
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    return reads


@needs_guard
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    _write(archive, {"kpw_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        pyworker.invalidate_caches(imp)
    assert reads == [archive]  # the first call stamps it
    assert imp._files is zipimport._zip_directory_cache[archive]
    pyworker._stock(imp)  # the stock method re-reads every time
    assert reads == [archive, archive]


@needs_guard
@pytest.mark.parametrize("how", ["in_place", "replace"])
def test_rewritten_archive_is_reread(archive, monkeypatch, how):
    """A module added to the archive is importable after the next
    ``importlib.invalidate_caches()``, rewritten in place (same inode)
    or replaced by a rename (new inode)."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    a, b = f"kpw_a_{how}", f"kpw_b_{how}"
    _write(archive, {a: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(a).X == 1
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()  # stamps the archive
    importlib.invalidate_caches()  # unchanged: kept
    assert reads == [archive]
    with pytest.raises(ImportError):
        importlib.import_module(b)
    if how == "in_place":
        _write(archive, {a: "X = 1\n", b: "Y = 2\n"})
    else:
        _write(archive + ".new", {a: "X = 1\n", b: "Y = 2\n"})
        os.replace(archive + ".new", archive)
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importlib.import_module(b).Y == 2


@needs_guard
def test_deleted_archive_drops_its_cache(archive):
    _write(archive, {"kpw_gone": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    pyworker.invalidate_caches(imp)
    assert archive in pyworker._stamps
    os.remove(archive)
    pyworker.invalidate_caches(imp)
    assert archive not in zipimport._zip_directory_cache
    assert archive not in pyworker._stamps
    assert imp._files == {}


def test_install_is_gated_on_the_eager_versions(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker._stock


def _worker_report():
    """A partition function (nested, so it pickles by value) that reports
    its worker's pid, the file of the zipimporter's invalidate_caches and
    how many archives a second ``importlib.invalidate_caches()`` reads."""

    def report(_rows):
        import importlib
        import os
        import zipimport

        reads: list[str] = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
        yield (os.getpid(), code.co_filename if code else "", len(reads))

    return report


@needs_guard
def test_worker_runs_the_guard(spark):
    (pid, filename, reads), = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_report()).collect()
    )
    assert pid != os.getpid()
    assert filename == os.path.join(ROOT, "kawa_spark", "pyworker.py")
    assert reads == 0


def test_py_file_added_after_the_daemon_started(spark, tmp_path):
    spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_report()).collect()
    name = f"kpw_late_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write(path, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def read_value(_rows):
        yield importlib.import_module(name).VALUE

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(read_value).collect() == [42]


_MAIN_UDF = """
import os
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from kawa_spark.session import get_spark
from kawa_spark.sources.replay import register_replay_source

@F.pandas_udf(LongType())
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

spark = get_spark(app_name="kpw_cwd", master="local[1]",
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
rows = spark.range(5).select(plus_one("id").alias("v")).collect()
print("RESULT", sorted(r.v for r in rows))
with open("lines.log", "w") as f:
    f.write("a\\nb\\nc\\n")
register_replay_source(spark)
q = (spark.readStream.format("kawa_replay")
     .option("path", os.path.abspath("lines.log")).load()
     .writeStream.format("memory").queryName("replayed")
     .trigger(availableNow=True).start())
q.awaitTermination(120)
print("REPLAYED", spark.table("replayed").count())
spark.stop()
"""


def test_main_pandas_udf_from_a_foreign_cwd(tmp_path):
    """A session started from a directory outside the repo, which finds
    kawa_spark only through ``sys.path``: its workers still fork from
    the daemon module, so a failing daemon import fails the UDF job, and
    the Python streaming source runner (which ignores ``addPyFile``)
    still imports the replay reader."""
    script = tmp_path / "main_udf.py"
    script.write_text(textwrap.dedent(_MAIN_UDF.format(root=ROOT)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "RESULT [1, 2, 3, 4, 5]" in out.stdout
    assert "REPLAYED 3" in out.stdout
