"""``worker_imports``: Python workers stop re-reading unchanged zip
archives on every task's ``importlib.invalidate_caches()``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from access_log_parser_spark import worker_imports

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip archives lazily"
)


@pytest.fixture
def as_worker(monkeypatch):
    """Pretend this process is a PySpark worker; the patched method and
    the flag are restored afterwards."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``alp_zip_probe``; returns
    (archive path, writer) where ``writer(body)`` rewrites the archive."""
    path = str(tmp_path / "probe.zip")

    def write(body: str) -> None:
        tmp = path + ".new"
        with zipfile.ZipFile(tmp, "w") as zf:
            zf.writestr("alp_zip_probe.py", body)
        os.replace(tmp, path)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "alp_zip_probe", raising=False)
    yield path, write
    sys.modules.pop("alp_zip_probe", None)
    sys.path_importer_cache.pop(path, None)


def test_noop_on_driver():
    assert worker_imports.install() is False
    assert zipimport.zipimporter.invalidate_caches is not worker_imports._invalidate_caches


def test_noop_on_python_313(as_worker, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert worker_imports.install() is False
    assert zipimport.zipimporter.invalidate_caches is not worker_imports._invalidate_caches


@old_python
def test_unchanged_archive_is_not_reread(as_worker, zip_module, monkeypatch):
    path, write = zip_module
    assert worker_imports.install() is True
    import alp_zip_probe

    assert alp_zip_probe.VALUE == 1
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # an importer's first call reads
    before = reads.count(path)
    importlib.invalidate_caches()
    assert reads.count(path) == before

    # a rewritten archive is re-read and its new module body imports
    write("VALUE = 22\n")
    importlib.invalidate_caches()
    assert reads.count(path) == before + 1
    del sys.modules["alp_zip_probe"]
    import alp_zip_probe

    assert alp_zip_probe.VALUE == 22


def test_patch_reaches_every_spark_worker(spark):
    """After an engine call, every Python worker that runs a probe task has
    the package imported and, on CPython < 3.13, the patch in place."""
    from pyspark.sql import functions as F

    from access_log_parser_spark import parse_documents

    pages = spark.range(0, 8, 1, 4).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit("status:200\nbad").alias("text"),
    )
    assert parse_documents(pages, "ltsv").count() == 16

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        imported = "access_log_parser_spark" in sys.modules
        import access_log_parser_spark.worker_imports as wi

        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "imported": imported,
            "patched": zipimport.zipimporter.invalidate_caches is wi._invalidate_caches,
        }])

    rows = spark.range(0, 4, 1, 4).mapInArrow(
        probe, "pid long, imported boolean, patched boolean"
    ).collect()
    assert any(r.imported for r in rows)  # workers are reused across jobs
    assert all(r.patched == (sys.version_info < (3, 13)) for r in rows)


def test_one_worker_pool_env_follows_the_traceback_conf():
    from access_log_parser_spark.session import _TRACEBACK_CONF, _one_worker_pool

    env = {"spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK": "1"}
    assert _one_worker_pool({}, False) == env
    assert _one_worker_pool({_TRACEBACK_CONF: "true"}, False) == env
    assert _one_worker_pool({_TRACEBACK_CONF: "false"}, False) == {}


def test_rdd_and_arrow_tasks_share_one_patched_worker_pool(spark):
    """A Python-RDD task (what a ``createDataFrame(list)`` lookup runs) and
    a ``mapInArrow`` task fork from the same daemon, so once the engine has
    run in the pool, RDD tasks run in patched workers too."""
    from pyspark.sql import functions as F

    from access_log_parser_spark import parse_documents

    assert spark.sparkContext.environment["SPARK_SIMPLIFIED_TRACEBACK"] == "1"
    # more tasks than slots: idle workers are reused first-in first-out, so
    # every worker in the pool runs an engine task
    pages = spark.range(0, 64, 1, 16).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit("status:200\nbad").alias("text"),
    )
    assert parse_documents(pages, "ltsv").count() == 128

    def rdd_probe(_):
        import os
        import zipimport

        patched = zipimport.zipimporter.invalidate_caches.__module__
        yield os.getppid(), patched == "access_log_parser_spark.worker_imports"

    def arrow_probe(batches):
        import os

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"daemon": os.getppid()}])

    rdd = spark.sparkContext.parallelize(range(4), 4).mapPartitions(rdd_probe).collect()
    arrow = spark.range(0, 4, 1, 4).mapInArrow(arrow_probe, "daemon long").collect()
    daemons = {d for d, _ in rdd} | {r.daemon for r in arrow}
    assert len(daemons) == 1, daemons
    assert all(patched == (sys.version_info < (3, 13)) for _, patched in rdd)


def test_udf_traceback_stays_simplified(spark):
    """The shared env keeps SQL Python errors free of PySpark's own frames."""
    from pyspark.sql import functions as F

    @F.udf("int")
    def boom(x):
        raise ValueError("alp-boom")

    with pytest.raises(Exception) as err:
        spark.range(1).select(boom("id")).collect()
    assert "alp-boom" in str(err.value)
    assert "pyspark/worker.py" not in str(err.value)
