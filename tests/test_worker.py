"""Spark Python-worker setup (hive_jq_udtf_spark/worker.py): an
unchanged zip archive is not re-read on ``importlib.invalidate_caches``,
a changed one is, and only Spark's Python workers get the change."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from hive_jq_udtf_spark import worker
from hive_jq_udtf_spark.udtf import jq_explode, register


def _write_zip(path, modules):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    tmp.replace(path)  # a new inode, as a rewrite by another process gives


def test_unchanged_archive_not_reread_changed_archive_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"jqw_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("jqw_first", "jqw_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("jqw_first").X == 1

    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker.invalidate_caches)
    importlib.invalidate_caches()  # the first check has no stamp: it reads
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, {"jqw_first": "X = 1\n", "jqw_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("jqw_second").Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_install_only_in_a_worker_before_python_3_13(monkeypatch):
    from pyspark.core.files import SparkFiles

    stdlib = worker._STDLIB_INVALIDATE
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    worker.install()  # this test process is a Spark driver
    assert zipimport.zipimporter.invalidate_caches is stdlib

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0))
        worker.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib

    worker.install()
    expect = stdlib if sys.version_info >= (3, 13) else worker.invalidate_caches
    assert zipimport.zipimporter.invalidate_caches is expect


def test_spark_workers_run_engine_invalidate_caches(spark):
    """After two Python-tier queries, every worker that runs a UDF
    reports the engine's ``invalidate_caches`` and no zip read on an
    unchanged archive; the driver keeps the stdlib one."""
    if sys.version_info >= (3, 13):
        pytest.skip("zipimporter invalidation is lazy on Python >= 3.13")
    df = spark.createDataFrame([(i, f'{{"a":{i},"xs":[{i}]}}') for i in range(8)], "k int, j string")
    assert jq_explode(df, "j", ".xs[]", "v:int").count() == 8
    register(spark, "jq")
    df.createOrReplaceTempView("jqw_docs")
    lateral = "SELECT v.a FROM jqw_docs d, LATERAL jq(d.j, '{a: .a}', 'a:int') v"
    assert spark.sql(lateral).count() == 8

    @F.pandas_udf("string")
    def report(s):
        import importlib as il
        import sys as _sys
        import zipimport as zi

        from hive_jq_udtf_spark import worker as w

        zips = sum(isinstance(f, zi.zipimporter) for f in _sys.path_importer_cache.values())
        reads = []
        stdlib_read = zi._read_directory
        zi._read_directory = lambda path: reads.append(path) or stdlib_read(path)
        try:
            il.invalidate_caches()  # a fresh importer's first check reads
            reads.clear()
            il.invalidate_caches()
        finally:
            zi._read_directory = stdlib_read
        engine = zi.zipimporter.invalidate_caches is w.invalidate_caches
        return s.map(lambda _: f"{engine}:{zips > 0}:{len(reads)}")

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(report(F.col("id").cast("string"))).collect()}
    assert got == {"True:True:0"}
    assert zipimport.zipimporter.invalidate_caches is worker._STDLIB_INVALIDATE
