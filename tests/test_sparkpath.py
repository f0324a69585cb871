"""Spark's own archives are not re-read on every task (``sparkpath``).

Spark's worker calls ``importlib.invalidate_caches()`` before each task,
and CPython's ``zipimporter`` then re-reads its whole archive directory.
These tests count those re-reads (``zipimport._read_directory`` calls)
rather than time them."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from databatchprotectionservice_spark import sparkpath


def test_spark_archive_predicate():
    root = "/tmp/spark-1/userFiles-2"
    spark = sparkpath.is_spark_archive
    assert spark("/srv/spark/python/lib/pyspark.zip", root)
    assert spark("/srv/spark/python/lib/py4j-0.10.9.9-src.zip", root)
    assert spark("/srv/spark/jars/spark-core_2.13-4.1.2.jar", root)
    # shipped files land under the SparkFiles root and stay plain,
    # whatever their name
    assert not spark(f"{root}/deps.zip", root)
    assert not spark(f"{root}/pyspark.zip", root)
    assert not spark(f"{root}/lib.jar", root)
    assert not spark(f"{root}/sub/../py4j-1-src.zip", root)
    # a sibling directory whose name extends the root is not under it
    assert spark(f"{root}x/pyspark.zip", root)
    assert not spark("/srv/spark/deps.zip", root)
    assert not spark("/srv/spark/py4j.zip", root)
    assert not spark("/srv/spark/pyspark.zip.bak", root)


def _zip(path, module):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}/__init__.py", "")
    return str(path)


@pytest.fixture
def fake_worker(tmp_path, monkeypatch):
    """This process as a Spark worker: a SparkFiles root, and private copies
    of the import system's hook list and importer cache."""
    from pyspark.core.files import SparkFiles

    files_root = tmp_path / "files"
    files_root.mkdir()
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(files_root))
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    return tmp_path


def test_freeze_is_idempotent(fake_worker):
    spark_zip = _zip(fake_worker / "lib" / "pyspark.zip", "pkg")
    user_zip = _zip(fake_worker / "files" / "pyspark.zip", "pkg")
    sys.path_importer_cache[spark_zip] = zipimport.zipimporter(spark_zip)
    sys.path_importer_cache[user_zip] = zipimport.zipimporter(user_zip)

    sparkpath.freeze_spark_archives()
    hooks = list(sys.path_hooks)
    entries = dict(sys.path_importer_cache)
    assert hooks.count(sparkpath._frozen_zip_hook) == 1
    assert zipimport.zipimporter not in hooks
    assert type(entries[spark_zip]) is sparkpath.FrozenZipImporter
    assert type(entries[user_zip]) is zipimport.zipimporter

    sparkpath.freeze_spark_archives()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache.keys() == entries.keys()
    for path, importer in sys.path_importer_cache.items():
        assert importer is entries[path] and type(importer) is type(entries[path])

    # importers the hook creates later, e.g. for a pyspark subpackage
    hook = sparkpath._frozen_zip_hook
    assert type(hook(spark_zip + "/pkg")) is sparkpath.FrozenZipImporter
    assert type(hook(user_zip + "/pkg")) is zipimport.zipimporter
    with pytest.raises(zipimport.ZipImportError):
        hook(str(fake_worker))


def test_outside_a_worker_nothing_changes(monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    hooks = list(sys.path_hooks)
    sparkpath.freeze_spark_archives()
    assert sys.path_hooks == hooks


def _count_rereads(batches):
    """Arrow UDF body: how often one ``invalidate_caches()`` re-reads Spark's
    archives and the shipped probe zip, inside a worker."""
    import py4j
    import pyspark

    import databatchprotectionservice_spark  # noqa: F401  (freezes)
    import dbps_sparkpath_probe  # the shipped zip now has an importer

    for _ in batches:
        pass
    spark_archives = {
        mod.__spec__.loader.archive
        for mod in (pyspark, py4j)
        if isinstance(mod.__spec__.loader, zipimport.zipimporter)
    } | {p for p in sys.path if p.endswith(".jar")}
    user_archive = dbps_sparkpath_probe.__spec__.loader.archive

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    yield pa.RecordBatch.from_pydict(
        {
            "spark_archives": [len(spark_archives)],
            "spark_rereads": [sum(a in spark_archives for a in reads)],
            "user_rereads": [reads.count(user_archive)],
        }
    )


def test_worker_rereads_only_shipped_archives(spark, tmp_path):
    spark.sparkContext.addPyFile(_zip(tmp_path / "probe.zip", "dbps_sparkpath_probe"))
    schema = "spark_archives long, spark_rereads long, user_rereads long"
    for _ in range(2):  # a fresh worker, then a warm one
        row = spark.range(1, numPartitions=1).mapInArrow(_count_rereads, schema).first()
        assert row.spark_archives >= 1  # the worker imports pyspark from its zip
        assert row.spark_rereads == 0
        assert row.user_rereads >= 1
