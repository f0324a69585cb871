"""Spark's own archives, frozen for the life of a Python worker.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``) so that archives
shipped with ``addPyFile`` or ``--py-files`` are re-read. CPython's
``zipimporter.invalidate_caches`` re-reads the whole archive directory, and a
worker holds one importer per imported pyspark subpackage on
``pyspark.zip``, plus ``py4j-*.zip`` and Spark's jars: 100-300 ms of every
task, whatever its data.

Those archives do not change while a worker lives, so
``freeze_spark_archives`` gives their importers an ``invalidate_caches``
that does nothing. Archives under the SparkFiles root, where shipped files
land, keep CPython's behaviour. The package ``__init__`` calls it, so a
worker is frozen from the moment it imports this package; the task that
first imports it has already paid the re-read once. Outside a Spark Python
worker it does nothing.
"""

import os
import sys
import zipimport


class FrozenZipImporter(zipimport.zipimporter):
    """A zip importer whose archive directory is read once."""

    def invalidate_caches(self):
        pass


def is_spark_archive(archive: str, files_root: str) -> bool:
    """True for Spark's own archives (``pyspark.zip``, ``py4j-*.zip``, a
    ``.jar``) that do not lie under ``files_root``."""
    if os.path.abspath(archive).startswith(os.path.join(os.path.abspath(files_root), "")):
        return False
    name = os.path.basename(archive)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _worker_files_root():
    """The SparkFiles root when this process is a Spark Python worker, else
    None. The worker sets it up before it unpickles any task code."""
    spark_files = getattr(sys.modules.get("pyspark.core.files"), "SparkFiles", None)
    if spark_files is None or not spark_files._is_running_on_worker:
        return None
    return spark_files._root_directory


def _freeze_if_spark(importer) -> None:
    root = _worker_files_root()
    if root and is_spark_archive(importer.archive, root):
        importer.__class__ = FrozenZipImporter


def _frozen_zip_hook(path):
    importer = zipimport.zipimporter(path)
    _freeze_if_spark(importer)
    return importer


def freeze_spark_archives() -> None:
    """Freeze the importers of Spark's own archives in this worker, and those
    that later imports create for them. Idempotent."""
    if not _worker_files_root():
        return
    for importer in list(sys.path_importer_cache.values()):
        if type(importer) is zipimport.zipimporter:
            _freeze_if_spark(importer)
    if zipimport.zipimporter in sys.path_hooks:
        sys.path_hooks[sys.path_hooks.index(zipimport.zipimporter)] = _frozen_zip_hook
