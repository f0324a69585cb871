"""Small-file compaction — the standard maintenance operator for
100 TB-scale datasets.

A long-running ingest (or a streaming file sink: see
``streaming.pipeline.write_protected_stream``) leaves behind many small
parquet files; scans then pay per-file open/footer costs and executors
schedule thousands of tiny tasks. Compaction rewrites a dataset into
files near a target size with zero data change:

* output file count = ceil(input_bytes / target_file_bytes), measured
  through the Hadoop FS API (works on any Spark-supported filesystem,
  not just ``file:``);
* repartition by round-robin (``repartition(n)``) — an all-to-all
  exchange ONCE, amortized over every later scan; with ``sort_by`` the
  rewrite instead range-partitions and sorts so later range predicates
  prune files via parquet min/max footers;
* a protected dataset's sidecar travels along untouched — ciphertext
  cells are opaque bytes to the rewrite (deterministic encryption makes
  this safe), so compaction composes with the protection layer.

The reference has no analogue (it never owns storage layout;
``src/server/dbps_api_server.cpp`` processes request batches) — this is
part of the Spark-native operational surface around it.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession

from ..core.errors import DBPSInvalidInputError
from .protected_parquet import _read_sidecar, _write_sidecar

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of data files under ``path`` via the Hadoop FS API."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise DBPSInvalidInputError(f"no dataset at {path!r}")
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # sidecars, _SUCCESS, checkpoints, hidden files
        total += status.getLen()
    return total


def compact(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
    mode: str = "error",
) -> dict:
    """Rewrite the parquet dataset at ``in_path`` to ``out_path`` with
    ~``target_file_bytes`` files. Returns a stats dict:
    ``{"input_bytes", "n_output_files", "rows"}``. Carries a protection
    sidecar over if present."""
    if target_file_bytes <= 0:
        raise DBPSInvalidInputError("target_file_bytes must be positive")
    in_bytes = dataset_bytes(spark, in_path)
    n_files = max(1, math.ceil(in_bytes / target_file_bytes))
    df: DataFrame = spark.read.parquet(in_path)
    if sort_by:
        missing = [c for c in sort_by if c not in df.columns]
        if missing:
            raise DBPSInvalidInputError(f"sort_by columns not found: {missing}")
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        out = df.repartition(n_files)
    out.write.mode(mode).parquet(out_path)
    text = _read_sidecar(spark, in_path)
    sidecar = json.loads(text) if text is not None else None
    if sidecar is not None:
        _write_sidecar(spark, out_path, sidecar)
    rows = spark.read.parquet(out_path).count()
    return {
        "input_bytes": in_bytes,
        "n_output_files": n_files,
        "rows": rows,
        "sidecar": sidecar,
    }
