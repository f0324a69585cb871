"""Query registry — the single source of truth for the engine's query
surface.

Every operator the engine claims is registered here as a named query with
(a) a Spark implementation ``(spark, sf_dir) -> DataFrame`` and (b) where
SQL-expressible, an equivalent ANSI-SQL oracle string for DuckDB. The
correctness gate (``scripts/check_oracle.py``) runs both sides at
sf=0.01 and compares row-count + schema + order-insensitive value
hashes, so every registered pair must agree on column NAMES and exact
VALUES:

* monetary aggregates go through ``DECIMAL(18,2)`` casts (exact, engine
  independent) instead of floating sums;
* unavoidable floating outputs are ``round(x, 4)`` on identically-written
  expression trees (IEEE ops are bit-deterministic when the expression
  shape matches);
* timestamps are emitted as dates or formatted strings, never raw
  timestamps, to sidestep timezone/precision representation differences.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, description: str = ""):
    """Decorator: register a query implementation with its oracle SQL."""

    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle, description)
        return fn

    return deco


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))


#: spread threshold for call sites whose per-row work is LIGHT (keystream
#: XOR, batched AES-SIV, simple column math): below this scan size the
#: repartition's fixed cost (exchange + 32-task scheduling +
#: Python-worker fan-out) exceeds the parallelism win — measured 2x
#: slower at sf0.1 on the 300 KB customer scans. Heavy per-row call
#: sites (shingling, vector math, media codecs) pass 0 and spread at
#: any size. AES-SIV moved from the heavy to the light class when the
#: r6 BatchSIV kernel landed (100k int64s encrypt in ~22 ms single-core;
#: the r7 re-measure put the un-spread events roundtrip at 0.62 s vs
#: 0.96 s spread at sf0.1).
SPREAD_MIN_BYTES_LIGHT = 16 << 20


def scratch_path(prefix: str) -> str:
    """Scratch location for intermediate datasets written and re-read by
    executors (compaction copies, JSONL exports).

    On a CLUSTER this must be a shared filesystem every executor can
    reach: set ``$SPARK_GRAFT_SCRATCH`` to an HDFS/S3/NFS URI and each
    call returns a fresh unique directory under it. Without the env var
    (local mode — tests, the driver rig) it falls back to a driver-local
    tempdir, which is only correct when driver and executors share one
    machine. Pair with :func:`remove_path`, which deletes through the
    Hadoop filesystem API so cleanup works for either scheme."""
    import tempfile
    import uuid

    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        return root.rstrip("/") + f"/{prefix}{uuid.uuid4().hex}"
    return tempfile.mkdtemp(prefix=prefix)


def remove_path(spark: SparkSession, path: str) -> None:
    """Recursive delete via the Hadoop FS API — scheme-agnostic (local
    path, HDFS, S3A, ...), so scratch cleanup is correct on a cluster
    where ``shutil`` could only ever see the driver's own disk."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:  # noqa: BLE001 - cleanup must never fail the query
        pass


def _scan_bytes(spark: SparkSession, path: str) -> int | None:
    """Total bytes under ``path`` via the Hadoop FS (works for any
    Spark-supported scheme); None when the estimate is unavailable."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(jpath).getLength())
    except Exception:  # noqa: BLE001 - estimate only, never fail the query
        return None


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, min_bytes: int = 0
) -> DataFrame:
    """Load a table and guarantee at least core-count partitions.

    Small single-file tables scan as ONE partition, serializing every
    downstream per-row stage onto one core. For compute-heavy operators
    (shingling, hashing, vector math) a round-robin repartition of a few
    MB buys full parallelism. Two guards keep it from ever hurting:

    * a table that already has enough partitions (the 100 TB case —
      thousands of files) is left untouched: no shuffle at scale;
    * a call site doing LIGHT per-row work passes ``min_bytes`` (usually
      ``SPREAD_MIN_BYTES_LIGHT``) so sub-threshold scans skip the
      repartition — its fixed cost outweighs the win there."""
    df = load(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if min_bytes:
        size = _scan_bytes(spark, table_path(sf_dir, name))
        if size is not None and size < min_bytes:
            return df
    return df.repartition(target)


def prep(spark: SparkSession) -> None:
    """Session settings the oracle comparison depends on; applied at query
    time because the driver owns the SparkSession."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side rows -> DataFrame through one Arrow table.

    ``createDataFrame`` over a plain Python list parallelizes a
    default-parallelism-sliced RDD and pickles every row — a full
    Spark job (~0.4 s at local[32]) to plan kilobytes of metadata. An
    Arrow table plans a ``LocalTableScan`` with no job at all (0.42 s
    -> 0.05 s per collect).  Each column is built with the Arrow type
    of the EXPLICIT schema, and that path has no fallback: a value the
    type cannot hold (a string in a ``bigint`` column) raises
    ``pyarrow.ArrowInvalid`` instead of retrying on the row-pickling
    path.  A float into an integer column truncates (1.7 becomes 1).
    Use for small metadata row sets only."""
    import pyarrow as pa

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with its TIMESTAMP(NANOS) column surfaced as a
    proper timestamp (micros). Spark reads nanos as long (no nanos type);
    DuckDB reads them natively — truncation to micros keeps both equal."""
    from pyspark.sql import functions as F

    prep(spark)  # idempotent; the NTZ cast below needs the UTC session tz
    e = load(spark, sf_dir, "events")
    ts_type = dict(e.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division: nanos exceed 2^53, float division would drift
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
        # TIMESTAMP_NTZ; with the session pinned to UTC the cast to LTZ
        # preserves the wall-clock value and restores the type the
        # timestamp functions (unix_micros, window, watermark) require
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    _ensure_loaded()
    return {name: spec.spark_fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """The oracle SQL of every registered query that has one, in
    registration order."""
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from ..operators import (  # noqa: F401
        bucketing,
        clustering,
        datasource,
        dedup,
        graph,
        incremental,
        ingest,
        layout,
        maintenance,
        multimodal,
        pii,
        profiling,
        protection,
        relational,
        sampling,
        sessionize,
        similarity,
        streamops,
        textops,
        tpch_shapes,
        udx,
        upsert,
    )

    _LOADED = True
