"""Protected Parquet sink/source — persist datasets with encrypted columns.

The reference splices encrypted page bytes back into Parquet files and
relies on out-of-band ``encryption_metadata`` to decrypt them later
(``encryption_sequencer.cpp:152-155``, ``dbpa_interface.h:141-149``). The
Spark-native equivalent: protected columns are written as ordinary
``binary`` Parquet columns (so any Parquet reader can still scan the
file, prune, and push down predicates on the unprotected columns), and the
decrypt-side configuration — original logical type, key id, encryptor,
engine version — travels in a JSON sidecar ``_dbps_protection.json``
next to the data, the file-level analogue of the per-column
``column_encryption_metadata`` handed to the agent's ``init``.

Writes are plain ``df.write.parquet`` — fully parallel, any partitioning
— and reads are plain scans plus the vectorized unprotect UDF, so both
paths keep Spark's whole-stage codegen and scale properties.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core.errors import DBPSInvalidInputError
from ..core.pagecodec import DBPS_VERSION, DBPS_VERSION_KEY
from ..functions.protect import protect_column, unprotect_column

SIDECAR_NAME = "_dbps_protection.json"


def local_path(path: str) -> str:
    """``path`` as an OS path: a ``file://`` URI loses its scheme."""
    return path[len("file://"):] if path.startswith("file://") else path


def _sidecar_path(path: str) -> str:
    return os.path.join(local_path(path), SIDECAR_NAME)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM gateway — makes the
    sidecar work on any Spark-supported storage (hdfs://, s3a://, ...),
    not just the local filesystem."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def _is_local(path: str) -> bool:
    scheme = path.split("://", 1)[0] if "://" in path else ""
    return scheme in ("", "file")


def _write_sidecar(spark: SparkSession | None, path: str, sidecar: dict) -> None:
    """Write the sidecar document next to the data at ``path``. Without a
    session (Python data-source workers have no JVM gateway) or on a
    local path it goes to the local filesystem, else through Hadoop FS."""
    payload = json.dumps(sidecar, indent=2, sort_keys=True)
    if spark is None or _is_local(path):
        # a streaming sink may not have created the directory yet
        os.makedirs(local_path(path), exist_ok=True)
        with open(_sidecar_path(path), "w") as f:
            f.write(payload)
        return
    fs, base = _hadoop_fs(spark, path)
    out = fs.create(spark._jvm.org.apache.hadoop.fs.Path(base, SIDECAR_NAME), True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def _read_sidecar(spark: SparkSession | None, path: str) -> str | None:
    """Sidecar text, or None if absent."""
    if spark is None or _is_local(path):
        sp = _sidecar_path(path)
        if not os.path.exists(sp):
            return None
        with open(sp) as f:
            return f.read()
    fs, base = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(base, SIDECAR_NAME)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # FSDataInputStream is a java.io.InputStream; readAllBytes (Java 9+)
        # drains it fully regardless of FS block size
        data = stream.readAllBytes()
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def column_entry(original_type: T.DataType, key_id: str, encryptor: str) -> dict:
    """THE per-column sidecar entry: what a reader needs to decrypt it."""
    return {
        "key_id": key_id,
        "original_type": original_type.json(),
        "encryptor": encryptor,
    }


def column_entries(
    schema: T.StructType, columns: dict[str, str], encryptor: str
) -> dict:
    """Entries for ``columns`` (name -> key_id) of a plaintext ``schema``."""
    return {
        name: column_entry(schema[name].dataType, key_id, encryptor)
        for name, key_id in columns.items()
    }


def entry_type(cfg: dict) -> T.DataType:
    """The logical type a column entry decrypts to."""
    return T._parse_datatype_json_string(cfg["original_type"])


def build_sidecar(
    col_meta: dict,
    data_format: str = "parquet",
    cell_encoding: str = "binary",
    partition_by: list[str] | None = None,
) -> dict:
    """THE sidecar document shape, shared by every writer: the batch and
    rotation writers here, the ``dbps_protected`` data source and the
    streaming writer in ``streaming/pipeline.py`` (a drifted copy would
    silently produce datasets ``read_protected`` can't open).
    ``partition_by`` is always present: readers and the append gate key
    off it."""
    return {
        DBPS_VERSION_KEY: DBPS_VERSION,
        "format": data_format,
        "cell_encoding": cell_encoding,
        "partition_by": list(partition_by or []),
        "columns": col_meta,
    }


def read_protection_metadata(path: str, spark: SparkSession | None = None) -> dict:
    """Load and validate the sidecar (version check mirrors the decrypt
    sequencer's ``encryption_sequencer.cpp:335-346``). ``file://`` URIs
    resolve to local paths; other schemes need ``spark``'s Hadoop FS."""
    text = _read_sidecar(spark, path)
    if text is None:
        raise DBPSInvalidInputError(
            f"no {SIDECAR_NAME} found at {path!r}; not a protected dataset"
        )
    meta = json.loads(text)
    version = meta.get(DBPS_VERSION_KEY)
    if version is None or not str(version).startswith(DBPS_VERSION):
        raise DBPSInvalidInputError(
            f"unsupported {DBPS_VERSION_KEY}: {version!r}"
        )
    if not isinstance(meta.get("columns"), dict):
        raise DBPSInvalidInputError("sidecar missing 'columns' map")
    return meta


def _write_dataset(df: DataFrame, path: str, mode: str, sidecar: dict) -> None:
    """Write ``df`` in the sidecar's format and layout, then the sidecar."""
    data_format = sidecar["format"]
    writer = df.write.mode(mode)
    if sidecar["partition_by"]:
        writer = writer.partitionBy(*sidecar["partition_by"])
    if data_format == "csv":
        writer = writer.option("header", "true")
    getattr(writer, data_format)(path)
    _write_sidecar(df.sparkSession, path, sidecar)


def _open_protected(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    skip: set[str] = frozenset(),
) -> tuple[dict, DataFrame, dict]:
    """Sidecar and data of a protected dataset, shared by every reader:
    ``(meta, df, targets)``. ``targets`` maps each protected column to
    act on (``columns``, default all; unknown names fail) minus ``skip``
    to its sidecar entry, and its cells in ``df`` are raw ciphertext
    (base64 text cells decoded)."""
    from pyspark.sql import functions as F

    meta = read_protection_metadata(path, spark)
    if columns is None:
        columns = list(meta["columns"])
    unknown = [c for c in columns if c not in meta["columns"]]
    if unknown:
        raise DBPSInvalidInputError(
            f"columns not present in protection sidecar: {unknown!r} "
            f"(sidecar has {sorted(meta['columns'])!r})"
        )
    data_format = meta.get("format", "parquet")
    reader = spark.read
    if data_format == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    df = getattr(reader, data_format)(path)
    targets = {}
    for name in columns:
        if name in skip:
            continue
        if name not in df.columns:
            raise DBPSInvalidInputError(
                f"sidecar column {name!r} missing from dataset at {path!r}"
            )
        if meta.get("cell_encoding") == "base64":
            df = df.withColumn(name, F.unbase64(F.col(name)))
        targets[name] = meta["columns"][name]
    return meta, df, targets


def write_protected(
    df: DataFrame,
    path: str,
    columns: dict[str, str],
    encryptor: str = "keystream_xor",
    mode: str = "error",
    partition_by: list[str] | None = None,
    data_format: str = "parquet",
) -> None:
    """Protect ``columns`` (name -> key_id) and write data + sidecar.

    ``data_format`` is ``parquet`` (ciphertext as native binary), or
    ``json``/``csv`` — text formats can't carry binary, so ciphertext
    cells travel base64-encoded, exactly like the reference's JSON
    transport (``json_request.cpp:123-144``); the sidecar records the
    encoding so reads reverse it.

    ``partition_by`` columns may not be protected (their values become
    directory names — protecting them would leak layout while breaking
    partition pruning).
    """
    if data_format not in ("parquet", "json", "csv"):
        raise DBPSInvalidInputError(f"unsupported format: {data_format!r}")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise DBPSInvalidInputError(f"columns not in DataFrame: {missing}")
    overlap = set(columns) & set(partition_by or [])
    if overlap:
        raise DBPSInvalidInputError(
            f"cannot protect partition columns: {sorted(overlap)}"
        )
    from pyspark.sql import functions as F

    base64_cells = data_format != "parquet"
    out = df
    for name, key_id in columns.items():
        out = protect_column(out, name, key_id, encryptor)
        if base64_cells:
            out = out.withColumn(name, F.base64(F.col(name)))
    sidecar = build_sidecar(
        column_entries(df.schema, columns, encryptor),
        data_format=data_format,
        cell_encoding="base64" if base64_cells else "binary",
        partition_by=partition_by,
    )
    _write_dataset(out, path, mode, sidecar)


def rotate_protected(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    new_keys: dict[str, str],
    new_encryptor: str | None = None,
    mode: str = "error",
) -> dict:
    """Key-rotate a protected dataset: re-encrypt the named columns under
    new key ids (optionally a new cipher) and write a new dataset with an
    updated sidecar. Returns the new sidecar dict.

    The ciphertext is read RAW (never unprotected into the plan): each
    named column goes through the single-pass rotate UDF, so plaintext
    exists only inside the executor's Arrow batches between the two
    cipher calls — the property a compliance-driven rotation needs.
    Unnamed protected columns are copied through untouched and keep
    their old keys in the new sidecar."""
    from pyspark.sql import functions as F

    from ..functions.protect import rotate_key_column

    meta, df, targets = _open_protected(spark, src_path, list(new_keys))
    base64_cells = meta.get("cell_encoding") == "base64"
    new_meta_cols = {name: dict(cfg) for name, cfg in meta["columns"].items()}
    for name, cfg in targets.items():
        enc_new = new_encryptor or cfg["encryptor"]
        original_type = entry_type(cfg)
        df = rotate_key_column(
            df,
            name,
            original_type,
            cfg["key_id"],
            new_keys[name],
            old_encryptor=cfg["encryptor"],
            new_encryptor=enc_new,
        )
        if base64_cells:
            df = df.withColumn(name, F.base64(F.col(name)))
        new_meta_cols[name] = column_entry(original_type, new_keys[name], enc_new)
    # preserve the source layout: the sidecar records partition_by at
    # write time, so the rotated copy keeps directory-partition pruning
    # (sidecars from engine versions before this field rotate flat)
    sidecar = build_sidecar(
        new_meta_cols,
        data_format=meta.get("format", "parquet"),
        cell_encoding="base64" if base64_cells else "binary",
        partition_by=meta.get("partition_by"),
    )
    _write_dataset(df, dst_path, mode, sidecar)
    return sidecar


def verify_protected(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> dict:
    """Integrity-scan a protected dataset (fsck): every ciphertext cell
    of every (or the named) protected column is checked — type tag,
    decryptability (AES-SIV: cryptographic authentication), plaintext
    width — without any plaintext leaving the executors. Returns
    ``{column: {"n_cells": int, "n_valid": int, "n_invalid": int}}``.
    One scan, one tiny aggregate: scale-linear with zero shuffles."""
    from pyspark.sql import functions as F

    from ..functions.protect import verify_column

    _, df, targets = _open_protected(spark, path, columns)
    aggs = []
    for name, cfg in targets.items():
        df = verify_column(
            df, name, entry_type(cfg), cfg["key_id"], cfg["encryptor"]
        )
        aggs += [
            F.count(F.lit(1)).alias(f"{name}__n"),
            F.sum(F.col(f"{name}__ok").cast("long")).alias(f"{name}__valid"),
        ]
    row = df.agg(*aggs).first()
    report = {}
    for name in targets:
        n = row[f"{name}__n"] or 0
        valid = row[f"{name}__valid"] or 0
        report[name] = {
            "n_cells": n,
            "n_valid": valid,
            "n_invalid": n - valid,
        }
    return report


def read_protected(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    keep_protected: list[str] | None = None,
) -> DataFrame:
    """Read a protected dataset, unprotecting its columns.

    ``columns`` restricts which protected columns to unprotect (default
    all); ``keep_protected`` names columns to leave as ciphertext (e.g.
    when the reader's role may not see them — they stay opaque binary).
    """
    _, df, targets = _open_protected(
        spark, path, columns, skip=set(keep_protected or [])
    )
    for name, cfg in targets.items():
        df = unprotect_column(
            df, name, entry_type(cfg), cfg["key_id"], cfg["encryptor"]
        )
    return df
