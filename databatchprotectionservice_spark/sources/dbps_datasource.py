"""``dbps_protected`` — a PySpark Python Data Source for protected
datasets.

The idiomatic Spark-4 surface for the sidecar contract
(``sources/protected_parquet.py``): after one ``register_dbps_datasource
(spark)`` call, a protected dataset opens like any other format —

    spark.read.format("dbps_protected").load(path)

— with the protected columns transparently decrypted to their original
logical types (the reference's agent-``init`` + decrypt flow,
``dbpa_interface.h:141-149``, as a declarative source instead of an
imperative client).

Scale shape: ``partitions()`` maps one input partition per parquet
file, so a 10k-file dataset fans out across the cluster exactly like
the native reader; ``read()`` decrypts whole Arrow record batches with
the same vectorized kernel the UDF path uses (zero per-row Python).
Schema is served from the sidecar + parquet footer only — planning
reads no data pages.

Current scope: parquet cell encoding, flat OR hive-partitioned layout
(``write_protected(partition_by=[...])`` output opens declaratively,
with partition-value pruning happening at planning time — pruned
directories are never listed into splits). Base64 text datasets use
``read_protected``. The batch/stream writers emit the flat layout.
Paths are local: plain OS paths or ``file://`` URIs. The source runs in
Python workers with no JVM gateway, so the Hadoop FS API (and with it
``hdfs://`` or ``s3a://``) is out of reach.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..core.errors import DBPSInvalidInputError
from .protected_parquet import (
    SIDECAR_NAME,
    _write_sidecar,
    build_sidecar,
    column_entries,
    entry_type,
    local_path,
    read_protection_metadata,
)

FORMAT_NAME = "dbps_protected"


def parse_columns_option(spec: str) -> dict[str, str]:
    """``"c_name:key_A,c_acctbal:key_B"`` -> {column: key_id} (data
    source options are strings, so the column->key map travels encoded)."""
    out: dict[str, str] = {}
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if ":" not in part:
            raise DBPSInvalidInputError(
                f"bad columns option entry {part!r}; want 'column:key_id'"
            )
        name, key_id = part.split(":", 1)
        out[name.strip()] = key_id.strip()
    if not out:
        raise DBPSInvalidInputError("columns option names no columns")
    return out


class _FileSplit(InputPartition):
    def __init__(self, path: str, part_values: dict | None = None):
        self.path = path
        #: hive partition column -> raw string value (None for the
        #: __HIVE_DEFAULT_PARTITION__ null directory); empty for flat
        self.part_values = part_values or {}


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _list_fragments(path: str) -> list[tuple[str, dict]]:
    """All parquet files under ``path`` with the hive partition values
    parsed from their directory segments: ``[(file, {col: str|None})]``.
    Flat datasets yield empty dicts. Non-``key=value`` subdirectories
    (and dot/underscore work files) are skipped, matching the native
    reader's conventions."""
    out: list[tuple[str, dict]] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs if "=" in d or not d.startswith(("_", "."))
        )
        rel = os.path.relpath(root, path)
        pvals: dict = {}
        valid = True
        if rel != ".":
            for seg in rel.split(os.sep):
                if "=" not in seg:
                    valid = False
                    break
                k, v = seg.split("=", 1)
                pvals[k] = None if v == _HIVE_NULL else unquote(v)
        if not valid:
            continue
        for n in sorted(files):
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                out.append((os.path.join(root, n), pvals))
    return sorted(out)


def _partition_fields(
    meta: dict, fragments: list[tuple[str, dict]]
) -> list[T.StructField]:
    """Typed partition columns, in sidecar ``partition_by`` order
    (appended after the file columns, the native reader's convention).
    Typing follows the native reader's inference narrowed to two cases:
    all-integer directory values -> long, anything else -> string."""
    fields = []
    for col in meta.get("partition_by") or []:
        seen = {vals.get(col) for _, vals in fragments}
        non_null = [v for v in seen if v is not None]
        all_int = bool(non_null) and all(
            re.fullmatch(r"-?\d+", v) for v in non_null
        )
        fields.append(
            T.StructField(
                col, T.LongType() if all_int else T.StringType(), True
            )
        )
    return fields


class ProtectedParquetDataSource(DataSource):
    """DataSource entry point; options: ``path`` (dataset directory)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _path(self) -> str:
        """The dataset directory as an OS path. The methods here run in
        Python workers with no JVM gateway, so only local paths (plain
        or ``file://`` URIs) are reachable."""
        path = self.options.get("path")
        if not path:
            raise DBPSInvalidInputError(
                f"format('{FORMAT_NAME}') requires .load(<dataset path>)"
            )
        return local_path(path)

    def schema(self) -> T.StructType:
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        path = self._path()
        meta = read_protection_metadata(path)
        if meta.get("format", "parquet") != "parquet":
            raise DBPSInvalidInputError(
                f"{FORMAT_NAME} reads parquet cell encoding; this dataset "
                f"is {meta.get('format')!r} — use read_protected()"
            )
        fragments = _list_fragments(path)
        if not fragments:
            raise DBPSInvalidInputError(f"no parquet files under {path!r}")
        # footer-only: planning never touches data pages
        disk = from_arrow_schema(pq.read_schema(fragments[0][0]))
        fields = []
        for f in disk.fields:
            cfg = meta["columns"].get(f.name)
            if cfg is None:
                fields.append(f)
            else:
                fields.append(T.StructField(f.name, entry_type(cfg), f.nullable))
        # hive partition columns come last, like the native reader
        fields.extend(_partition_fields(meta, fragments))
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> "ProtectedParquetReader":
        return ProtectedParquetReader(self._path(), schema)

    def _write_options(self, schema: T.StructType, check_append: bool):
        """(path, columns, encryptor) from the write options. With
        ``check_append``, an existing dataset is validated up front."""
        path = self._path()
        spec = self.options.get("columns")
        if not spec:
            raise DBPSInvalidInputError(
                f"format('{FORMAT_NAME}') writes need .option('columns', "
                "'col:key_id,...')"
            )
        columns = parse_columns_option(spec)
        missing = [c for c in columns if c not in schema.fieldNames()]
        if missing:
            raise DBPSInvalidInputError(
                f"columns not in DataFrame: {missing}"
            )
        encryptor = self.options.get("encryptor", "keystream_xor")
        # gate on the SIDECAR, not on top-level parquet files: a
        # hive-partitioned protected dataset keeps its parquet only in
        # key=value/ subdirs, and an ungated append would rewrite the
        # sidecar out from under the partitioned files
        if check_append and os.path.exists(os.path.join(path, SIDECAR_NAME)):
            _check_append_compatible(path, schema, columns, encryptor)
        return path, columns, encryptor

    def writer(self, schema: T.StructType, overwrite: bool):
        # overwrite deletes NOTHING here: writer() runs at plan time,
        # before any task — destroying the old dataset now would leave
        # neither old nor new data if the job fails.  Deletion happens
        # in commit(), preserving keep-old-until-commit semantics.
        path, columns, encryptor = self._write_options(
            schema, check_append=not overwrite
        )
        return ProtectedParquetWriter(
            path, schema, columns, encryptor, overwrite=overwrite
        )

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        """Streaming sink: ``df.writeStream.format("dbps_protected")``.
        Append-only (streaming overwrite/complete modes don't fit a
        protected dataset whose sidecar is immutable config)."""
        if overwrite:
            raise DBPSInvalidInputError(
                f"{FORMAT_NAME} streaming sink is append-only"
            )
        # restarting a stream on an existing dataset with a different
        # key/encryptor/schema would append files the sidecar decrypts
        # wrongly (keystream XOR under the wrong key is silent garbage)
        # — mirror the batch append validation up front. Gated on the
        # sidecar EXISTING: Spark's commit runner re-instantiates this
        # writer mid-first-commit, when task files are on disk but the
        # sidecar isn't yet.
        path, columns, encryptor = self._write_options(schema, check_append=True)
        return ProtectedParquetStreamWriter(path, schema, columns, encryptor)


def _check_append_compatible(
    path: str,
    schema: T.StructType,
    columns: dict[str, str],
    encryptor: str,
) -> None:
    """Appended files must decrypt under the EXISTING sidecar and scan
    under the existing footer schema, so both are validated up front:
    the column->key/encryptor config must match exactly, and the
    unprotected columns' on-disk types must equal the incoming ones
    (a silent type drift would create a mixed-schema dataset that
    misreads or fails at scan time)."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    meta = read_protection_metadata(path)
    if meta.get("partition_by"):
        raise DBPSInvalidInputError(
            f"{FORMAT_NAME} writes the flat layout; appending to a "
            "hive-partitioned protected dataset would mix layouts — "
            "use write_protected(partition_by=...) instead"
        )
    want = column_entries(schema, columns, encryptor)
    if meta.get("columns") != want:
        raise DBPSInvalidInputError(
            "append config mismatch: dataset sidecar protects "
            f"{sorted(meta.get('columns', {}))} but this write "
            f"declares {sorted(want)} (keys/types/encryptor "
            "must match exactly; use mode('overwrite') to "
            "replace the dataset)"
        )
    fragments = _list_fragments(path)
    if not fragments:  # config already validated; no footer to compare yet
        return
    disk = from_arrow_schema(pq.read_schema(fragments[0][0]))
    disk_unprotected = {
        f.name: f.dataType for f in disk.fields if f.name not in columns
    }
    incoming = {
        f.name: f.dataType for f in schema.fields if f.name not in columns
    }
    if disk_unprotected != incoming:
        drift = sorted(
            (name, t.simpleString())
            for name, t in (
                set(disk_unprotected.items()) ^ set(incoming.items())
            )
        )
        raise DBPSInvalidInputError(
            "append schema mismatch on unprotected columns: "
            f"{drift} (existing files vs this write)"
        )


class ProtectedParquetReader(DataSourceReader):
    def __init__(self, path: str, schema: T.StructType):
        self._path = path
        self._schema = schema
        self._meta = read_protection_metadata(path)
        self._part_cols = list(self._meta.get("partition_by") or [])
        self._pushed: list = []  # -> pyarrow scanner filter
        self._part_pushed: list = []  # -> split pruning at planning time

    def pushFilters(self, filters):
        """Push filters on UNPROTECTED columns down to the parquet scan
        (pyarrow evaluates them against row-group stats and pages, so
        pruned data never reaches Python): comparisons, IN, null tests,
        string prefix/suffix/contains, and NOT of any of those. Filters
        on hive PARTITION columns (comparison set) prune whole splits
        at planning time — pruned directories are never opened.

        Value filters on protected columns can never push — on disk
        those cells are ciphertext, and comparing plaintext predicates
        against them would be wrong — so they stay in Spark and run
        after decrypt. The EXCEPTION is IsNull/IsNotNull: protection
        preserves the null mask (null cells have no plaintext to
        protect), so null tests on a protected column evaluate
        correctly against the binary ciphertext column."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            Not,
        )

        part_supported = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            In,
            IsNotNull,
            IsNull,
        )
        protected = set(self._meta["columns"])
        remaining = []
        for f in filters:
            inner = f.child if isinstance(f, Not) else f
            attr = getattr(inner, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            scan_ok = col is not None and self._to_arrow_expr(f) is not None
            if scan_ok and col not in protected and col not in self._part_cols:
                self._pushed.append(f)
            elif (
                scan_ok
                and col in protected
                and isinstance(inner, (IsNull, IsNotNull))
            ):
                self._pushed.append(f)  # null mask is protection-invariant
            elif (
                col in self._part_cols
                and isinstance(f, part_supported)
                and col is not None
            ):
                self._part_pushed.append(f)
            else:
                remaining.append(f)
        return remaining

    def _to_arrow_expr(self, f):
        """One pushed filter -> a pyarrow.compute expression, or None
        if the filter type isn't translatable."""
        import pyarrow.compute as pc
        from pyspark.sql.datasource import (
            EqualNullSafe,
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            Not,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        if isinstance(f, Not):
            inner = self._to_arrow_expr(f.child)
            return None if inner is None else ~inner
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        col = pc.field(attr[0])
        if isinstance(f, EqualTo):
            return col == f.value
        if isinstance(f, EqualNullSafe):
            return col.is_null() if f.value is None else col == f.value
        if isinstance(f, GreaterThan):
            return col > f.value
        if isinstance(f, GreaterThanOrEqual):
            return col >= f.value
        if isinstance(f, LessThan):
            return col < f.value
        if isinstance(f, LessThanOrEqual):
            return col <= f.value
        if isinstance(f, In):
            return col.isin(list(f.value))
        if isinstance(f, IsNull):
            return col.is_null()
        if isinstance(f, IsNotNull):
            return ~col.is_null()
        if isinstance(f, StringStartsWith):
            return pc.starts_with(col, f.value)
        if isinstance(f, StringEndsWith):
            return pc.ends_with(col, f.value)
        if isinstance(f, StringContains):
            return pc.match_substring(col, f.value)
        return None

    def _part_value(self, col: str, raw: str | None):
        """Directory string -> the typed value the schema declares."""
        if raw is None:
            return None
        field_type = self._schema[col].dataType
        return int(raw) if isinstance(field_type, T.LongType) else raw

    def _split_survives(self, part_values: dict) -> bool:
        """Evaluate the pushed partition filters against one split."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        for f in self._part_pushed:
            v = self._part_value(f.attribute[0], part_values.get(f.attribute[0]))
            if isinstance(f, IsNull):
                ok = v is None
            elif isinstance(f, IsNotNull):
                ok = v is not None
            elif v is None:
                ok = False  # SQL comparisons with NULL never match
            elif isinstance(f, EqualTo):
                ok = v == f.value
            elif isinstance(f, In):
                ok = v in f.value
            elif isinstance(f, GreaterThan):
                ok = v > f.value
            elif isinstance(f, GreaterThanOrEqual):
                ok = v >= f.value
            elif isinstance(f, LessThan):
                ok = v < f.value
            else:  # LessThanOrEqual
                ok = v <= f.value
            if not ok:
                return False
        return True

    def _arrow_filter(self):
        """Pushed filters -> a pyarrow.compute expression (ANDed)."""
        expr = None
        for f in self._pushed:
            e = self._to_arrow_expr(f)
            expr = e if expr is None else expr & e
        return expr

    def partitions(self):
        """One split per surviving file — native-reader fan-out, with
        partition pruning applied BEFORE any split exists."""
        return [
            _FileSplit(p, vals)
            for p, vals in _list_fragments(self._path)
            if self._split_survives(vals)
        ]

    def read(self, partition: _FileSplit):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_type

        from ..functions.protect import make_unprotect_kernel

        kernels = {
            name: (
                make_unprotect_kernel(
                    entry_type(cfg), cfg["key_id"], cfg["encryptor"]
                ),
                to_arrow_type(self._schema[name].dataType),
            )
            for name, cfg in self._meta["columns"].items()
        }
        import pyarrow.dataset as pads

        part_set = set(self._part_cols)
        file_fields = [f for f in self._schema.fields if f.name not in part_set]
        # dataset scanner so pushed filters prune at row-group/page
        # level INSIDE pyarrow — filtered rows never cross into Python
        scanner = pads.dataset(partition.path, format="parquet").scanner(
            columns=[f.name for f in file_fields],
            filter=self._arrow_filter(),
        )
        for batch in scanner.to_batches():
            if batch.num_rows == 0:
                continue
            cols = []
            for field in self._schema.fields:
                if field.name in part_set:
                    # hive partition column: one constant per split
                    v = self._part_value(
                        field.name, partition.part_values.get(field.name)
                    )
                    arr = pa.array(
                        [v] * batch.num_rows,
                        type=to_arrow_type(field.dataType),
                    )
                else:
                    arr = batch.column(field.name)
                    if isinstance(arr, pa.ChunkedArray):
                        arr = arr.combine_chunks()
                    hit = kernels.get(field.name)
                    if hit is not None:
                        kernel, arrow_type = hit
                        arr = kernel(arr).cast(arrow_type)
                cols.append(arr)
            yield pa.RecordBatch.from_arrays(
                cols, names=[f.name for f in self._schema.fields]
            )


class _Committed(WriterCommitMessage):
    def __init__(self, filename: str):
        self.filename = filename


class ProtectedParquetWriter(DataSourceArrowWriter):
    """Arrow-batch writer: encrypt the named columns with the shared
    vectorized kernel and emit one parquet file per input partition
    (native-writer fan-out); ``commit`` persists the sidecar once all
    tasks report success, so readers never observe a dataset whose
    sidecar predates its files."""

    def __init__(
        self,
        path: str,
        schema: T.StructType,
        columns: dict[str, str],
        encryptor: str,
        overwrite: bool = False,
    ):
        self._dst = path
        self._schema = schema
        self._columns = columns
        self._encryptor = encryptor
        self._overwrite = overwrite

    def write(self, iterator) -> _Committed:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        from ..functions.protect import make_protect_kernel

        kernels = {
            name: make_protect_kernel(
                self._schema[name].dataType, key_id, self._encryptor
            )
            for name, key_id in self._columns.items()
        }
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self._dst, exist_ok=True)
        filename = f"part-{pid:05d}-{uuid.uuid4().hex}.parquet"
        # task-commit protocol: write under a dot-prefixed in-progress
        # name (invisible to _list_fragments / readers), rename into
        # place only when the task finishes cleanly. A failed or
        # speculative task therefore never leaves a readable
        # valid-footer partial behind for a retry to duplicate — the
        # failure path deletes its temp and re-raises.
        tmp_path = os.path.join(self._dst, f".{filename}.inprogress")
        out_path = os.path.join(self._dst, filename)
        writer = None
        try:
            for batch in iterator:
                cols, names = [], []
                for i, field in enumerate(batch.schema):
                    arr = batch.column(i)
                    kernel = kernels.get(field.name)
                    if kernel is not None:
                        arr = kernel(arr)
                    cols.append(arr)
                    names.append(field.name)
                out = pa.RecordBatch.from_arrays(cols, names=names)
                if writer is None:
                    writer = pq.ParquetWriter(tmp_path, out.schema)
                writer.write_batch(out)
        except BaseException:
            if writer is not None:
                writer.close()
            if os.path.exists(tmp_path):
                os.remove(tmp_path)
            raise
        if writer is not None:
            writer.close()
            os.replace(tmp_path, out_path)
        # an empty partition emits no file (matching the native writer's
        # default); the commit message carries no filename to clean up
        return _Committed(filename if writer is not None else "")

    def commit(self, messages) -> None:
        if self._overwrite:
            # keep-old-until-commit: every task file has landed, so NOW
            # the previous dataset goes — all top-level files except
            # this write's own, plus hive key=value/ partition dirs
            # from an earlier write_protected(partition_by=...) layout
            import shutil

            keep = {
                m.filename
                for m in messages
                if m is not None and m.filename
            }
            for n in os.listdir(self._dst):
                full = os.path.join(self._dst, n)
                if os.path.isfile(full) and n not in keep:
                    os.remove(full)
                elif os.path.isdir(full) and "=" in n:
                    shutil.rmtree(full)

        col_meta = column_entries(self._schema, self._columns, self._encryptor)
        _write_sidecar(None, self._dst, build_sidecar(col_meta))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.filename:
                full = os.path.join(self._dst, m.filename)
                if os.path.exists(full):
                    os.remove(full)


COMMITTED_BATCHES_NAME = "_dbps_committed_batches.json"


class ProtectedParquetStreamWriter(DataSourceStreamArrowWriter):
    """Micro-batch streaming sink: each batch's partitions write
    encrypted parquet files through the same Arrow path as the batch
    writer; the sidecar is written at the FIRST successful commit (the
    data source validates restarts against it up front), so a reader
    attaching mid-stream always sees decryptable files.

    Replay idempotency: Structured Streaming re-delivers a micro-batch
    when a failure lands between sink commit and checkpoint advance.
    Committed batch ids are recorded in ``_dbps_committed_batches.json``
    (underscore-prefixed — invisible to readers); a replayed batch's
    freshly written files are deleted instead of committed, so the
    dataset holds each batch's rows exactly once."""

    def __init__(
        self,
        path: str,
        schema: T.StructType,
        columns: dict[str, str],
        encryptor: str,
    ):
        self._inner = ProtectedParquetWriter(path, schema, columns, encryptor)
        self._dst = path

    def write(self, iterator) -> _Committed:
        return self._inner.write(iterator)

    def _committed_path(self) -> str:
        return os.path.join(self._dst, COMMITTED_BATCHES_NAME)

    def _committed_ids(self) -> set[int]:
        cp = self._committed_path()
        if not os.path.exists(cp):
            return set()
        with open(cp) as f:
            return set(json.load(f).get("batch_ids", []))

    def commit(self, messages, batchId: int) -> None:
        done = self._committed_ids()
        if batchId in done:
            # replayed micro-batch: its rows are already in the dataset
            # — discard this attempt's files
            self._inner.abort(messages)
            return
        sp = os.path.join(self._dst, SIDECAR_NAME)
        if not os.path.exists(sp):
            self._inner.commit(messages)
        done.add(batchId)
        tmp = self._committed_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_ids": sorted(done)}, f)
        os.replace(tmp, self._committed_path())

    def abort(self, messages, batchId: int) -> None:
        self._inner.abort(messages)


def register_dbps_datasource(spark) -> None:
    """Idempotent session registration of the ``dbps_protected`` format.

    Also enables Python-data-source filter pushdown (off by default in
    Spark 4.1) so the reader's ``pushFilters`` actually receives the
    predicates on unprotected columns."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ProtectedParquetDataSource)
