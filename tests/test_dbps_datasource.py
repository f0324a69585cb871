"""The dbps_protected Python data source: schema from sidecar,
vectorized decrypt in the reader, file-per-partition fan-out."""

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.sources.dbps_datasource import (
    ProtectedParquetDataSource,
    register_dbps_datasource,
)
from databatchprotectionservice_spark.sources.protected_parquet import (
    write_protected,
)


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        Row(pid=1, name="ada", balance=10.5, dec="12.34"),
        Row(pid=2, name=None, balance=-3.25, dec=None),
        Row(pid=3, name="grace", balance=None, dec="-0.01"),
        Row(pid=4, name="", balance=0.0, dec="9999999999.99"),
    ]
    return spark.createDataFrame(rows).withColumn(
        "dec", F.col("dec").cast(T.DecimalType(12, 2))
    )


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register_dbps_datasource(spark)


def _vals(df, column):
    return sorted(
        (r[0] for r in df.select(column).collect()),
        key=lambda v: (v is None, str(v)),
    )


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
def test_format_read_restores_values_and_types(
    spark, people, tmp_path, encryptor
):
    path = str(tmp_path / f"ds_{encryptor}")
    cols = {"name": "key_A", "balance": "key_B", "dec": "key_C"}
    write_protected(people.repartition(3), path, cols, encryptor=encryptor)
    # a file:// URI names the same dataset
    for uri in (path, "file://" + path):
        got = spark.read.format("dbps_protected").load(uri)
        assert dict(got.dtypes) == dict(people.dtypes)
        for c in ["pid", "name", "balance", "dec"]:
            assert _vals(got, c) == _vals(people, c)


def test_partitions_map_files(spark, people, tmp_path):
    path = str(tmp_path / "ds_parts")
    write_protected(people.repartition(3), path, {"name": "key_A"})
    got = spark.read.format("dbps_protected").load(path)
    # one input partition per parquet file => parallelism tracks layout
    assert got.rdd.getNumPartitions() == 3


def test_schema_is_footer_only_and_unprotected_cols_passthrough(
    spark, people, tmp_path
):
    path = str(tmp_path / "ds_schema")
    write_protected(people, path, {"dec": "key_C"})
    schema = spark.read.format("dbps_protected").load(path).schema
    assert schema["dec"].dataType == T.DecimalType(12, 2)
    assert schema["balance"].dataType == T.DoubleType()


def test_unprotected_dataset_rejected(spark, people, tmp_path):
    path = str(tmp_path / "plain")
    people.write.parquet(path)
    ds = ProtectedParquetDataSource({"path": path})
    with pytest.raises(DBPSInvalidInputError, match="not a protected"):
        ds.schema()


def test_partitioned_roundtrip_long_partition_column(
    spark, people, tmp_path
):
    """A hive-partitioned protected dataset opens declaratively: values
    round-trip, and the all-integer partition directory values surface
    as a long column (appended last, the native reader's convention)."""
    path = str(tmp_path / "ds_partby")
    write_protected(people, path, {"name": "key_A"}, partition_by=["pid"])
    got = spark.read.format("dbps_protected").load(path)
    assert got.schema.fieldNames()[-1] == "pid"
    assert dict(got.dtypes)["pid"] == "bigint"
    for c in ["pid", "name", "balance", "dec"]:
        assert _vals(got, c) == _vals(people, c)


def test_partitioned_string_column_with_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(k="us", v=1), Row(k="de", v=2), Row(k=None, v=3)]
    )
    path = str(tmp_path / "ds_partstr")
    write_protected(df, path, {"v": "key_A"}, partition_by=["k"])
    got = spark.read.format("dbps_protected").load(path)
    assert dict(got.dtypes)["k"] == "string"
    assert _vals(got, "k") == _vals(df, "k")
    assert _vals(got, "v") == _vals(df, "v")


def test_partition_pruning_prunes_splits(spark, people, tmp_path):
    """A predicate on the partition column prunes directories at
    planning time: the scan has exactly one split left and no
    Spark-side Filter node remains."""
    path = str(tmp_path / "ds_prune")
    write_protected(people, path, {"name": "key_A"}, partition_by=["pid"])
    got = (
        spark.read.format("dbps_protected")
        .load(path)
        .filter(F.col("pid") == 2)
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Filter " not in plan  # fully consumed by pushFilters
    assert got.rdd.getNumPartitions() == 1  # 3 of 4 pid dirs pruned
    rows = got.collect()
    assert [r.pid for r in rows] == [2]
    assert rows[0].name is None  # decrypt still correct post-prune


def test_format_write_roundtrip_and_ciphertext_on_disk(
    spark, people, tmp_path
):
    from databatchprotectionservice_spark.sources.protected_parquet import (
        read_protected,
    )

    path = str(tmp_path / "dsw")
    (
        people.repartition(3)
        .write.format("dbps_protected")
        .mode("append")
        .option("columns", "name:key_A,dec:key_C")
        .option("encryptor", "aes_siv")
        .save(path)
    )
    # both readers agree with the original
    for got in (
        spark.read.format("dbps_protected").load(path),
        read_protected(spark, path),
    ):
        assert dict(got.dtypes) == dict(people.dtypes)
        for c in ["pid", "name", "balance", "dec"]:
            assert _vals(got, c) == _vals(people, c)
    # protected columns are REALLY ciphertext on disk
    raw = dict(spark.read.parquet(path).dtypes)
    assert raw["name"] == "binary" and raw["dec"] == "binary"
    assert raw["balance"] == "double"  # unprotected passthrough


def test_format_write_append_validates_config(spark, people, tmp_path):
    path = str(tmp_path / "dsw_append")
    w = lambda df, cols, dst=path: (
        df.write.format("dbps_protected")
        .mode("append")
        .option("columns", cols)
        .save(dst)
    )
    w(people, "name:key_A")
    w(people, "name:key_A", "file://" + path)  # same config appends
    got = spark.read.format("dbps_protected").load(path)
    assert got.count() == 2 * people.count()
    with pytest.raises(Exception, match="append config mismatch"):
        w(people, "name:key_B")


def test_format_write_overwrite_replaces(spark, people, tmp_path):
    path = str(tmp_path / "dsw_over")
    (
        people.write.format("dbps_protected")
        .mode("append")
        .option("columns", "name:key_A")
        .save(path)
    )
    (
        people.limit(1)
        .write.format("dbps_protected")
        .mode("overwrite")
        .option("columns", "name:key_Z")
        .save(path)
    )
    got = spark.read.format("dbps_protected").load(path)
    assert got.count() == 1


def test_format_write_requires_columns_option(spark, people, tmp_path):
    with pytest.raises(Exception, match="columns"):
        people.write.format("dbps_protected").mode("append").save(
            str(tmp_path / "dsw_nocols")
        )


def test_filter_pushdown_on_unprotected_column(spark, people, tmp_path):
    """Comparison filters on unprotected columns reach the pyarrow scan
    (visible as PushedFilters in the plan); results stay correct."""
    path = str(tmp_path / "ds_pushdown")
    write_protected(people.repartition(2), path, {"name": "key_A"})
    got = (
        spark.read.format("dbps_protected")
        .load(path)
        .filter((F.col("pid") > 1) & F.col("balance").isNotNull())
    )
    # fully pushed: the plan has NO Spark-side Filter node left —
    # both predicates were accepted by pushFilters and evaluate inside
    # the pyarrow scan (the Python BatchScan prints no PushedFilters
    # label, so absence of Filter is the observable contract)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan dbps_protected" in plan
    assert "Filter " not in plan
    rows = sorted(got.collect(), key=lambda r: r.pid)
    assert [r.pid for r in rows] == [2, 4]
    assert rows[1].name == ""  # decrypt still correct post-filter


def test_string_and_not_filters_push_down(spark, people, tmp_path):
    """startswith / contains / NOT on unprotected string columns are
    consumed by pushFilters and evaluate inside the pyarrow scan."""
    path = str(tmp_path / "ds_pushstr")
    write_protected(people.repartition(2), path, {"dec": "key_C"})
    got = (
        spark.read.format("dbps_protected")
        .load(path)
        .filter(
            F.col("name").startswith("a")
            | F.col("name").contains("race")
        )
    )
    # OR of pushable leaves is not split by Spark, so test them alone
    for pred, pids in [
        (F.col("name").startswith("gr"), [3]),
        (F.col("name").contains("da"), [1]),
        (~F.col("name").endswith("ce"), [1, 4]),
    ]:
        got = spark.read.format("dbps_protected").load(path).filter(pred)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Filter " not in plan, plan
        assert sorted(r.pid for r in got.collect()) == pids


def test_null_tests_push_down_even_on_protected_columns(
    spark, people, tmp_path
):
    """IsNull/IsNotNull are protection-invariant (null mask is
    preserved), so they push to the scan even for protected columns."""
    path = str(tmp_path / "ds_pushnull")
    write_protected(people, path, {"name": "key_A"})
    got = (
        spark.read.format("dbps_protected")
        .load(path)
        .filter(F.col("name").isNotNull())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Filter " not in plan, plan
    assert sorted(r.pid for r in got.collect()) == [1, 3, 4]


def test_filter_on_protected_column_stays_in_spark(spark, people, tmp_path):
    """Predicates on protected columns cannot push down (on-disk cells
    are ciphertext); they evaluate in Spark after decrypt, and results
    match the plain dataset."""
    path = str(tmp_path / "ds_nopush")
    write_protected(people, path, {"name": "key_A"})
    got = (
        spark.read.format("dbps_protected")
        .load(path)
        .filter(F.col("name") == "grace")
    )
    # NOT pushed: a Spark-side Filter node remains to evaluate the
    # predicate after decrypt
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Filter " in plan
    assert [r.pid for r in got.collect()] == [3]


def _people_batch(people):
    import pyarrow as pa

    return pa.RecordBatch.from_pandas(people.toPandas())


def test_failed_write_task_leaves_no_readable_file(people, tmp_path):
    """Task-commit protocol: a task that dies mid-write must leave
    neither a readable parquet file (a retry would duplicate its rows)
    nor its in-progress temp behind."""
    import os

    from databatchprotectionservice_spark.sources.dbps_datasource import (
        ProtectedParquetWriter,
    )

    path = str(tmp_path / "dsw_fail")
    w = ProtectedParquetWriter(
        path, people.schema, {"name": "key_A"}, "keystream_xor"
    )
    batch = _people_batch(people)

    def exploding():
        yield batch
        raise RuntimeError("executor died")

    with pytest.raises(RuntimeError, match="executor died"):
        w.write(exploding())
    assert [n for n in os.listdir(path) if n.endswith(".parquet")] == []
    assert [n for n in os.listdir(path) if "inprogress" in n] == []
    # a clean task DOES publish its file
    msg = w.write(iter([batch]))
    assert msg.filename and os.path.exists(
        os.path.join(path, msg.filename)
    )


def test_stream_replayed_batch_is_idempotent(spark, people, tmp_path):
    """Replaying an already-committed micro-batch (failure between sink
    commit and checkpoint advance) must not duplicate rows."""
    import os

    from databatchprotectionservice_spark.sources.dbps_datasource import (
        ProtectedParquetStreamWriter,
    )

    path = str(tmp_path / "stream_replay")
    w = ProtectedParquetStreamWriter(
        path, people.schema, {"name": "key_A"}, "keystream_xor"
    )
    batch = _people_batch(people)
    w.commit([w.write(iter([batch]))], batchId=0)
    n_files = len([n for n in os.listdir(path) if n.endswith(".parquet")])
    # replay of batch 0: its fresh file must be discarded, not kept
    w.commit([w.write(iter([batch]))], batchId=0)
    assert (
        len([n for n in os.listdir(path) if n.endswith(".parquet")])
        == n_files
    )
    w.commit([w.write(iter([batch]))], batchId=1)  # new batch appends
    got = spark.read.format("dbps_protected").load(path)
    assert got.count() == 2 * people.count()


def test_stream_restart_validates_existing_sidecar(spark, people, tmp_path):
    """Restarting a stream against an existing dataset with a different
    key must be rejected up front (a mismatched keystream would append
    files that silently decrypt to garbage)."""
    path = str(tmp_path / "stream_badkey")
    (
        people.write.format("dbps_protected")
        .mode("append")
        .option("columns", "name:key_A")
        .save(path)
    )
    ds = ProtectedParquetDataSource(
        {"path": path, "columns": "name:key_B"}
    )
    with pytest.raises(DBPSInvalidInputError, match="append config"):
        ds.streamWriter(people.schema, overwrite=False)


def test_append_rejects_unprotected_schema_drift(spark, people, tmp_path):
    """Appending a frame whose UNPROTECTED column types differ from the
    on-disk footer must fail instead of creating a mixed-schema set."""
    path = str(tmp_path / "dsw_drift")
    w = lambda df: (
        df.write.format("dbps_protected")
        .mode("append")
        .option("columns", "name:key_A")
        .save(path)
    )
    w(people)
    drifted = people.withColumn("balance", F.col("balance").cast("string"))
    with pytest.raises(Exception, match="append schema mismatch"):
        w(drifted)


def test_stream_sink_writes_decryptable_dataset(spark, people, tmp_path):
    """df.writeStream.format('dbps_protected') protects on the fly;
    the result opens with both readers and matches the batch input."""
    import time as _time

    from databatchprotectionservice_spark.sources.protected_parquet import (
        read_protected,
    )

    src = str(tmp_path / "stream_src")
    people.coalesce(1).write.parquet(src)
    dst = str(tmp_path / "stream_dst")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(people.schema).parquet(src)
    q = (
        stream.writeStream.format("dbps_protected")
        .option("columns", "name:key_A,dec:key_C")
        .option("encryptor", "aes_siv")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(dst)
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    for got in (
        spark.read.format("dbps_protected").load(dst),
        read_protected(spark, dst),
    ):
        for c in ["pid", "name", "balance", "dec"]:
            assert _vals(got, c) == _vals(people, c)
    raw = dict(spark.read.parquet(dst).dtypes)
    assert raw["name"] == "binary" and raw["dec"] == "binary"


def test_partitioned_dataset_append_is_refused_and_sidecar_survives(
    spark, tmp_path
):
    """The batch writer emits the FLAT layout, so appending to a
    hive-partitioned protected dataset must refuse up front (the old
    gate looked only at top-level parquet files, which a partitioned
    layout doesn't have — the append then silently rewrote the sidecar
    out from under every partitioned file)."""
    import json
    import os

    base = str(tmp_path / "part_ds")
    df = spark.range(20).selectExpr(
        "id", "cast(id as string) as name", "cast(id % 2 as string) as lang"
    )
    write_protected(df, base, {"name": "key_A"}, partition_by=["lang"])
    with pytest.raises(Exception, match="hive-partitioned|flat layout"):
        (
            df.write.format("dbps_protected")
            .option("columns", "name:key_B")
            .mode("append")
            .save(base)
        )
    meta = json.load(open(os.path.join(base, "_dbps_protection.json")))
    assert meta["partition_by"] == ["lang"]
    assert meta["columns"]["name"]["key_id"] == "key_A"


def test_overwrite_replaces_partitioned_dataset_at_commit(spark, tmp_path):
    """mode('overwrite') keeps the old dataset until commit(), then
    removes stale top-level files AND hive key=value/ dirs; the new
    flat dataset reads back complete."""
    import os

    base = str(tmp_path / "ow_ds")
    df = spark.range(30).selectExpr(
        "id", "cast(id as string) as name", "cast(id % 3 as string) as lang"
    )
    write_protected(df, base, {"name": "key_A"}, partition_by=["lang"])
    (
        df.write.format("dbps_protected")
        .option("columns", "name:key_B")
        .mode("overwrite")
        .save(base)
    )
    assert not any("=" in n for n in os.listdir(base))
    out = spark.read.format("dbps_protected").load(base)
    assert out.count() == 30
    assert sorted(r.name for r in out.collect()) == sorted(
        str(i) for i in range(30)
    )
