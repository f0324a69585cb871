"""Protected Parquet sink/source round-trips."""

import pytest

from pyspark.sql import functions as F

from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.sources.dbps_datasource import (
    register_dbps_datasource,
)
from databatchprotectionservice_spark.sources.protected_parquet import (
    read_protected,
    read_protection_metadata,
    write_protected,
)


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


def _rows(df, keys):
    return sorted(tuple(r) for r in df.select(*keys).collect())


def test_roundtrip_restores_values_and_types(spark, customer, tmp_path):
    path = str(tmp_path / "prot")
    write_protected(
        customer, path, {"c_name": "k1", "c_acctbal": "k2"}, mode="overwrite"
    )
    back = read_protected(spark, path)
    assert dict(back.dtypes)["c_name"] == "string"
    assert dict(back.dtypes)["c_acctbal"] == "double"
    cols = ["c_custkey", "c_name", "c_acctbal"]
    assert _rows(back, cols) == _rows(customer, cols)


def test_ciphertext_on_disk_is_actually_protected(spark, customer, tmp_path):
    path = str(tmp_path / "prot")
    write_protected(customer, path, {"c_name": "k1"}, mode="overwrite")
    raw = spark.read.parquet(path)
    assert dict(raw.dtypes)["c_name"] == "binary"
    names = set(customer.select("c_name").toPandas()["c_name"])
    on_disk = set(raw.select("c_name").toPandas()["c_name"].map(bytes))
    assert not {n.encode() for n in names} & on_disk


def test_keep_protected_leaves_ciphertext(spark, customer, tmp_path):
    path = str(tmp_path / "prot")
    write_protected(
        customer, path, {"c_name": "k1", "c_acctbal": "k2"}, mode="overwrite"
    )
    partial = read_protected(spark, path, keep_protected=["c_name"])
    assert dict(partial.dtypes)["c_name"] == "binary"
    assert dict(partial.dtypes)["c_acctbal"] == "double"


def test_partitioned_write_and_pruning(spark, customer, tmp_path):
    path = str(tmp_path / "prot_part")
    write_protected(
        customer,
        path,
        {"c_name": "k1"},
        mode="overwrite",
        partition_by=["c_mktsegment"],
    )
    seg = customer.select("c_mktsegment").first()[0]
    back = read_protected(spark, path).filter(F.col("c_mktsegment") == seg)
    expect = customer.filter(F.col("c_mktsegment") == seg)
    cols = ["c_custkey", "c_name"]
    assert _rows(back, cols) == _rows(expect, cols)
    # partition pruning still works on the unprotected partition column
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(c_mktsegment" in plan


def test_protecting_partition_column_rejected(customer, tmp_path):
    with pytest.raises(DBPSInvalidInputError):
        write_protected(
            customer,
            str(tmp_path / "bad"),
            {"c_mktsegment": "k"},
            partition_by=["c_mktsegment"],
        )


def test_unknown_column_rejected(customer, tmp_path):
    with pytest.raises(DBPSInvalidInputError):
        write_protected(customer, str(tmp_path / "bad"), {"nope": "k"})


def test_missing_sidecar_rejected(spark, customer, tmp_path):
    path = str(tmp_path / "plain")
    customer.write.parquet(path)
    with pytest.raises(DBPSInvalidInputError):
        read_protection_metadata(path)


def test_bad_version_rejected(spark, customer, tmp_path):
    import json
    import os

    path = str(tmp_path / "prot")
    write_protected(customer, path, {"c_name": "k1"}, mode="overwrite")
    sidecar = os.path.join(path, "_dbps_protection.json")
    meta = json.load(open(sidecar))
    meta["dbps_agent_version"] = "v99"
    json.dump(meta, open(sidecar, "w"))
    with pytest.raises(DBPSInvalidInputError):
        read_protected(spark, path)
    # the data source reads the same sidecar through the same check
    register_dbps_datasource(spark)
    with pytest.raises(Exception, match="unsupported dbps_agent_version"):
        spark.read.format("dbps_protected").load(path).collect()


def test_aes_siv_roundtrip(spark, customer, tmp_path):
    path = str(tmp_path / "prot_aes")
    write_protected(
        customer, path, {"c_name": "k1"}, encryptor="aes_siv", mode="overwrite"
    )
    back = read_protected(spark, path)
    cols = ["c_custkey", "c_name"]
    assert _rows(back, cols) == _rows(customer, cols)


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_text_format_roundtrip_base64_cells(spark, customer, tmp_path, fmt):
    """Text formats carry ciphertext base64-encoded (reference JSON
    transport parity); values and types still round-trip."""
    path = str(tmp_path / f"prot_{fmt}")
    write_protected(
        customer.select("c_custkey", "c_name"),
        path,
        {"c_name": "k1"},
        mode="overwrite",
        data_format=fmt,
    )
    import json as _json
    import os

    meta = _json.load(open(os.path.join(path, "_dbps_protection.json")))
    assert meta["cell_encoding"] == "base64"
    back = read_protected(spark, path)
    assert dict(back.dtypes)["c_name"] == "string"
    got = sorted((int(r.c_custkey), r.c_name) for r in back.collect())
    want = sorted(
        (r.c_custkey, r.c_name)
        for r in customer.select("c_custkey", "c_name").collect()
    )
    assert got == want


def test_unknown_format_rejected(customer, tmp_path):
    with pytest.raises(DBPSInvalidInputError):
        write_protected(
            customer, str(tmp_path / "bad"), {"c_name": "k"}, data_format="xml"
        )
