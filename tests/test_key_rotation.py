"""Key rotation: re-encrypt protected data under a new key in one pass.

Properties that make a rotation correct:
* rotated data unprotects with the NEW key to the original values;
* the OLD key no longer yields the plaintext (ciphertext changed);
* nulls survive; every physical type family works (long, integer,
  double, boolean, date, string, decimal), under every cipher pair
  (keystream -> keystream, keystream -> AES-SIV and back);
* the dataset-level helper rewrites the sidecar so `read_protected`
  opens the rotated dataset with no extra configuration.
"""

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from databatchprotectionservice_spark.functions.protect import (
    protect_column,
    rotate_key_column,
    unprotect_column,
)
from databatchprotectionservice_spark.sources.protected_parquet import (
    read_protected,
    read_protection_metadata,
    rotate_protected,
    write_protected,
)


@pytest.fixture(scope="module")
def people(spark):
    import datetime

    rows = [
        Row(pid=1, name="ada", balance=10.5, dec=None, qty=7, flag=True,
            day=datetime.date(2024, 2, 29)),
        Row(pid=2, name=None, balance=-3.25, dec="12.34", qty=None,
            flag=False, day=None),
        Row(pid=3, name="grace", balance=None, dec="-0.01", qty=-1,
            flag=None, day=datetime.date(1970, 1, 1)),
        Row(pid=4, name="", balance=0.0, dec="9999999999.99", qty=0,
            flag=True, day=datetime.date(1969, 12, 31)),
    ]
    return (
        spark.createDataFrame(rows)
        .withColumn("dec", F.col("dec").cast(T.DecimalType(12, 2)))
        .withColumn("qty", F.col("qty").cast(T.IntegerType()))
    )


def _vals(df, column):
    """Column values as a None-safe sorted list."""
    return sorted(
        (r[0] for r in df.select(column).collect()),
        key=lambda v: (v is None, str(v)),
    )


@pytest.mark.parametrize(
    "column,dtype",
    [
        ("pid", T.LongType()),
        ("name", T.StringType()),
        ("balance", T.DoubleType()),
        ("dec", T.DecimalType(12, 2)),
        ("flag", T.BooleanType()),
        ("day", T.DateType()),
        ("qty", T.IntegerType()),
    ],
)
def test_rotate_roundtrips_every_type(spark, people, column, dtype):
    """Rotation is the old codec's open plus the new codec's seal, so
    every type runs under the same-cipher pair and both migrations."""
    for old_enc, new_enc in [
        ("keystream_xor", "keystream_xor"),
        ("keystream_xor", "aes_siv"),
        ("aes_siv", "keystream_xor"),
    ]:
        prot = protect_column(people, column, "k_old", encryptor=old_enc)
        rotated = rotate_key_column(
            prot,
            column,
            dtype,
            "k_old",
            "k_new",
            old_encryptor=old_enc,
            new_encryptor=new_enc,
        )
        back = unprotect_column(
            rotated, column, dtype, "k_new", encryptor=new_enc
        )
        assert _vals(back, column) == _vals(people, column), (old_enc, new_enc)


def test_rotation_changes_ciphertext_and_retires_old_key(spark, people):
    prot = protect_column(people, "name", "k_old")
    rotated = rotate_key_column(prot, "name", T.StringType(), "k_old", "k_new")
    old_ct = {r.pid: r.name for r in prot.select("pid", "name").collect()}
    new_ct = {r.pid: r.name for r in rotated.select("pid", "name").collect()}
    for pid, ct in new_ct.items():
        if ct is not None and len(ct) > 1:  # tag + nonempty payload
            assert ct != old_ct[pid]
    # the old key no longer yields the plaintext. Decode the rotated
    # LONG column with the stale key: the fixed-width path can't fail on
    # encoding, so it must produce wrong numbers (a stale-key STRING
    # decode may instead raise on invalid UTF-8 — also a correct outcome)
    protl = protect_column(people, "pid", "k_old")
    rotl = rotate_key_column(protl, "pid", T.LongType(), "k_old", "k_new")
    stale = unprotect_column(rotl, "pid", T.LongType(), "k_old")
    originals = sorted(r.pid for r in people.collect())
    decoded = sorted(r.pid for r in stale.collect())
    assert decoded != originals


def test_rotate_can_migrate_ciphers(spark, people):
    prot = protect_column(people, "name", "k1", encryptor="keystream_xor")
    rotated = rotate_key_column(
        prot,
        "name",
        T.StringType(),
        "k1",
        "k2",
        old_encryptor="keystream_xor",
        new_encryptor="aes_siv",
    )
    back = unprotect_column(
        rotated, "name", T.StringType(), "k2", encryptor="aes_siv"
    )
    assert _vals(back, "name") == _vals(people, "name")


def test_rotate_protected_dataset_updates_sidecar(spark, people, tmp_path):
    src = str(tmp_path / "prot_src")
    dst = str(tmp_path / "prot_rotated")
    write_protected(
        people, src, {"name": "k_name_v1", "balance": "k_bal_v1"}
    )
    sidecar = rotate_protected(
        spark, src, dst, {"name": "k_name_v2"}
    )
    assert sidecar["columns"]["name"]["key_id"] == "k_name_v2"
    assert sidecar["columns"]["balance"]["key_id"] == "k_bal_v1"  # untouched
    meta = read_protection_metadata(dst, spark)
    assert meta["columns"]["name"]["key_id"] == "k_name_v2"
    back = read_protected(spark, dst)
    got = sorted(back.select("pid", "name", "balance").collect(), key=lambda r: r.pid)
    want = sorted(people.select("pid", "name", "balance").collect(), key=lambda r: r.pid)
    assert got == want


def test_rotate_preserves_partition_layout(spark, people, tmp_path):
    """A partition_by-written dataset stays directory-partitioned after
    rotation (the sidecar records the layout)."""
    import os

    src = str(tmp_path / "part_src")
    dst = str(tmp_path / "part_dst")
    write_protected(
        people, src, {"name": "key_A"}, partition_by=["pid"]
    )
    assert read_protection_metadata(src)["partition_by"] == ["pid"]
    sidecar = rotate_protected(spark, src, dst, {"name": "key_B"})
    assert sidecar["partition_by"] == ["pid"]
    assert any(e.startswith("pid=") for e in os.listdir(dst))
    got = read_protected(spark, dst)
    assert _vals(got, "name") == _vals(people, "name")
