"""Integrity scan (fsck) for protected columns and datasets.

A valid protected dataset verifies 100%; tampered cells, wrong-type
tags, and truncated payloads are counted invalid — with AES-SIV the
check is real cryptographic authentication, so a flipped ciphertext
bit must be caught. No plaintext leaves the executors.
"""

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from databatchprotectionservice_spark.functions.protect import (
    protect_column,
    verify_column,
)
from databatchprotectionservice_spark.sources.protected_parquet import (
    verify_protected,
    write_protected,
)


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        Row(pid=1, name="ada", balance=10.5),
        Row(pid=2, name=None, balance=-3.25),
        Row(pid=3, name="grace", balance=7.0),
    ]
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
def test_clean_column_verifies_fully(spark, people, encryptor):
    prot = protect_column(people, "name", "k1", encryptor=encryptor)
    flagged = verify_column(prot, "name", T.StringType(), "k1", encryptor)
    rows = flagged.select("pid", "name__ok").collect()
    assert all(r.name__ok for r in rows)  # nulls included


def test_tampered_cell_caught_by_aes_auth(spark, people):
    prot = protect_column(people, "name", "k1", encryptor="aes_siv")

    # flip one ciphertext bit past the tag on pid=1 only
    @F.udf(T.BinaryType())
    def tamper(b):
        if b is None:
            return None
        b = bytearray(b)
        b[len(b) // 2] ^= 0x40
        return bytes(b)

    bad = prot.withColumn(
        "name",
        F.when(F.col("pid") == 1, tamper(F.col("name"))).otherwise(
            F.col("name")
        ),
    )
    flagged = verify_column(bad, "name", T.StringType(), "k1", "aes_siv")
    got = {r.pid: r.name__ok for r in flagged.select("pid", "name__ok").collect()}
    assert got == {1: False, 2: True, 3: True}


def test_wrong_key_fails_aes_verification(spark, people):
    prot = protect_column(people, "balance", "k1", encryptor="aes_siv")
    flagged = verify_column(
        prot, "balance", T.DoubleType(), "other_key", "aes_siv"
    )
    got = [r.balance__ok for r in flagged.collect()]
    assert got.count(False) == 3  # every non-null cell rejected


def test_wrong_tag_and_truncation_caught_without_aes(spark, people):
    prot = protect_column(people, "balance", "k1")  # keystream

    @F.udf(T.BinaryType())
    def truncate(b):
        return b[: len(b) // 2] if b is not None else None

    bad = prot.withColumn(
        "balance",
        F.when(F.col("pid") == 2, truncate(F.col("balance"))).otherwise(
            F.col("balance")
        ),
    )
    flagged = verify_column(bad, "balance", T.DoubleType(), "k1")
    got = {r.pid: r.balance__ok for r in flagged.collect()}
    # pid=2: truncated fixed-width payload -> wrong plaintext width
    assert got == {1: True, 2: False, 3: True}
    # verifying under the WRONG declared type fails on the tag byte
    mistyped = verify_column(
        prot, "balance", T.LongType(), "k1", flag_column="as_long_ok"
    )
    assert not any(r.as_long_ok for r in mistyped.collect())


def test_verify_protected_dataset_report(spark, people, tmp_path):
    path = str(tmp_path / "prot_fsck")
    write_protected(
        people, path, {"name": "kn", "balance": "kb"}, encryptor="aes_siv"
    )
    report = verify_protected(spark, path)
    assert report == {
        "name": {"n_cells": 3, "n_valid": 3, "n_invalid": 0},
        "balance": {"n_cells": 3, "n_valid": 3, "n_invalid": 0},
    }


def test_verify_unknown_column_rejected(spark, people, tmp_path):
    """Naming a column absent from the sidecar is a typed input error
    listing what the sidecar does have (not a bare KeyError)."""
    from databatchprotectionservice_spark.core.errors import (
        DBPSInvalidInputError,
    )

    path = str(tmp_path / "vp_unknown")
    write_protected(people, path, {"name": "key_A"})
    with pytest.raises(DBPSInvalidInputError, match="nope.*name"):
        verify_protected(spark, path, columns=["nope"])


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
def test_clean_batch_verifies_with_one_decrypt_call(monkeypatch, encryptor):
    """A clean batch costs one batch decrypt; a bad cell makes the kernel
    decide cell by cell, with the same verdicts as before."""
    import pyarrow as pa

    from databatchprotectionservice_spark.functions import protect as mod

    calls = []
    make = mod.make_encryptor

    def counting(name, key_id):
        enc = make(name, key_id)
        inner = enc.decrypt_elements

        def decrypt_elements(*a, **kw):
            calls.append(len(a[1]) - 1)
            return inner(*a, **kw)

        enc.decrypt_elements = decrypt_elements
        return enc

    monkeypatch.setattr(mod, "make_encryptor", counting)
    names = pa.array(["ada", None, "grace", "", "x" * 40], pa.large_string())
    prot = mod.make_protect_kernel(T.StringType(), "k1", encryptor)(names)
    verify = mod.make_verify_kernel(T.StringType(), "k1", encryptor)
    assert verify(prot).to_pylist() == [True] * 5
    assert calls == [4]  # one call over the four non-null cells

    if encryptor == "aes_siv":
        cells = prot.to_pylist()
        cells[2] = cells[2][:-1] + bytes([cells[2][-1] ^ 1])
        calls.clear()
        got = verify(pa.array(cells, pa.large_binary())).to_pylist()
        assert got == [True, True, False, True, True]
        assert calls == [4, 1, 1, 1, 1]  # the batch, then cell by cell
