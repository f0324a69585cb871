"""Container-ingest operators vs their closed-form DuckDB oracles.

The executors already assert the full roundtrip (WARC record walk,
chunked HTTP reassembly, entity decode back to the exact source text,
WebDataset sample fields byte-equal, ZIP stored/deflate twins CRC
-equal); these tests close the loop by running the Spark side against
the INDEPENDENT arithmetic oracle on a crafted hostile corpus (empty
text, every escapable character, multiline, non-ASCII including astral
codepoints, >512-byte members crossing tar block boundaries) and on
the real sf0.001 corpus.
"""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from databatchprotectionservice_spark.operators.ingest import (
    ARROW_IPC_ORACLE,
    AVRO_BLOCKS_ORACLE,
    GZIP_MEMBERS_ORACLE,
    ORC_SHARDS_ORACLE,
    TFEXAMPLE_SHARDS_ORACLE,
    TFRECORD_SHARDS_ORACLE,
    WARC_CHAIN_ORACLE,
    WEBDATASET_TAR_ORACLE,
    ZIP_MEMBERS_ORACLE,
    export_arrow_ipc_shards,
    ingest_arrow_ipc,
    ingest_gzip_multistream,
    ingest_avro_blocks,
    ingest_orc_shards,
    ingest_tfexample_shards,
    ingest_tfrecord_shards,
    ingest_warc_chain,
    ingest_webdataset_tar,
    ingest_zip_members,
)

_DOCS = [
    "",  # zero-byte members, zero-sample page
    "plain ascii words here",
    'amp & lt < gt > quot " apos \' mixed &&<<>>""',
    "multi\nline\r\nwith\ttabs and  double  spaces",
    "unicode: café 汉字 \U0001f600 mixed & <tag>",
    "x" * 1300,  # crosses two tar block boundaries
    "&amp; pre-escaped looking text &lt;not a tag&gt;",
    '<script>alert("not html")</script>',
]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ingest_tables"))
    n = len(_DOCS) * 3  # several shards, ids spanning 1..3 digits
    docs = [
        None if i % 11 == 10 else _DOCS[i % len(_DOCS)]
        for i in range(n)
    ]  # NULL text rides the Avro null-union and every coalesce path
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array(
                    ["en", "fr", "zh"][i % 3] for i in range(n)
                ),
                "n_chars": pa.array(
                    [
                        None if i % 7 == 6
                        else len(docs[i] or "")
                        for i in range(n)
                    ],
                    pa.int64(),
                ),
                "source": pa.array(
                    ["web", "book"][i % 2] for i in range(n)
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


def _oracle(sf_dir, sql):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    return con.execute(sql).fetchall()


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize(
    "query,oracle",
    [
        (ingest_warc_chain, WARC_CHAIN_ORACLE),
        (ingest_webdataset_tar, WEBDATASET_TAR_ORACLE),
        (ingest_zip_members, ZIP_MEMBERS_ORACLE),
        (ingest_tfrecord_shards, TFRECORD_SHARDS_ORACLE),
        (ingest_avro_blocks, AVRO_BLOCKS_ORACLE),
        (ingest_tfexample_shards, TFEXAMPLE_SHARDS_ORACLE),
        (ingest_orc_shards, ORC_SHARDS_ORACLE),
        (ingest_arrow_ipc, ARROW_IPC_ORACLE),
        (export_arrow_ipc_shards, ARROW_IPC_ORACLE),
        (ingest_gzip_multistream, GZIP_MEMBERS_ORACLE),
    ],
    ids=["warc", "tar", "zip", "tfrecord", "avro", "tfexample", "orc",
         "arrowipc", "arrowipc_export", "gzipms"],
)
def test_matches_oracle_on_crafted_corpus(spark, corpus_dir, query, oracle):
    got = _rows(query(spark, corpus_dir))
    want = _oracle(corpus_dir, oracle)
    assert got == want
    assert len(got) == 2  # both sources survived


@pytest.mark.parametrize(
    "query,oracle",
    [
        (ingest_warc_chain, WARC_CHAIN_ORACLE),
        (ingest_webdataset_tar, WEBDATASET_TAR_ORACLE),
        (ingest_zip_members, ZIP_MEMBERS_ORACLE),
        (ingest_tfrecord_shards, TFRECORD_SHARDS_ORACLE),
        (ingest_avro_blocks, AVRO_BLOCKS_ORACLE),
        (ingest_tfexample_shards, TFEXAMPLE_SHARDS_ORACLE),
        (ingest_orc_shards, ORC_SHARDS_ORACLE),
        (ingest_arrow_ipc, ARROW_IPC_ORACLE),
        (export_arrow_ipc_shards, ARROW_IPC_ORACLE),
        (ingest_gzip_multistream, GZIP_MEMBERS_ORACLE),
    ],
    ids=["warc", "tar", "zip", "tfrecord", "avro", "tfexample", "orc",
         "arrowipc", "arrowipc_export", "gzipms"],
)
def test_matches_oracle_on_real_corpus(spark, query, oracle):
    sf_dir = "/root/testdata/sf0.001"
    got = _rows(query(spark, sf_dir))
    want = _oracle(sf_dir, oracle)
    assert got == want
    assert got, "real corpus produced no rows"


def test_parquet_footer_audit_matches_counts(spark):
    """The footer walk's num_rows must equal count(*) per real table
    (sf0.001); structure-level agreement with pyarrow and the page
    -walk exactness are asserted inside the executors."""
    from databatchprotectionservice_spark.operators.ingest import (
        AUDIT_TABLES,
        PARQUET_FOOTER_ORACLE,
        parquet_footer_audit,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = _rows(parquet_footer_audit(spark, sf_dir))
    con = duckdb.connect()
    for t in AUDIT_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = con.execute(PARQUET_FOOTER_ORACLE).fetchall()
    assert got == want
    assert len(got) == len(AUDIT_TABLES)


def test_protect_real_pages_matches_counts(spark):
    """Every page of the real customer/documents files roundtrips
    through the sequencer with the EXPECTED mode (per-value for PLAIN
    dictionary pages, per-block fallback for RLE_DICTIONARY data
    pages), and the protected data-page value totals recover exact
    row counts."""
    from databatchprotectionservice_spark.operators.protection import (
        PROTECT_REAL_PAGES_ORACLE,
        REAL_PAGE_TABLES,
        protect_parquet_pages_real,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = _rows(protect_parquet_pages_real(spark, sf_dir))
    con = duckdb.connect()
    for t in REAL_PAGE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = con.execute(PROTECT_REAL_PAGES_ORACLE).fetchall()
    assert got == want
    assert all(n > 0 for _, n in got)


def test_msgpack_events_matches_oracle(spark):
    from databatchprotectionservice_spark.operators.ingest import (
        MSGPACK_EVENTS_ORACLE,
        ingest_msgpack_events,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = _rows(ingest_msgpack_events(spark, sf_dir))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(MSGPACK_EVENTS_ORACLE).fetchall()
    assert got == want
    assert len(got) >= 3  # several event types survived


def test_txnlog_snapshot_matches_oracle(spark, corpus_dir):
    from databatchprotectionservice_spark.operators.ingest import (
        TXNLOG_SNAPSHOT_ORACLE,
        TXNLOG_TIME_TRAVEL_ORACLE,
        txnlog_snapshot_scan,
        txnlog_time_travel,
    )

    for sf_dir in (corpus_dir, "/root/testdata/sf0.001"):
        got = _rows(txnlog_snapshot_scan(spark, sf_dir))
        want = _oracle(sf_dir, TXNLOG_SNAPSHOT_ORACLE)
        assert got == want
        assert got, f"{sf_dir}: empty snapshot result"
        # the pruning predicate actually prunes somewhere
        assert any(r[3] < r[1] for r in got)
        # time travel: the pre-remove snapshot sees every shard
        asof = _rows(txnlog_time_travel(spark, sf_dir))
        assert asof == _oracle(sf_dir, TXNLOG_TIME_TRAVEL_ORACLE)
        live_now = sum(r[1] for r in got)
        assert sum(r[1] for r in asof) >= live_now


def test_cbor_events_matches_oracle(spark):
    from databatchprotectionservice_spark.operators.ingest import (
        CBOR_EVENTS_ORACLE,
        ingest_cbor_events,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = _rows(ingest_cbor_events(spark, sf_dir))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(CBOR_EVENTS_ORACLE).fetchall()
    assert got == want
    assert got and all(r[1] > 0 for r in got)


def test_txnlog_compaction_matches_oracle(spark, corpus_dir):
    from databatchprotectionservice_spark.operators.ingest import (
        TXNLOG_COMPACTION_ORACLE,
        txnlog_compaction,
    )

    for sf_dir in (corpus_dir, "/root/testdata/sf0.001"):
        got = _rows(txnlog_compaction(spark, sf_dir))
        want = _oracle(sf_dir, TXNLOG_COMPACTION_ORACLE)
        assert got == want
        # compaction must reduce (or keep) the file count and never
        # touch a row; somewhere it must actually compact
        assert all(r[2] <= r[1] for r in got)
        assert any(r[3] >= 2 for r in got) or all(r[1] == r[2] for r in got)


def test_banded_shards_arrive_with_a_range_index(spark):
    """Several shards share one band; each must reach ``shard_fn`` with
    a fresh RangeIndex, as an unbanded applyInPandas group would."""
    import pandas as pd

    from databatchprotectionservice_spark.operators.ingest import _banded_shards

    rows = [("s", shard, i) for shard in (0, 1, 2) for i in range(4)]
    d = spark.createDataFrame(rows, "source string, shard_id long, v long")

    def shard_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        assert list(pdf.index) == list(range(len(pdf)))
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n": [len(pdf)],
            }
        )

    got = _banded_shards(
        spark, d, shard_fn, "source string, shard_id long, n long"
    ).collect()
    assert sorted(map(tuple, got)) == [("s", 0, 4), ("s", 1, 4), ("s", 2, 4)]
