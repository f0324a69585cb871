"""Seed determinism: the same seed gives byte-identical inputs."""

import io

import pyarrow as pa

import datagen


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def test_table_is_a_function_of_seed_and_index():
    a = _ipc_bytes(datagen.make_table(7, 0, 2_000))
    assert a == _ipc_bytes(datagen.make_table(7, 0, 2_000))
    assert a != _ipc_bytes(datagen.make_table(8, 0, 2_000))
    assert a != _ipc_bytes(datagen.make_table(7, 1, 2_000))


def test_table_shape_and_nulls():
    t = datagen.make_table(3, 0, 5_000)
    assert t.column_names == list(datagen.COLUMNS)
    assert str(t.schema.field("amount").type) == "decimal128(12, 2)"
    for name in datagen.COLUMNS:
        assert 0 < t.column(name).null_count < 5_000 * 0.1


def test_expected_aggregates_are_exact():
    t = datagen.make_table(3, 0, 5_000)
    agg = datagen.expected_aggregates(t)
    assert agg["rows"] == 5_000
    # score values are multiples of 1/4, so the float sum is exact
    assert agg["score_sum"] * 4 == int(agg["score_sum"] * 4)
    assert agg["email_len_sum"] == datagen.plaintext_bytes(
        t.column("email").combine_chunks()
    )


def test_pages_are_a_function_of_seed_and_index():
    a = datagen.make_pages(5, 0)
    b = datagen.make_pages(5, 0)
    assert [p["payload"] for p in a] == [p["payload"] for p in b]
    assert [p["attrs"] for p in a] == [p["attrs"] for p in b]
    assert [p["payload"] for p in a] != [p["payload"] for p in datagen.make_pages(6, 0)]


def test_row_group_covers_the_six_scenarios_and_five_types():
    pages = datagen.make_pages(1, 0)
    assert len(pages) == 6
    assert {p["datatype"].name for p in pages} == {
        "INT32", "INT64", "DOUBLE", "FIXED_LEN_BYTE_ARRAY", "BYTE_ARRAY",
    }
    assert [p["mode"] for p in pages].count("per_block") == 1
    assert {p["attrs"]["page_type"] for p in pages} == {
        "DATA_PAGE_V1", "DATA_PAGE_V2", "DICTIONARY_PAGE",
    }
