"""Unit battery for the vendored minimal protobuf runtime
(``vendor/miniproto``), which carries Spark's transformWithState
state-server protocol where the real ``protobuf`` package is absent.

Encoder correctness is pinned by HAND-ASSEMBLED wire bytes derived
from the public encoding spec (tag = field_number << 3 | wire_type;
varint = base-128 little-endian groups, msb = continuation) — not by
self-roundtrips, so a symmetric encode/decode bug cannot hide (the
same convention as the GIF/JPEG codec suites)."""

import os
import shutil
import tempfile
import zipfile

import pytest

from databatchprotectionservice_spark.vendor import ensure_protobuf
from databatchprotectionservice_spark.vendor.miniproto.google.protobuf import _mini as m


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "value,expected",
    [
        (0, b"\x00"),
        (1, b"\x01"),
        (127, b"\x7f"),
        (128, b"\x80\x01"),
        (150, b"\x96\x01"),  # the spec's own worked example
        (300, b"\xac\x02"),
        ((1 << 64) - 1, b"\xff" * 9 + b"\x01"),
        (-1, b"\xff" * 9 + b"\x01"),  # two's complement 64-bit
        (-2, b"\xfe" + b"\xff" * 8 + b"\x01"),
    ],
)
def test_varint_encode_hand_vectors(value, expected):
    assert m.encode_varint(value) == expected


def test_varint_decode_inverts_and_rejects_truncation():
    for v in (0, 1, 127, 128, 150, 2**32, 2**63, (1 << 64) - 1):
        data = m.encode_varint(v)
        got, pos = m.decode_varint(data, 0)
        assert got == v and pos == len(data)
    with pytest.raises(ValueError, match="truncated"):
        m.decode_varint(b"\x80", 0)  # continuation bit, no next byte


def test_zigzag_spec_table():
    # the spec's published mapping: 0->0, -1->1, 1->2, -2->3, 2->4
    for plain, zz in [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4), (2147483647, 4294967294)]:
        assert m._zigzag_encode(plain) & ((1 << 64) - 1) == zz
        assert m._zigzag_decode(zz) == plain


def test_tlv_iteration_and_unknown_wire_types():
    # field 1 varint 150, field 2 LEN "hi", field 3 fixed32
    data = b"\x08\x96\x01" + b"\x12\x02hi" + b"\x1d\x01\x00\x00\x00"
    got = list(m.iter_tlv(data))
    assert got[0] == (1, m.WIRETYPE_VARINT, 150)
    assert got[1] == (2, m.WIRETYPE_LENGTH_DELIMITED, b"hi")
    assert got[2] == (3, m.WIRETYPE_FIXED32, b"\x01\x00\x00\x00")
    with pytest.raises(ValueError, match="group"):
        list(m.iter_tlv(b"\x0b"))  # field 1 START_GROUP


# ---------------------------------------------------------------------------
# the real consumer: pyspark's generated StateMessage module
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sm():
    ensure_protobuf()
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm_mod

    return sm_mod


def test_descriptor_parse_of_state_message(sm):
    d = sm.StateRequest.DESCRIPTOR
    by_name = d.fields_by_name
    assert by_name["version"].number == 1
    assert by_name["statefulProcessorCall"].type == m.TYPE_MESSAGE
    assert by_name["statefulProcessorCall"].message_type.name == "StatefulProcessorCall"
    # the oneof groups all five request arms
    assert {f.name for o in d.oneofs for f in o.fields} >= {
        "statefulProcessorCall",
        "stateVariableRequest",
        "implicitGroupingKeyRequest",
        "timerRequest",
        "utilsRequest",
    }
    # module-level enum constants, per gencode contract
    assert (sm.PRE_INIT, sm.CREATED, sm.INITIALIZED) == (0, 1, 2)
    assert sm.HandleState.Name(3) == "DATA_PROCESSED"
    assert sm.HandleState.Value("CLOSED") == 5


def test_hand_assembled_wire_bytes(sm):
    # SetHandleState{state=INITIALIZED}: field 1, varint, value 2
    assert sm.SetHandleState(state=2).SerializeToString() == b"\x08\x02"
    # StateCallCommand{stateName="s", schema="x"}:
    #   field 1 LEN 1 "s", field 2 LEN 1 "x"
    assert (
        sm.StateCallCommand(stateName="s", schema="x").SerializeToString()
        == b"\x0a\x01s\x12\x01x"
    )
    # RegisterTimer{expiryTimestampMs=-1}: int64 -1 = 10-byte varint
    assert (
        sm.RegisterTimer(expiryTimestampMs=-1).SerializeToString()
        == b"\x08" + b"\xff" * 9 + b"\x01"
    )
    # nested oneof exactly as stateful_processor_api_client builds it
    msg = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=2)
        )
    )
    # field 2 LEN { field 1 LEN { field 1 varint 2 } }
    assert msg.SerializeToString() == b"\x12\x04\x0a\x02\x08\x02"


def test_parse_from_hand_assembled_bytes(sm):
    # StateResponse{statusCode=1, errorMessage="bad", value=0xDEAD}
    wire = b"\x08\x01" + b"\x12\x03bad" + b"\x1a\x02\xde\xad"
    r = sm.StateResponse()
    r.ParseFromString(wire)
    assert (r.statusCode, r.errorMessage, r.value) == (1, "bad", b"\xde\xad")
    # unset fields read as proto3 defaults
    r2 = sm.StateResponse()
    r2.ParseFromString(b"")
    assert (r2.statusCode, r2.errorMessage, r2.value) == (0, "", b"")


def test_repeated_fields_and_unknown_field_skip(sm):
    resp = sm.StateResponseWithListGet(
        value=[b"a", b"bb", b""], requireNextFetch=True
    )
    r = sm.StateResponseWithListGet()
    r.ParseFromString(resp.SerializeToString())
    assert list(r.value) == [b"a", b"bb", b""]
    assert r.requireNextFetch is True
    # unknown field (99, varint) must be skipped, not fail
    r3 = sm.StateResponse()
    r3.ParseFromString(b"\x08\x07" + m.encode_varint((99 << 3) | 0) + b"\x2a")
    assert r3.statusCode == 7


def test_repeated_message_roundtrip(sm):
    rt = sm.StateResponseWithTimer(
        statusCode=0,
        timer=[
            sm.TimerInfo(timestampMs=-5),
            sm.TimerInfo(key=b"k", timestampMs=1 << 50),
        ],
    )
    r = sm.StateResponseWithTimer()
    r.ParseFromString(rt.SerializeToString())
    assert len(r.timer) == 2
    assert r.timer[0].timestampMs == -5 and r.timer[0].key == b""
    assert r.timer[1].key == b"k" and r.timer[1].timestampMs == 1 << 50


def test_oneof_presence_semantics(sm):
    req = sm.ImplicitGroupingKeyRequest(
        removeImplicitKey=sm.RemoveImplicitKey()
    )
    # the EMPTY submessage must still hit the wire (zero-length LEN
    # record) so the JVM sees which oneof arm was taken
    assert req.SerializeToString() == b"\x12\x00"
    assert req.WhichOneof("method") == "removeImplicitKey"
    assert req.HasField("removeImplicitKey")
    assert not req.HasField("setImplicitKey")
    # reading the unset arm must NOT mark it present
    _ = req.setImplicitKey
    assert req.SerializeToString() == b"\x12\x00"


def test_oneof_set_clears_siblings(sm):
    """Setting a second member of the same oneof must CLEAR the first
    (real-runtime semantics): re-used message objects would otherwise
    serialize BOTH arms and hand the JVM state server an ambiguous
    oneof (ADVICE r8)."""
    req = sm.ImplicitGroupingKeyRequest(
        removeImplicitKey=sm.RemoveImplicitKey()
    )
    req.setImplicitKey = sm.SetImplicitKey(key=b"k")
    assert req.WhichOneof("method") == "setImplicitKey"
    assert not req.HasField("removeImplicitKey")
    wire = req.SerializeToString()
    # exactly one arm on the wire: field 1 (setImplicitKey) only
    assert wire.startswith(b"\x0a") and b"\x12\x00" not in wire
    # flipping back clears the other direction too
    req.removeImplicitKey = sm.RemoveImplicitKey()
    assert req.WhichOneof("method") == "removeImplicitKey"
    assert not req.HasField("setImplicitKey")
    assert req.SerializeToString() == b"\x12\x00"


def test_packed_repeated_scalars_parse():
    """StateMessage has no packed fields; pin the decoder path with a
    synthetic descriptor (proto3 serializers pack repeated varints)."""
    desc = m.Descriptor("P", "t.P")
    desc.add_field(
        m.FieldDescriptor("xs", 1, m.TYPE_INT64, m.LABEL_REPEATED)
    )
    cls = m.make_message_class(desc)
    # packed: field 1 LEN [varint 3, varint 270, varint -1]
    payload = (
        m.encode_varint(3) + m.encode_varint(270) + m.encode_varint(-1)
    )
    wire = b"\x0a" + m.encode_varint(len(payload)) + payload
    p = cls()
    p.ParseFromString(wire)
    assert list(p.xs) == [3, 270, -1]
    # unpacked form of the same field must parse identically
    wire2 = b"".join(b"\x08" + m.encode_varint(v) for v in (3, 270, -1))
    p2 = cls()
    p2.ParseFromString(wire2)
    assert list(p2.xs) == [3, 270, -1]


def test_full_scalar_type_matrix_roundtrip():
    types = [
        ("d", m.TYPE_DOUBLE, -1.5),
        ("f", m.TYPE_FLOAT, 2.5),  # exactly representable in f32
        ("i64", m.TYPE_INT64, -(1 << 62)),
        ("u64", m.TYPE_UINT64, (1 << 64) - 1),
        ("i32", m.TYPE_INT32, -123),
        ("fx64", m.TYPE_FIXED64, 1 << 40),
        ("fx32", m.TYPE_FIXED32, 1 << 20),
        ("b", m.TYPE_BOOL, True),
        ("s", m.TYPE_STRING, "héllo"),
        ("by", m.TYPE_BYTES, b"\x00\xff"),
        ("u32", m.TYPE_UINT32, (1 << 32) - 1),
        ("sf32", m.TYPE_SFIXED32, -7),
        ("sf64", m.TYPE_SFIXED64, -(1 << 33)),
        ("si32", m.TYPE_SINT32, -64),
        ("si64", m.TYPE_SINT64, -(1 << 45)),
    ]
    desc = m.Descriptor("S", "t.S")
    for i, (name, t, _v) in enumerate(types, start=1):
        desc.add_field(m.FieldDescriptor(name, i, t, m.LABEL_OPTIONAL))
    cls = m.make_message_class(desc)
    msg = cls(**{name: v for name, _t, v in types})
    out = cls()
    out.ParseFromString(msg.SerializeToString())
    for name, _t, v in types:
        assert getattr(out, name) == v, name


def test_ensure_protobuf_reports_runtime():
    assert ensure_protobuf() in ("protobuf", "miniproto")


def test_ensure_protobuf_ships_the_zip_once_per_context(spark):
    sc = spark.sparkContext
    before = len(sc.listFiles)
    runtime = ensure_protobuf(spark)
    shipped = len(sc.listFiles)
    assert shipped - before <= (1 if runtime == "miniproto" else 0)
    if runtime == "miniproto":
        from databatchprotectionservice_spark.vendor import _miniproto_zip

        name = os.path.basename(_miniproto_zip())
        assert any(f.endswith("/" + name) for f in sc.listFiles)
    ensure_protobuf(spark)
    assert len(sc.listFiles) == shipped


def test_miniproto_zip_builds_outside_a_read_only_package(tmp_path, monkeypatch):
    from databatchprotectionservice_spark import vendor

    pkg = tmp_path / "pkg" / "miniproto"
    shutil.copytree(
        os.path.join(vendor._MINIPROTO_DIR, "google"),
        pkg / "google",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    tree = [pkg, *pkg.rglob("*")]
    monkeypatch.setattr(vendor, "_MINIPROTO_DIR", str(pkg))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    for p in tree:
        p.chmod(p.stat().st_mode & ~0o222)
    try:
        path = vendor._miniproto_zip()
        assert vendor._miniproto_zip() == path
    finally:
        for p in tree:
            p.chmod(p.stat().st_mode | 0o200)
    assert sorted(pkg.rglob("*")) == sorted(tree[1:])
    assert path.startswith(str(tmp_path / "tmp"))
    with zipfile.ZipFile(path) as z:
        assert "google/protobuf/__init__.py" in z.namelist()
        assert all(name.startswith("google/") for name in z.namelist())
    # the name follows the content
    (pkg / "google" / "protobuf" / "__init__.py").write_text("# changed\n")
    assert vendor._miniproto_zip() != path


def test_oneof_parse_side_last_on_wire_wins(sm):
    """Wire bytes carrying TWO members of one oneof must resolve to the
    LAST arm on the wire (real-runtime merge semantics), not keep both:
    re-serialization would otherwise hand the JVM an ambiguous oneof."""
    both = (
        sm.ImplicitGroupingKeyRequest(
            setImplicitKey=sm.SetImplicitKey(key=b"k")
        ).SerializeToString()
        + sm.ImplicitGroupingKeyRequest(
            removeImplicitKey=sm.RemoveImplicitKey()
        ).SerializeToString()
    )
    req = sm.ImplicitGroupingKeyRequest()
    req.ParseFromString(both)
    assert req.WhichOneof("method") == "removeImplicitKey"
    assert not req.HasField("setImplicitKey")
    assert req.SerializeToString() == b"\x12\x00"
