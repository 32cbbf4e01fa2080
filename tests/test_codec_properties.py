"""Property-based round-trip tests for the pure-Python Avro/Protobuf wire
codecs — hypothesis drives values across the encodings' edge cases (varint
boundaries, zigzag signs, unicode, subnormal doubles, empty/None branches,
packed repeated fields) that example-based tests under-sample.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from velostream_spark.sources import avro_binary
from velostream_spark.sources.avro_binary import (
    AvroBinaryCodec,
    _zlong_bytes,
    decode_avro_batch,
)
from velostream_spark.sources.proto_binary import ProtobufCodec

_INT64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_INT32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_TEXT = st.text(max_size=80)
# exclude NaN (NaN != NaN breaks equality); keep infinities and subnormals
_DOUBLE = st.floats(allow_nan=False, width=64)

AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "o", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "b", "type": "bytes"},
            {"name": "flag", "type": "boolean"},
        ],
    }
)

AVRO_READER = json.dumps(
    {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "o", "type": ["null", "long"], "default": None},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "flag", "type": "boolean"},
            {"name": "added", "type": "string", "default": "dflt"},
        ],
    }
)

avro_records = st.fixed_dictionaries(
    {
        "i": _INT64,
        "s": _TEXT,
        "d": _DOUBLE,
        "o": st.one_of(st.none(), _INT64),
        "arr": st.lists(_INT64, max_size=8),
        "m": st.dictionaries(st.text(max_size=10), _TEXT, max_size=5),
        "b": st.binary(max_size=40),
        "flag": st.booleans(),
    }
)


@settings(max_examples=200, deadline=None)
@given(avro_records)
def test_avro_roundtrip_property(rec):
    codec = AvroBinaryCodec(AVRO_SCHEMA)
    out = codec.decode(codec.encode(rec))
    assert out == rec


@settings(max_examples=100, deadline=None)
@given(avro_records)
def test_avro_evolution_property(rec):
    evolved = AvroBinaryCodec(AVRO_SCHEMA, AVRO_READER)
    out = evolved.decode(AvroBinaryCodec(AVRO_SCHEMA).encode(rec))
    assert out["added"] == "dflt" and "arr" not in out and "b" not in out
    for k in ("i", "s", "d", "o", "m", "flag"):
        assert out[k] == rec[k]


# ---------------------------------------------------------------------------
# vectorised batch decode vs the per-record reference decoder
# ---------------------------------------------------------------------------


def _scaled(unscaled, scale):
    # exact: Decimal.scaleb rounds to the default context's 28 digits
    return decimal.Decimal(unscaled).scaleb(-scale, decimal.Context(prec=80))


def _dec(prec, scale, fixed=None):
    base = {"logicalType": "decimal", "precision": prec, "scale": scale}
    if fixed:
        return dict(base, type="fixed", name=f"F{fixed}", size=fixed)
    return dict(base, type="bytes")


_INNER = {
    "type": "record",
    "name": "Inner",
    "fields": [
        {"name": "x", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "when", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
    ],
}

#: every shape ``codecs.avro_to_spark_type`` maps, encoded by the codec
_SHAPE_FIELDS = [
    {"name": "flag", "type": "boolean"},
    {"name": "i", "type": "int"},
    {"name": "l", "type": "long"},
    {"name": "f", "type": "float"},
    {"name": "d", "type": "double"},
    {"name": "s", "type": "string"},
    {"name": "b", "type": "bytes"},
    {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}},
    {"name": "fx", "type": {"type": "fixed", "name": "F3", "size": 3}},
    {"name": "dec_b", "type": _dec(38, 4)},
    {"name": "dec_f", "type": _dec(30, 2, fixed=16)},
    {"name": "dec_f8", "type": _dec(18, 3, fixed=8)},
    {"name": "day", "type": {"type": "int", "logicalType": "date"}},
    {"name": "ts_ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    {"name": "ts_us", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    {"name": "opt_s", "type": ["null", "string"]},
    {"name": "opt_l", "type": ["long", "null"]},
    {"name": "rec", "type": ["null", _INNER]},
    {"name": "arr", "type": {"type": "array", "items": ["null", "double"]}},
    {"name": "nested", "type": {"type": "array", "items": {"type": "array", "items": "int"}}},
    {"name": "mp", "type": {"type": "map", "values": {"type": "array", "items": "long"}}},
    {"name": "mrec", "type": {"type": "map", "values": _INNER}},
]

#: written by hand after the codec-encoded fields: the codec's encoder never
#: emits a zero-length decimal or a negative (byte-sized) block count
_TAIL_FIELDS = [
    {"name": "dec_z", "type": _dec(38, 3)},
    {"name": "blk", "type": {"type": "array", "items": "long"}},
    {"name": "blk_map", "type": {"type": "map", "values": "string"}},
]


def _record_schema(fields, name="Shapes"):
    return json.dumps({"type": "record", "name": name, "fields": fields})


SHAPES = _record_schema(_SHAPE_FIELDS + _TAIL_FIELDS)
SHAPES_HEAD = _record_schema(_SHAPE_FIELDS)

_UNSCALED38 = st.integers(min_value=-(10**38) + 1, max_value=10**38 - 1)
_TS_MICROS = st.integers(min_value=-62_135_596_800_000_000, max_value=253_402_300_799_999_999)
_TS_MILLIS = st.integers(min_value=-62_135_596_800_000, max_value=253_402_300_799_999)
_inner = st.fixed_dictionaries(
    {
        "x": _INT64,
        "tags": st.lists(st.text(max_size=6), max_size=3),
        "when": st.one_of(st.none(), _TS_MICROS),
    }
)
_shape_values = st.fixed_dictionaries(
    {
        "flag": st.booleans(),
        "i": _INT32,
        "l": _INT64,
        "f": st.floats(allow_nan=False, width=32),
        "d": _DOUBLE,
        "s": _TEXT,
        "b": st.binary(max_size=20),
        "e": st.sampled_from(["A", "B", "C"]),
        "fx": st.binary(min_size=3, max_size=3),
        "dec_b": _UNSCALED38.map(lambda n: _scaled(n, 4)),
        "dec_f": st.integers(-(10**30) + 1, 10**30 - 1).map(lambda n: _scaled(n, 2)),
        "dec_f8": st.integers(-(10**18) + 1, 10**18 - 1).map(lambda n: _scaled(n, 3)),
        "day": st.integers(min_value=-719_162, max_value=2_932_896),
        "ts_ms": _TS_MILLIS,
        "ts_us": _TS_MICROS,
        "opt_s": st.one_of(st.none(), _TEXT),
        "opt_l": st.one_of(st.none(), _INT64),
        "rec": st.one_of(st.none(), _inner),
        "arr": st.lists(st.one_of(st.none(), _DOUBLE), max_size=5),
        "nested": st.lists(st.lists(_INT32, max_size=3), max_size=3),
        "mp": st.dictionaries(st.text(max_size=5), st.lists(_INT64, max_size=3), max_size=3),
        "mrec": st.dictionaries(st.text(max_size=5), _inner, max_size=2),
    }
)


def _blocks(draw, items, encode_item):
    """Array/map body in blocks of drawn sizes; a drawn share of the blocks
    use the negative-count form with a byte-size prefix."""
    out = bytearray()
    rest = list(items)
    while rest:
        k = draw(st.integers(min_value=1, max_value=len(rest)))
        body = b"".join(encode_item(it) for it in rest[:k])
        if draw(st.booleans()):
            out += _zlong_bytes(-k) + _zlong_bytes(len(body))
        else:
            out += _zlong_bytes(k)
        out += body
        rest = rest[k:]
    return bytes(out + b"\x00")


def _str_bytes(s):
    data = s.encode("utf-8")
    return _zlong_bytes(len(data)) + data


@st.composite
def shape_datums(draw):
    """One SHAPES datum: the codec encodes the head fields, the tail is
    written here (minimal decimal bytes, zero as zero bytes; blocks)."""
    head = AvroBinaryCodec(SHAPES_HEAD).encode(draw(_shape_values))
    unscaled = draw(st.one_of(st.just(0), _UNSCALED38))
    raw = b"" if unscaled == 0 else unscaled.to_bytes(
        (unscaled.bit_length() + 8) // 8, "big", signed=True
    )
    longs = draw(st.lists(_INT64, max_size=6))
    pairs = draw(st.lists(st.tuples(st.text(max_size=4), _TEXT), max_size=4))
    tail = (
        _zlong_bytes(len(raw)) + raw
        + _blocks(draw, longs, _zlong_bytes)
        + _blocks(draw, pairs, lambda kv: _str_bytes(kv[0]) + _str_bytes(kv[1]))
    )
    return head + tail


def _arrow_shape(value, schema):
    """Codec value → its Arrow ``to_pylist`` shape: a map becomes the
    dict's (key, value) pairs in order, so a repeated key the batch kernel
    failed to fold shows up as an extra pair."""
    t = schema if isinstance(schema, str) else (
        "union" if isinstance(schema, list) else schema["type"]
    )
    if value is None:
        return None
    if t == "union":
        branch = next(b for b in schema if b != "null")
        return _arrow_shape(value, branch)
    if t == "record":
        return {f["name"]: _arrow_shape(value[f["name"]], f["type"]) for f in schema["fields"]}
    if t == "array":
        return [_arrow_shape(v, schema["items"]) for v in value]
    if t == "map":
        return [(k, _arrow_shape(v, schema["values"])) for k, v in value.items()]
    return value


def _assert_batch_matches_codec(values, writer, reader=None):
    arr = pa.array(values, pa.binary())
    got = decode_avro_batch(arr, writer, reader).to_pylist()
    schema = json.loads(reader or writer)
    codec = AvroBinaryCodec(writer, reader)
    assert got == [_arrow_shape(codec.decode(v), schema) for v in values]


@settings(max_examples=150, deadline=None)
@given(st.lists(shape_datums(), min_size=1, max_size=12))
def test_batch_decode_matches_codec(values):
    _assert_batch_matches_codec(values, SHAPES)


@settings(max_examples=60, deadline=None)
@given(st.lists(shape_datums(), min_size=1, max_size=12))
def test_batch_decode_located_items_match_codec(values):
    """The same batches with every array/map block decoded through the
    located-items path (item starts found by the per-record reader)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(avro_binary, "_LOCATE_ITEMS", 1)
        mp.setattr(avro_binary, "_LOCATE_ROWS", 1_000)
        _assert_batch_matches_codec(values, SHAPES)


# evolution: a writer-only field, reader-only fields with defaults, int →
# long → double promotions and a multi-branch writer union resolved into a
# nullable reader union
EVOLVE_WRITER = _record_schema(
    [
        {"name": "id", "type": "long"},
        {"name": "gone", "type": {"type": "array", "items": ["null", "string", "long"]}},
        {"name": "i2l", "type": "int"},
        {"name": "l2d", "type": "long"},
        {"name": "i2d", "type": ["null", "int"]},
        {"name": "multi", "type": ["null", "int", "long"]},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
        {"name": "s2b", "type": "string"},
    ],
    "Evolve",
)
EVOLVE_READER = _record_schema(
    [
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["B", "A", "C"]}},
        {"name": "id", "type": "long"},
        {"name": "i2l", "type": "long"},
        {"name": "l2d", "type": "double"},
        {"name": "i2d", "type": ["null", "double"]},
        {"name": "multi", "type": ["null", "long"]},
        {"name": "s2b", "type": "bytes"},
        {"name": "added", "type": "string", "default": "dflt"},
        {"name": "added_opt", "type": ["null", "long"], "default": None},
        {"name": "added_dec", "type": _dec(9, 2), "default": "\u0001\u0000"},
        {"name": "added_day", "type": {"type": "int", "logicalType": "date"}, "default": 19000},
    ],
    "Evolve",
)
_evolve_values = st.fixed_dictionaries(
    {
        "id": _INT64,
        "gone": st.lists(st.one_of(st.none(), _TEXT, _INT64), max_size=4),
        "i2l": _INT32,
        "l2d": _INT64,
        "i2d": st.one_of(st.none(), _INT32),
        "multi": st.one_of(st.none(), _INT32, st.integers(2**31, 2**63 - 1)),
        "e": st.sampled_from(["A", "B"]),
        "s2b": _TEXT,
    }
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_evolve_values, min_size=1, max_size=12))
def test_batch_decode_evolution_matches_codec(recs):
    codec = AvroBinaryCodec(EVOLVE_WRITER)
    _assert_batch_matches_codec([codec.encode(r) for r in recs], EVOLVE_WRITER, EVOLVE_READER)


def test_evolution_resolves_to_hand_written_values():
    """Fixed EVOLVE_WRITER datums, written byte by byte, decode into
    EVOLVE_READER as the values below on both backends. The property tests
    compare the backends with each other; this pins each rule of schema
    resolution to a value worked out from the spec."""
    z = _zlong_bytes
    datums = [
        z(7)  # id
        + z(3) + z(0) + z(1) + _str_bytes("x") + z(2) + z(5) + z(0)  # gone: null, "x", 5
        + z(-3)  # i2l
        + z(2**53 + 1)  # l2d: rounds to the nearest double
        + z(1) + z(-4)  # i2d: int branch
        + z(1) + z(12)  # multi: int branch
        + z(0)  # e: "A"
        + _str_bytes("hé"),  # s2b
        z(-1)
        + z(-2) + z(4) + z(1) + _str_bytes("y") + z(0) + z(0)  # gone: sized block
        + z(2**31 - 1)
        + z(-5)
        + z(0)  # i2d: null
        + z(2) + z(2**40)  # multi: long branch
        + z(1)  # e: "B"
        + _str_bytes(""),
        z(0) + z(0) + z(0) + z(0) + z(0) + z(0) + z(0) + _str_bytes("b"),
    ]
    defaults = {
        "added": "dflt",
        "added_opt": None,
        "added_dec": decimal.Decimal("2.56"),  # "\u0001\u0000": unscaled 256
        "added_day": dt.date(2022, 1, 8),  # day 19000
    }
    want = [
        dict(id=7, i2l=-3, l2d=9007199254740992.0, i2d=-4.0, multi=12, e="A",
             s2b=b"h\xc3\xa9", **defaults),
        dict(id=-1, i2l=2147483647, l2d=-5.0, i2d=None, multi=1099511627776, e="B",
             s2b=b"", **defaults),
        dict(id=0, i2l=0, l2d=0.0, i2d=None, multi=None, e="A", s2b=b"b", **defaults),
    ]
    codec = AvroBinaryCodec(EVOLVE_WRITER, EVOLVE_READER)
    assert [codec.decode(d) for d in datums] == want
    got = decode_avro_batch(pa.array(datums, pa.binary()), EVOLVE_WRITER, EVOLVE_READER)
    assert got.to_pylist() == want
    for v in want:
        assert isinstance(v["l2d"], float) and isinstance(v["i2l"], int)


def test_batch_decode_skewed_arrays_and_repeated_map_keys():
    """One row with a long array among short ones, and maps whose keys
    repeat across blocks: the same values as the codec, each repeated key
    folded into its first position with its last value."""
    schema = _record_schema(
        [
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
        "Skew",
    )

    def datum(n, pairs):
        xs = b"".join(_zlong_bytes(k) for k in range(n))
        m = b"".join(_str_bytes(k) + _zlong_bytes(v) for k, v in pairs)
        return (
            (_zlong_bytes(n) + xs if n else b"") + b"\x00"
            + (_zlong_bytes(len(pairs)) + m if pairs else b"") + b"\x00"
        )

    values = [
        datum(row % 3, [("a", row), ("b", 1), ("a", -row)] if row % 2 else [("c", row)])
        for row in range(40)
    ]
    # long blocks: decoded by the located-items path
    values[7] = datum(700, [(f"k{i % 9}", i) for i in range(300)])
    values[8] = datum(40, [])
    _assert_batch_matches_codec(values, schema)
    got = decode_avro_batch(pa.array(values[1:2], pa.binary()), schema).to_pylist()
    assert got == [{"xs": [0], "m": [("a", -1), ("b", 1)]}]
    # a long block that is cut short, or holds a value Arrow cannot, fails
    with pytest.raises(EOFError, match="truncated"):
        decode_avro_batch(pa.array([values[7][:500]], pa.binary()), schema)
    ints = _record_schema([{"name": "xs", "type": {"type": "array", "items": "int"}}], "I")
    big = _zlong_bytes(40) + _zlong_bytes(2**31) * 40 + b"\x00"
    with pytest.raises(ValueError, match="not in range"):
        decode_avro_batch(pa.array([big], pa.binary()), ints)


def test_decode_framed_batch_mixed_ids_and_bad_frames():
    """Confluent-framed values of two writer schemas and a null decode in
    input order to the reader shape; short frames and a bad magic byte
    raise."""
    from velostream_spark.sources.avro_binary import decode_framed_batch
    from velostream_spark.sources.schema_registry import _confluent_ids, frame_value

    v1 = _record_schema([{"name": "id", "type": "int"}], "R")
    v2 = _record_schema(
        [{"name": "id", "type": "long"}, {"name": "tag", "type": "string", "default": "-"}],
        "R",
    )
    writers = {3: v1, 9: v2}
    c1, c2 = AvroBinaryCodec(v1), AvroBinaryCodec(v2)
    values = [
        frame_value(9, c2.encode({"id": 1, "tag": "x"})),
        None,
        frame_value(3, c1.encode({"id": 2})),
        frame_value(9, c2.encode({"id": 3, "tag": "y"})),
    ]

    def decode(vals):
        return decode_framed_batch(
            pa.array(vals, pa.binary()), 5, _confluent_ids, writers.__getitem__, v2
        ).to_pylist()

    assert decode(values) == [
        {"id": 1, "tag": "x"}, None, {"id": 2, "tag": "-"}, {"id": 3, "tag": "y"},
    ]
    assert decode([None]) == [None]
    with pytest.raises(ValueError, match="too short"):
        decode([values[0], b"\x00\x00"])
    with pytest.raises(ValueError, match="bad magic byte 0x01"):
        decode([b"\x01" + values[0][1:]])


def test_batch_decode_null_values_give_null_rows():
    codec = AvroBinaryCodec(EVOLVE_WRITER)
    rec = {"id": 1, "gone": [], "i2l": 2, "l2d": 3, "i2d": None, "multi": 5,
           "e": "A", "s2b": "x"}
    values = pa.array([None, codec.encode(rec), None], pa.binary())
    got = decode_avro_batch(values, EVOLVE_WRITER, EVOLVE_READER)
    assert got.null_count == 2 and got[0].as_py() is None
    assert got[1].as_py()["id"] == 1 and got[1].as_py()["added_day"] == dt.date(2022, 1, 8)
    sliced = decode_avro_batch(values.slice(1, 1), EVOLVE_WRITER, EVOLVE_READER)
    assert sliced.to_pylist() == [
        AvroBinaryCodec(EVOLVE_WRITER, EVOLVE_READER).decode(codec.encode(rec))
    ]


# ---------------------------------------------------------------------------
# loud failures: the batch kernel raises where the codec (or Arrow) does
# ---------------------------------------------------------------------------


def _one_field(avro_type):
    return _record_schema([{"name": "x", "type": avro_type}], "One")


@pytest.mark.parametrize(
    "avro_type, datum, error, match",
    [
        ("int", _zlong_bytes(2**31), ValueError, "2147483648 not in range"),
        ("int", _zlong_bytes(-(2**31) - 1), ValueError, "not in range"),
        (_dec(4, 2), _zlong_bytes(2) + (12345).to_bytes(2, "big", signed=True),
         ValueError, "does not fit in precision 4"),
        (_dec(20, 0), _zlong_bytes(9) + (-(10**20)).to_bytes(9, "big", signed=True),
         ValueError, "does not fit in precision 20"),
        ("string", _zlong_bytes(10) + b"abc", EOFError, "truncated"),
        ("long", b"\x80\x80", EOFError, "truncated"),
        ("double", b"\x00\x00", EOFError, "truncated"),
        ("string", _zlong_bytes(2) + b"\xff\xfe", UnicodeDecodeError, "utf-8"),
        (["null", "long"], _zlong_bytes(5), ValueError, "union branch index 5"),
        (["null", "long"], _zlong_bytes(-1), ValueError, "union branch index -1"),
        ({"type": "enum", "name": "E", "symbols": ["A"]}, _zlong_bytes(3),
         ValueError, "enum index 3"),
    ],
)
def test_batch_decode_fails_loudly(avro_type, datum, error, match):
    schema = _one_field(avro_type)
    good = AvroBinaryCodec(_one_field("long")).encode({"x": 1})
    values = pa.array([good if avro_type == "long" else None, datum], pa.binary())
    with pytest.raises(error, match=match):
        decode_avro_batch(values, schema)


def test_codec_rejects_out_of_range_union_and_enum_index():
    """The reference decoder agrees with the kernel: an out-of-range or
    negative branch/symbol index is an error, not a wrap-around."""
    with pytest.raises(ValueError, match="union branch index -1"):
        AvroBinaryCodec(_one_field(["null", "long"])).decode(_zlong_bytes(-1))
    with pytest.raises(ValueError, match="enum index -1"):
        AvroBinaryCodec(
            _one_field({"type": "enum", "name": "E", "symbols": ["A"]})
        ).decode(_zlong_bytes(-1))


PROTO = """
syntax = "proto3";
message M {
  int64 i = 1;
  sint64 z = 2;
  string s = 3;
  double d = 4;
  bool flag = 5;
  repeated sint32 xs = 6;
  bytes b = 7;
  fixed32 u = 8;
  sfixed64 f = 9;
}
"""

proto_records = st.fixed_dictionaries(
    {
        "i": _INT64,
        "z": _INT64,
        "s": _TEXT,
        "d": _DOUBLE,
        "flag": st.booleans(),
        "xs": st.lists(_INT32, max_size=8),
        "b": st.binary(max_size=40),
        "u": st.integers(min_value=0, max_value=2**32 - 1),
        "f": _INT64,
    }
)


@settings(max_examples=200, deadline=None)
@given(proto_records)
def test_proto_roundtrip_property(rec):
    codec = ProtobufCodec(PROTO, "M")
    out = codec.decode(codec.encode(rec))
    for k, v in rec.items():
        got = out[k]
        if isinstance(v, float):
            assert got == v or (math.isinf(v) and math.isinf(got))
        else:
            assert got == v, k


@settings(max_examples=100, deadline=None)
@given(st.lists(_INT32, min_size=1, max_size=10))
def test_proto_packed_vs_unpacked_decode(xs):
    """proto3 encoders may emit repeated numerics packed or unpacked;
    decode accepts both representations identically."""
    import io

    from velostream_spark.sources.proto_binary import (
        _write_varint,
        _zigzag,
        buf_write_tag,
    )

    codec = ProtobufCodec(PROTO, "M")
    packed = codec.encode({"xs": xs})
    buf = io.BytesIO()
    for x in xs:  # unpacked: one tagged varint per element
        buf_write_tag(buf, 6, 0)
        _write_varint(buf, _zigzag(x))
    unpacked = buf.getvalue()
    assert codec.decode(packed)["xs"] == xs
    assert codec.decode(unpacked)["xs"] == xs


def test_proto_encode_accepts_numpy_repeated():
    """Arrow batches hand repeated fields to the codec as numpy arrays —
    the emptiness test must not trip on ndarray truthiness (review
    finding: compiled encoder raised 'truth value ... is ambiguous')."""
    import numpy as np

    codec = ProtobufCodec(PROTO, "M")
    rec = {"i": 1, "z": -1, "s": "x", "d": 0.5, "flag": True,
           "xs": np.array([1, -2, 3]), "b": b"", "u": 7, "f": -9}
    out = codec.decode(codec.encode(rec))
    assert out["xs"] == [1, -2, 3]
    rec["xs"] = np.array([], dtype="int64")
    assert codec.decode(codec.encode(rec))["xs"] == []
