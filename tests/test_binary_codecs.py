"""Pure-Python Avro/Protobuf binary codecs + file schema registry.

The runtime half of the reference's serialization layer
(serialization/avro_codec.rs:1-1148, protobuf_codec.rs:1-535,
config/schema_registry.rs:201) — executable here without any connector jar:
wire-format round-trips, schema evolution (reader/writer resolution),
decimal logical types, and the Spark decode paths (the vectorised Avro
kernel via mapInArrow, protobuf via mapInPandas).
"""

from __future__ import annotations

import datetime as dt
import decimal
import json

import pytest
from pyspark.sql import functions as F

from velostream_spark.sources.avro_binary import (
    AvroBinaryCodec,
    df_decode_avro,
    df_encode_avro,
)
from velostream_spark.sources.proto_binary import (
    ProtobufCodec,
    df_decode_protobuf,
    parse_proto,
)
from velostream_spark.sources.schema_registry import (
    FileSchemaRegistry,
    can_read,
    decode_with_registry,
)

WRITER_V1 = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "order_id", "type": "long"},
            {"name": "symbol", "type": "string"},
            {"name": "qty", "type": ["null", "int"], "default": None},
            {
                "name": "price",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 4,
                },
            },
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            },
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
)

# v2 evolution: qty promoted int→long, `venue` added with default, tags dropped
READER_V2 = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "order_id", "type": "long"},
            {"name": "symbol", "type": "string"},
            {"name": "qty", "type": ["null", "long"], "default": None},
            {
                "name": "price",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 4,
                },
            },
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            },
            {"name": "venue", "type": "string", "default": "NASDAQ"},
        ],
    }
)


def _orders(n=5):
    return [
        {
            "order_id": i,
            "symbol": f"SYM{i % 3}",
            "qty": None if i % 4 == 0 else i * 10,
            "price": decimal.Decimal(i * 100).scaleb(-2) + decimal.Decimal("0.0001"),
            "ts": dt.datetime(2026, 8, 13, 10, 0, i),
            "tags": [f"t{i}", "x"] if i % 2 else [],
        }
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# pure-Python wire format
# ---------------------------------------------------------------------------


def test_avro_roundtrip_exact():
    codec = AvroBinaryCodec(WRITER_V1)
    for rec in _orders():
        assert codec.decode(codec.encode(rec)) == rec


def test_avro_varint_edges():
    schema = json.dumps(
        {"type": "record", "name": "R", "fields": [{"name": "n", "type": "long"}]}
    )
    codec = AvroBinaryCodec(schema)
    for n in (0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31), 2**62, -(2**62)):
        assert codec.decode(codec.encode({"n": n}))["n"] == n


def test_avro_schema_evolution():
    writer = AvroBinaryCodec(WRITER_V1)
    evolved = AvroBinaryCodec(WRITER_V1, READER_V2)
    rec = _orders(1)[0]
    out = evolved.decode(writer.encode(rec))
    assert out["venue"] == "NASDAQ"  # reader-only field takes default
    assert "tags" not in out  # writer-only field skipped
    assert out["qty"] is None  # null branch survives promotion
    out2 = evolved.decode(writer.encode(dict(rec, qty=7)))
    assert out2["qty"] == 7  # int → long promotion


def test_avro_negative_decimal_fixed():
    schema = json.dumps(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {
                    "name": "p",
                    "type": {
                        "type": "fixed",
                        "name": "d8",
                        "size": 8,
                        "logicalType": "decimal",
                        "precision": 18,
                        "scale": 2,
                    },
                }
            ],
        }
    )
    codec = AvroBinaryCodec(schema)
    for v in ("-0.01", "-12345678.90", "0", "99999999.99"):
        got = codec.decode(codec.encode({"p": decimal.Decimal(v)}))["p"]
        assert got == decimal.Decimal(v)


PROTO = """
syntax = "proto3";
message Trade {
  int64 id = 1;
  string sym = 2;
  double price = 3;
  sint32 delta = 4;
  bool active = 5;
  repeated int32 lots = 6;
  Venue venue = 7;
  repeated string tags = 8;
}
message Venue { string name = 1; int32 code = 2; }
"""


def test_proto_parse():
    spec = parse_proto(PROTO)
    assert set(spec) == {"Trade", "Venue"}
    assert spec["Trade"][7] == ("venue", "Venue", False)
    assert spec["Trade"][6] == ("lots", "int32", True)


def test_proto_roundtrip():
    codec = ProtobufCodec(PROTO, "Trade")
    rec = {
        "id": -5,
        "sym": "MSFT",
        "price": 412.75,
        "delta": -17,
        "active": True,
        "lots": [1, -2, 300],
        "venue": {"name": "NYSE", "code": 7},
        "tags": ["a", "b"],
    }
    assert codec.decode(codec.encode(rec)) == rec


def test_proto_unknown_field_skipped_and_defaults():
    wide = PROTO.replace("repeated string tags = 8;", "repeated string tags = 8;\n  string extra = 99;")
    narrow = ProtobufCodec(PROTO, "Trade")
    enc = ProtobufCodec(wide, "Trade").encode(
        {"id": 1, "sym": "A", "price": 0.0, "delta": 0, "active": False,
         "lots": [], "venue": None, "tags": [], "extra": "dropped"}
    )
    out = narrow.decode(enc)
    assert out["id"] == 1 and "extra" not in out
    empty = narrow.decode(b"")
    assert empty == {
        "id": 0, "sym": "", "price": 0.0, "delta": 0, "active": False,
        "lots": [], "venue": None, "tags": [],
    }


# ---------------------------------------------------------------------------
# schema registry
# ---------------------------------------------------------------------------


def test_registry_versions_and_compat(tmp_path):
    reg = FileSchemaRegistry(tmp_path / "registry")
    v1 = reg.register("orders-value", WRITER_V1)
    assert v1 == 1
    # duplicate registration dedups
    assert reg.register("orders-value", WRITER_V1) == 1
    v2 = reg.register("orders-value", READER_V2)
    assert v2 == 2
    assert reg.versions("orders-value") == [1, 2]
    assert reg.latest_version("orders-value") == 2
    assert json.loads(reg.get_schema("orders-value", 1)) == json.loads(WRITER_V1)
    assert json.loads(reg.get_schema("orders-value")) == json.loads(READER_V2)
    assert reg.subjects() == ["orders-value"]

    # incompatible: new required field without default cannot read old data
    bad = json.loads(READER_V2)
    bad["fields"].append({"name": "must_have", "type": "string"})
    with pytest.raises(ValueError, match="cannot read"):
        reg.register("orders-value", json.dumps(bad))


def test_can_read_rules():
    assert can_read(READER_V2, WRITER_V1)
    assert can_read('"long"', '"int"')  # promotion
    assert not can_read('"int"', '"long"')  # demotion is not allowed
    assert can_read('["null", "string"]', '"string"')  # union widening
    assert not can_read('"long"', '["null", "long"]')  # a writer branch it lacks
    no_default = json.loads(READER_V2)
    del no_default["fields"][-1]["default"]
    assert not can_read(json.dumps(no_default), WRITER_V1)

    def named(kind, **kw):
        return json.dumps(dict(type=kind, name="N", **kw))

    assert can_read(named("enum", symbols=["C", "B", "A"]), named("enum", symbols=["A", "B"]))
    assert not can_read(named("enum", symbols=["A"]), named("enum", symbols=["A", "B"]))
    assert can_read(named("fixed", size=4), named("fixed", size=4))
    assert not can_read(named("fixed", size=8), named("fixed", size=4))


# ---------------------------------------------------------------------------
# Spark decode paths (mapInArrow / mapInPandas — the scale path)
# ---------------------------------------------------------------------------


def test_df_avro_roundtrip_with_evolution(spark, tmp_path):
    codec = AvroBinaryCodec(WRITER_V1)
    rows = [(codec.encode(r), i) for i, r in enumerate(_orders(20))]
    df = spark.createDataFrame(rows, "value binary, seq int")
    out = df_decode_avro(df, "value", WRITER_V1, READER_V2).orderBy("order_id")
    pdf = out.toPandas()
    assert list(pdf.columns) == ["order_id", "symbol", "qty", "price", "ts", "venue", "seq"]
    assert pdf["venue"].unique().tolist() == ["NASDAQ"]
    assert pdf["order_id"].tolist() == list(range(20))
    assert pdf["price"].iloc[3] == decimal.Decimal("3.0001")
    # null-union qty survives, promoted to long
    assert pdf["qty"].isna().tolist() == [i % 4 == 0 for i in range(20)]
    assert out.schema["qty"].dataType.simpleString() == "bigint"


def test_df_avro_encode_decode_inverse(spark):
    schema = json.dumps(
        {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "k", "type": "string"},
                {"name": "v", "type": "double"},
            ],
        }
    )
    src = spark.createDataFrame([("a", 1.5), ("b", -2.25)], "k string, v double")
    encoded = df_encode_avro(src, schema)
    assert encoded.schema.simpleString() == "struct<value:binary>"
    back = df_decode_avro(encoded, "value", schema).orderBy("k").collect()
    assert [(r.k, r.v) for r in back] == [("a", 1.5), ("b", -2.25)]


def _one_field(avro_type):
    return json.dumps(
        {"type": "record", "name": "One", "fields": [{"name": "x", "type": avro_type}]}
    )


def _zlong(n):
    from velostream_spark.sources.avro_binary import _zlong_bytes

    return _zlong_bytes(n)


@pytest.mark.parametrize(
    "avro_type, datum, match",
    [
        # an Avro int outside int32 cannot become an IntegerType value
        ("int", _zlong(2**31), r"2147483648 not in range"),
        # a decimal wider than the reader's precision
        (
            {"type": "bytes", "logicalType": "decimal", "precision": 4, "scale": 2},
            _zlong(2) + (12345).to_bytes(2, "big", signed=True),
            r"does not fit in precision 4",
        ),
        ("string", _zlong(10) + b"abc", r"EOFError: truncated"),
        ("string", _zlong(2) + b"\xff\xfe", r"UnicodeDecodeError: 'utf-8'"),
        # branch 5 of a two-branch union
        (["null", "long"], _zlong(5) + _zlong(1), r"truncated avro datum|union branch index 5"),
    ],
)
def test_df_decode_avro_fails_loudly(spark, avro_type, datum, match):
    """Values Spark cannot hold, or bytes that are not a datum of the
    schema, fail the job with the cause in its message — never a null or
    a wrapped-around value."""
    df = spark.createDataFrame([(datum, 1)], "value binary, k int")
    with pytest.raises(Exception, match=match):
        df_decode_avro(df, "value", _one_field(avro_type)).collect()


def test_df_decode_avro_timestamps_are_utc_instants(spark):
    """An Avro timestamp is a UTC instant: the decoded value does not move
    with the session time zone."""
    schema = _one_field({"type": "long", "logicalType": "timestamp-micros"})
    df = spark.createDataFrame(
        [(AvroBinaryCodec(schema).encode({"x": 1_000_000}),)], "value binary"
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = df_decode_avro(df, "value", schema).select(F.unix_micros("x")).first()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert got == 1_000_000


def test_df_encode_writes_timestamps_as_utc_instants(spark, tmp_path):
    """Both encoders write a timestamp as the UTC instant it holds, in any
    session time zone: the wire carries the instant, and encode → decode
    gives it back, top-level and nested, plain and Confluent-framed."""
    from velostream_spark.sources.schema_registry import (
        df_decode_confluent,
        df_encode_confluent,
        unframe_value,
    )

    ts = {"type": "long", "logicalType": "timestamp-micros"}
    schema = json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "t", "type": ts},
                {"name": "s", "type": {"type": "record", "name": "S",
                                       "fields": [{"name": "u", "type": ts}]}},
                {"name": "a", "type": {"type": "array", "items": ts}},
            ],
        }
    )
    FileSchemaRegistry(tmp_path / "reg").register("t-value", schema)
    micros = [1_000_000, 1_719_835_200_000_000]  # EST and EDT in New York
    epoch = dt.datetime(1970, 1, 1)
    want = [(m, m + 1, [m + 2]) for m in micros]
    codec = AvroBinaryCodec(schema)
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        src = spark.sql(
            "SELECT k, timestamp_micros(m) AS t,"
            " named_struct('u', timestamp_micros(m + 1)) AS s,"
            " array(timestamp_micros(m + 2)) AS a"
            f" FROM VALUES (0, {micros[0]}L), (1, {micros[1]}L) AS v(k, m)"
        )
        plain = df_encode_avro(src, schema)
        framed = df_encode_confluent(src, str(tmp_path / "reg"), "t-value")
        wire = sorted(
            (codec.decode(r.value) for r in plain.collect()), key=lambda r: r["k"]
        )
        assert [r["t"] for r in wire] == [epoch + dt.timedelta(microseconds=m) for m in micros]
        wire = [codec.decode(unframe_value(r.value)[1])["t"] for r in framed.collect()]
        assert sorted(wire) == [epoch + dt.timedelta(microseconds=m) for m in micros]
        for decoded in (
            df_decode_avro(plain, "value", schema),
            df_decode_confluent(framed, str(tmp_path / "reg"), "t-value"),
        ):
            got = decoded.orderBy("k").select(
                F.unix_micros("t"),
                F.unix_micros("s.u"),
                F.transform("a", lambda v: F.unix_micros(v)),
            )
            assert [tuple(r) for r in got.collect()] == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_df_encode_null_timestamp_in_nullable_union(spark, tmp_path):
    """A null in a nullable timestamp-micros column round-trips through
    both encoders as the union's null branch, beside a non-null instant."""
    from velostream_spark.sources.schema_registry import (
        df_decode_confluent,
        df_encode_confluent,
    )

    schema = json.dumps(
        {
            "type": "record",
            "name": "N",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "t", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
            ],
        }
    )
    FileSchemaRegistry(tmp_path / "reg").register("n-value", schema)
    src = spark.sql(
        "SELECT k, IF(k = 0, NULL, timestamp_micros(1719835200000000)) AS t"
        " FROM VALUES (0L), (1L) AS v(k)"
    )
    for decoded in (
        df_decode_avro(df_encode_avro(src, schema), "value", schema),
        df_decode_confluent(
            df_encode_confluent(src, str(tmp_path / "reg"), "n-value"),
            str(tmp_path / "reg"),
            "n-value",
        ),
    ):
        got = decoded.orderBy("k").select("k", F.unix_micros("t")).collect()
        assert [tuple(r) for r in got] == [(0, None), (1, 1_719_835_200_000_000)]


def test_df_decode_null_values_and_passthrough(spark, tmp_path):
    """Kafka tombstones (null values) decode to null record fields on both
    decode paths; key and topic columns pass through unchanged."""
    from velostream_spark.sources.schema_registry import (
        df_decode_confluent,
        frame_value,
    )

    codec = AvroBinaryCodec(WRITER_V1)
    recs = _orders(4)
    values = [codec.encode(r) for r in recs]
    values[1] = values[3] = None
    rows = [(v, f"k{i}".encode(), "orders") for i, v in enumerate(values)]
    schema = "value binary, key binary, topic string"
    fields = ["order_id", "symbol", "qty", "price", "ts", "venue"]

    out = df_decode_avro(
        spark.createDataFrame(rows, schema), "value", WRITER_V1, READER_V2
    ).orderBy("key")
    assert out.columns == fields + ["key", "topic"]

    reg = FileSchemaRegistry(tmp_path / "reg")
    reg.register("orders-value", WRITER_V1)
    reg.register("orders-value", READER_V2)
    sid = reg.schema_id("orders-value", 1)
    framed = [(None if v is None else frame_value(sid, v), k, t) for v, k, t in rows]
    conf = df_decode_confluent(
        spark.createDataFrame(framed, schema), str(tmp_path / "reg"), "orders-value"
    ).orderBy("key")
    assert conf.columns == fields + ["key", "topic"]

    for got in (out.collect(), conf.collect()):
        assert [(bytes(r.key), r.topic) for r in got] == [
            (f"k{i}".encode(), "orders") for i in range(4)
        ]
        for i in (1, 3):
            assert all(got[i][f] is None for f in fields)
        for i in (0, 2):
            assert got[i].order_id == i and got[i].venue == "NASDAQ"
            assert got[i].price == recs[i]["price"] and got[i].ts == recs[i]["ts"]


def test_df_protobuf_decode(spark):
    codec = ProtobufCodec(PROTO, "Trade")
    recs = [
        {"id": i, "sym": f"S{i}", "price": i * 1.5, "delta": -i, "active": i % 2 == 0,
         "lots": [i, i + 1], "venue": {"name": "X", "code": i}, "tags": ["t"]}
        for i in range(10)
    ]
    df = spark.createDataFrame([(codec.encode(r),) for r in recs], "value binary")
    out = df_decode_protobuf(df, "value", PROTO, "Trade").orderBy("id")
    rows = out.collect()
    assert [r.id for r in rows] == list(range(10))
    assert rows[3].venue.code == 3 and rows[3].lots == [3, 4]
    assert rows[2].delta == -2


def test_decode_with_registry_end_to_end(spark, tmp_path):
    reg = FileSchemaRegistry(tmp_path / "reg")
    reg.register("orders-value", WRITER_V1)
    reg.register("orders-value", READER_V2)
    codec = AvroBinaryCodec(WRITER_V1)
    df = spark.createDataFrame(
        [(codec.encode(r),) for r in _orders(8)], "value binary"
    )
    cfg = {
        "avro.schema.registry.path": str(tmp_path / "reg"),
        "avro.schema.subject": "orders-value",
        "avro.schema.version": "1",  # writer pinned to what produced the bytes
        # reader defaults to latest (v2) → evolution applies
    }
    out = decode_with_registry(df, cfg).orderBy("order_id").toPandas()
    assert "venue" in out.columns and "tags" not in out.columns
    assert len(out) == 8


def test_multi_branch_union_constructs_and_roundtrips():
    """Regression (r4 advice): a schema whose union has 2+ non-null branches
    must still CONSTRUCT a codec (decode-only paths — df_decode_avro,
    decode_with_registry — broke when _compile_write ran eagerly), and the
    encoder now dispatches such unions by the Python value's type."""
    import json

    from velostream_spark.sources.avro_binary import AvroBinaryCodec

    schema = json.dumps(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "a", "type": ["null", "string", "long"]},
                {"name": "b", "type": ["int", "string"]},
            ],
        }
    )
    codec = AvroBinaryCodec(schema)  # must not raise at construction
    for rec in [{"a": None, "b": 5}, {"a": "hi", "b": "x"}, {"a": 42, "b": 0}]:
        assert codec.decode(codec.encode(rec)) == rec
    with pytest.raises(ValueError, match="no branch"):
        codec.encode({"a": 1.5, "b": 1})
    # Spark's Arrow batches hand a map over as its (key, value) pairs
    maps = AvroBinaryCodec(json.dumps({"type": "record", "name": "M", "fields": [
        {"name": "m", "type": ["null", "string", {"type": "map", "values": "long"}]}]}))
    assert maps.decode(maps.encode({"m": [("k", 1)]})) == {"m": {"k": 1}}
