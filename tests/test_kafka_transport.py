"""Kafka pipeline logic, end-to-end over a broker-free mock transport.

The spark-sql-kafka connector jar is absent from this environment (verified:
no kafka jar under /opt/spark/jars or pyspark/jars, no network to fetch one),
so `readStream.format("kafka")` can never execute here. What CAN be tested
end-to-end is everything velostream-spark adds on top of the connector —
system-column projection, JSON/Avro value decode, PRIMARY-KEY message keys,
tombstones — by building DataFrames with the connector's exact output schema
(key/value binary, headers array<struct<key,value>>, topic/partition/offset/
timestamp) and running the real pipeline functions over them.

Mirrors reference tests/integration/kafka/kafka_consumer_integration_test.rs
at the same seam: the reference mocks the consumer, we mock the wire frame.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from velostream_spark.sources.avro_binary import AvroBinaryCodec
from velostream_spark.sources.kafka import (
    decode_avro_value,
    decode_json_value,
    message_key,
    sink_frame,
    tombstones,
    with_system_columns,
)
from velostream_spark.sources.schema_registry import FileSchemaRegistry

# Spark's Kafka connector output schema, verbatim
KAFKA_FRAME = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType()),
                        StructField("value", BinaryType()),
                    ]
                )
            ),
        ),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)


def _mock_topic(spark, values: list[bytes], topic="orders"):
    rows = [
        (
            f"k{i}".encode(),
            v,
            [("trace", f"t{i}".encode())],
            topic,
            i % 2,
            i,
            dt.datetime(2026, 8, 13, 9, 0, i),
            0,
        )
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, KAFKA_FRAME)


def test_json_value_pipeline_end_to_end(spark):
    payloads = [
        json.dumps({"order_id": i, "symbol": f"S{i % 3}", "amount": i * 1.5}).encode()
        for i in range(6)
    ]
    raw = _mock_topic(spark, payloads)
    sys_df = with_system_columns(raw)
    assert {"_timestamp", "_offset", "_partition", "_topic", "_key"} <= set(
        sys_df.columns
    )
    # _timestamp is INT64 epoch-millis (system-columns.md:20) so the doc's
    # own `WHERE _timestamp > 1697296245000` comparisons work unchanged
    from pyspark.sql.types import LongType

    assert isinstance(sys_df.schema["_timestamp"].dataType, LongType)
    assert sys_df.filter("_timestamp > 0").count() == 6
    decoded = decode_json_value(
        sys_df, "order_id long, symbol string, amount double"
    ).orderBy("order_id")
    rows = decoded.collect()
    assert [r.order_id for r in rows] == list(range(6))
    assert rows[4]._key == "k4" and rows[4]._offset == 4
    assert rows[4]._topic == "orders" and rows[4]._partition == 0


def test_avro_value_pipeline_with_registry(spark, tmp_path):
    schema = json.dumps(
        {
            "type": "record",
            "name": "Order",
            "fields": [
                {"name": "order_id", "type": "long"},
                {"name": "symbol", "type": "string"},
            ],
        }
    )
    reg = FileSchemaRegistry(tmp_path / "reg")
    reg.register("orders-value", schema)
    codec = AvroBinaryCodec(schema)
    payloads = [
        codec.encode({"order_id": i, "symbol": f"S{i}"}) for i in range(4)
    ]
    raw = with_system_columns(_mock_topic(spark, payloads))
    cfg = {
        "avro.schema.registry.path": str(tmp_path / "reg"),
        "avro.schema.subject": "orders-value",
    }
    out = decode_avro_value(raw, cfg).orderBy("order_id")
    rows = out.collect()
    assert [(r.order_id, r.symbol) for r in rows] == [(i, f"S{i}") for i in range(4)]
    # system columns pass through the mapInArrow decode
    assert rows[2]._key == "k2" and rows[2]._offset == 2


def test_sink_frame_key_and_value(spark):
    df = spark.createDataFrame(
        [(1, "us", 9.5), (2, "eu", 3.25)], "id int, region string, amt double"
    )
    out = sink_frame(df, ["id", "region"]).orderBy("key").collect()
    assert [r.key for r in out] == ["1|us", "2|eu"]
    v = json.loads(out[0].value)
    assert v == {"id": 1, "region": "us", "amt": 9.5}

    # sink → source round trip through the mock wire frame
    wire = _mock_topic(
        spark, [r.value.encode() for r in out]
    )
    back = decode_json_value(
        with_system_columns(wire), "id int, region string, amt double"
    ).orderBy("id")
    assert [(r.id, r.region) for r in back.collect()] == [(1, "us"), (2, "eu")]


def test_tombstones_null_value(spark):
    df = spark.createDataFrame([(7, "x")], "id int, name string")
    t = tombstones(df, ["id"]).collect()
    assert t[0].key == "7" and t[0].value is None


def test_confluent_framing_roundtrip_with_evolution(spark, tmp_path):
    """Confluent wire format end-to-end: magic 0x00 + big-endian global
    schema id + Avro payload, encoded per-record through the registry,
    decoded by resolving each record's WRITER schema from its frame id —
    including a mixed-version topic where v1 and v2 records decode to the
    v2 reader shape (schema evolution through the frame)."""
    from velostream_spark.sources.kafka import sink_frame
    from velostream_spark.sources.schema_registry import (
        df_decode_confluent,
        frame_value,
        unframe_value,
    )

    v1 = json.dumps(
        {
            "type": "record",
            "name": "Order",
            "fields": [
                {"name": "order_id", "type": "long"},
                {"name": "symbol", "type": "string"},
            ],
        }
    )
    v2 = json.dumps(
        {
            "type": "record",
            "name": "Order",
            "fields": [
                {"name": "order_id", "type": "long"},
                {"name": "symbol", "type": "string"},
                {"name": "region", "type": "string", "default": "emea"},
            ],
        }
    )
    root = str(tmp_path / "reg")
    reg = FileSchemaRegistry(root)
    assert reg.register("orders-value", v1) == 1
    assert reg.register("orders-value", v2) == 2
    id1 = reg.schema_id("orders-value", 1)
    id2 = reg.schema_id("orders-value", 2)
    assert id1 != id2
    assert reg.get_by_id(id1)[:2] == ("orders-value", 1)

    # raw frame layout (the public spec, byte for byte)
    framed = frame_value(id1, b"\x02\x04")
    assert framed[0] == 0x00
    assert int.from_bytes(framed[1:5], "big") == id1
    assert unframe_value(framed) == (id1, b"\x02\x04")

    # sink path: value.format=avro_confluent frames every record with the
    # pinned writer version's id, key from PRIMARY KEY
    df = spark.createDataFrame(
        [(1, "AAPL"), (2, "MSFT")], "order_id long, symbol string"
    )
    cfg = {
        "value.format": "avro_confluent",
        "avro.schema.registry.path": root,
        "avro.schema.subject": "orders-value",
        "avro.schema.version": "1",
    }
    out = sink_frame(df, ["order_id"], cfg).orderBy("key").collect()
    assert [r.key for r in out] == ["1", "2"]
    sid, payload = unframe_value(bytes(out[0].value))
    assert sid == id1
    assert AvroBinaryCodec(v1).decode(payload) == {"order_id": 1, "symbol": "AAPL"}

    # mixed-version topic: v1-framed + v2-framed records in one stream,
    # decoded to the latest reader shape via per-record writer resolution
    c1, c2 = AvroBinaryCodec(v1), AvroBinaryCodec(v2)
    values = [
        frame_value(id1, c1.encode({"order_id": 10, "symbol": "A"})),
        frame_value(id2, c2.encode({"order_id": 11, "symbol": "B", "region": "apac"})),
    ]
    raw = with_system_columns(_mock_topic(spark, values))
    decoded = df_decode_confluent(raw, root, "orders-value").orderBy("order_id")
    rows = decoded.collect()
    assert [(r.order_id, r.symbol, r.region) for r in rows] == [
        (10, "A", "emea"),   # v1 record: reader default fills region
        (11, "B", "apac"),   # v2 record: real value
    ]
    assert rows[0]._offset == 0 and rows[1]._key == "k1"

    # WITH-clause surface: avro.framing=confluent routes the same way
    from velostream_spark.sources.schema_registry import decode_with_registry

    cfg2 = {
        "avro.schema.registry.path": root,
        "avro.schema.subject": "orders-value",
        "avro.framing": "confluent",
    }
    again = decode_with_registry(raw, cfg2).orderBy("order_id").collect()
    assert [(r.order_id, r.region) for r in again] == [(10, "emea"), (11, "apac")]


def test_confluent_bad_magic_rejected():
    from velostream_spark.sources.schema_registry import unframe_value

    import pytest

    with pytest.raises(ValueError, match="bad magic"):
        unframe_value(b"\x01\x00\x00\x00\x01xx")
    with pytest.raises(ValueError, match="too short"):
        unframe_value(b"\x00\x00")
