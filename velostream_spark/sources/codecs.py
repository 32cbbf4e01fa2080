"""Serialization codecs — reference src/velostream/serialization/
(json_codec.rs, avro_codec.rs:1-1148 incl. decimal logical types + schema
evolution, protobuf_codec.rs).

Spark-native mapping:

- JSON: `from_json`/`to_json` (used by sources.kafka.decode_json_value).
- Avro: two runtime paths. With the spark-avro jar on the classpath,
  `decode_avro`/`encode_avro` use the connector's `from_avro`/`to_avro`
  (JVM-side, preferred on a real cluster). Without it — this environment
  ships no connector jar and has no network — `avro_binary.df_decode_avro`
  / `df_encode_avro` implement the public Avro binary spec in Python,
  including decimal logical types and reader/writer schema resolution (the
  reference's schema-evolution contract). Decode is vectorised: a numpy
  kernel over each Arrow batch via `mapInArrow`; encode stays per record
  via `mapInPandas`. The schema-mapping half (Avro JSON schema → Spark types,
  `decimal` → DecimalType — the ScaledInteger-parity path) lives below.
- Protobuf: same split — `from_protobuf`/`to_protobuf` when spark-protobuf
  is present; `proto_binary.df_decode_protobuf` (pure-Python wire-format
  codec + minimal .proto parser, per record via `mapInPandas`) otherwise.
- Schema registry: `schema_registry.FileSchemaRegistry` resolves
  subject/version pairs and feeds the Avro paths
  (`schema_registry.decode_with_registry`).
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Avro schema (JSON) → Spark schema — reference avro_codec.rs type mapping
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[str, DataType] = {
    "null": NullType(),
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "bytes": BinaryType(),
    "string": StringType(),
}


def avro_to_spark_type(schema) -> DataType:
    """Convert an Avro schema (parsed JSON) to a Spark DataType.

    Logical types follow the reference's codec: `decimal` → DecimalType
    (exact arithmetic — the ScaledInteger path), `date` → DateType,
    `timestamp-millis`/`timestamp-micros` → TimestampType.
    Unions with null → nullable branch type.
    """
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return _PRIMITIVES[schema]
        raise ValueError(f"unknown avro type: {schema!r}")
    if isinstance(schema, list):  # union
        branches = [b for b in schema if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported non-nullable union: {schema!r}")
        return avro_to_spark_type(branches[0])
    t = schema.get("type")
    logical = schema.get("logicalType")
    if logical == "decimal":
        return DecimalType(schema.get("precision", 38), schema.get("scale", 0))
    if logical == "date":
        return DateType()
    if logical in ("timestamp-millis", "timestamp-micros"):
        return TimestampType()
    if t == "record":
        return StructType(
            [
                StructField(
                    f["name"],
                    avro_to_spark_type(f["type"]),
                    nullable=_is_nullable(f["type"]),
                )
                for f in schema["fields"]
            ]
        )
    if t == "array":
        return ArrayType(avro_to_spark_type(schema["items"]))
    if t == "map":
        return MapType(StringType(), avro_to_spark_type(schema["values"]))
    if t == "enum":
        return StringType()
    if t == "fixed":
        if logical == "decimal":
            return DecimalType(schema.get("precision", 38), schema.get("scale", 0))
        return BinaryType()
    if t in _PRIMITIVES:
        return _PRIMITIVES[t]
    raise ValueError(f"unsupported avro schema: {schema!r}")


def _is_nullable(schema) -> bool:
    return isinstance(schema, list) and "null" in schema


def avro_schema_to_struct(avro_json: str) -> StructType:
    """Top-level Avro record schema string → StructType."""
    t = avro_to_spark_type(json.loads(avro_json))
    if not isinstance(t, StructType):
        raise ValueError("top-level avro schema must be a record")
    return t


# ---------------------------------------------------------------------------
# runtime encode/decode (connector-gated)
# ---------------------------------------------------------------------------


def decode_avro(value: Column, avro_json: str, options: dict | None = None) -> Column:
    """Avro bytes → struct column (requires spark-avro on the classpath)."""
    try:
        from pyspark.sql.avro.functions import from_avro

        return from_avro(value, avro_json, options or {})
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(_gate_msg("spark-avro")) from e


def encode_avro(data: Column, avro_json: str | None = None) -> Column:
    try:
        from pyspark.sql.avro.functions import to_avro

        return to_avro(data, avro_json) if avro_json else to_avro(data)
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(_gate_msg("spark-avro")) from e


def decode_protobuf(
    value: Column, message_name: str, desc_file_path: str, options: dict | None = None
) -> Column:
    """Protobuf bytes → struct column (requires spark-protobuf + a compiled
    descriptor set, the analog of the reference's .proto registry)."""
    try:
        from pyspark.sql.protobuf.functions import from_protobuf

        return from_protobuf(value, message_name, desc_file_path, options or {})
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(_gate_msg("spark-protobuf")) from e


def encode_protobuf(data: Column, message_name: str, desc_file_path: str) -> Column:
    try:
        from pyspark.sql.protobuf.functions import to_protobuf

        return to_protobuf(data, message_name, desc_file_path)
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(_gate_msg("spark-protobuf")) from e


def _gate_msg(pkg: str) -> str:
    fallback = (
        "vectorised mapInArrow fallback "
        "velostream_spark.sources.avro_binary.df_decode_avro"
        if "avro" in pkg
        else "pure-Python mapInPandas fallback "
        "velostream_spark.sources.proto_binary.df_decode_protobuf"
    )
    return (
        f"{pkg} connector is not on the classpath; launch with "
        f"--packages org.apache.spark:{pkg}_2.13:<spark-version>, or use the "
        f"{fallback}"
    )
