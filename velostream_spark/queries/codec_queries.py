"""Serialization-codec catalog entries: the reference's Avro/Protobuf
codecs (serialization/avro_codec.rs, protobuf_codec.rs) proven inside the
correctness gate.

Each entry encodes real table rows to wire bytes IN-PLAN (mapInArrow for
Avro, mapInPandas for protobuf), decodes them back, and aggregates the
decoded columns; the DuckDB oracle computes the same aggregate over the raw
table. A codec bug anywhere — varint edges, zigzag signs, decimal scaling,
union branches, field order — changes the decoded values and breaks the
value hash. The encode→decode pair rides one pipeline (one fused Python
stage, or two with no shuffle between them):
at 100 TB this is the exact shape of a Kafka-ingest decode stage, one
Python/Arrow entry per partition batch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velostream_spark.registry import query, tables

_AVRO_CUSTOMER = json.dumps(
    {
        "type": "record",
        "name": "Customer",
        "fields": [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_name", "type": "string"},
            {"name": "c_mktsegment", "type": ["null", "string"], "default": None},
            {
                "name": "c_acctbal",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 2,
                },
            },
        ],
    }
)

# reader evolution: drops c_name, adds a defaulted field — decode applies
# schema resolution, not just pass-through
_AVRO_CUSTOMER_READER = json.dumps(
    {
        "type": "record",
        "name": "Customer",
        "fields": [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_mktsegment", "type": ["null", "string"], "default": None},
            {
                "name": "c_acctbal",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 2,
                },
            },
            {"name": "region", "type": "string", "default": "unknown"},
        ],
    }
)


def _spread(df, spark, target: int = 16):
    """One parquet file would mean ONE Python codec worker, so single-split
    scans are repartitioned to ``target`` codec partitions (16 measured
    fastest on 32 cores — r7 sweep). A multi-file production layout (or the
    bench pool's layout-normalized tables) already provides the splits, so
    it skips the shuffle entirely — at 100 TB the source always arrives as
    many files and this is the no-exchange path. Split probe =
    ``df.inputFiles()`` (metadata-only), not ``df.rdd`` — see
    session.spread (r16, ADVICE)."""
    n = min(target, spark.sparkContext.defaultParallelism)
    if len(df.inputFiles()) >= n:
        return df
    return df.repartition(n)


@query(
    "avro_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*)                                        AS n,
           ROUND(CAST(SUM(c_acctbal) AS DOUBLE), 2)        AS total_bal,
           MIN(c_custkey)                                  AS min_key
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("codec", "avro", "serialization", "schema-evolution"),
)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro binary encode→decode round trip inside the plan (reference
    avro_codec.rs end-to-end behavior incl. decimal logical types and
    reader-schema evolution), verified by aggregating the decoded columns
    against the raw table.

    Scale shape: one parquet file would mean ONE Python codec worker, so
    the input is repartitioned first (at 100 TB the source arrives already
    partitioned — this reproduces that shape); encode→wire→decode rides a
    single fused Arrow stage (df_roundtrip_avro) so the per-stage
    Python-worker overhead is paid once."""
    from velostream_spark.sources.avro_binary import df_roundtrip_avro

    cust = tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal"),
    )
    cust = _spread(cust, spark)
    decoded = df_roundtrip_avro(cust, _AVRO_CUSTOMER, _AVRO_CUSTOMER_READER)
    return decoded.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal").cast("double"), 2).alias("total_bal"),
        F.min("c_custkey").alias("min_key"),
    )


_PROTO_ORDERS = """
syntax = "proto3";
message Order {
  int64 o_orderkey = 1;
  sint64 o_custkey = 2;
  string o_orderstatus = 3;
  double o_totalprice = 4;
  string o_orderpriority = 5;
}
"""


@query(
    "protobuf_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*)                                  AS n,
           ROUND(SUM(o_totalprice), 2)               AS total_price,
           MAX(o_orderkey)                           AS max_key,
           MIN(o_custkey)                            AS min_cust
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    tags=("codec", "protobuf", "serialization"),
)
def protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format encode→decode round trip inside the plan
    (reference protobuf_codec.rs), verified by aggregating decoded columns
    against the raw table. Scale shape as avro_roundtrip: repartition so
    every core runs a codec worker, one fused Arrow stage for the pair."""
    from velostream_spark.sources.proto_binary import df_roundtrip_protobuf

    orders = tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    orders = _spread(orders, spark)
    decoded = df_roundtrip_protobuf(orders, _PROTO_ORDERS, "Order")
    return decoded.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_custkey").alias("min_cust"),
    )


_CONFLUENT_SUPPLIER_V1 = json.dumps(
    {
        "type": "record",
        "name": "Supplier",
        "fields": [
            {"name": "s_suppkey", "type": "long"},
            {"name": "s_name", "type": "string"},
            {"name": "s_acctbal", "type": "double"},
        ],
    }
)

# evolved: adds a defaulted tier field — v1-framed records take the default
_CONFLUENT_SUPPLIER_V2 = json.dumps(
    {
        "type": "record",
        "name": "Supplier",
        "fields": [
            {"name": "s_suppkey", "type": "long"},
            {"name": "s_name", "type": "string"},
            {"name": "s_acctbal", "type": "double"},
            {"name": "tier", "type": "string", "default": "std"},
        ],
    }
)

_CONFLUENT_REG_ROOT: str | None = None


def _confluent_registry_root() -> str:
    """One registry tempdir per process, removed at exit — a fresh mkdtemp
    per invocation leaked a directory (with schema files) every gate/bench
    run. register() is idempotent for an identical schema, so reuse is safe."""
    global _CONFLUENT_REG_ROOT
    if _CONFLUENT_REG_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _CONFLUENT_REG_ROOT = tempfile.mkdtemp(prefix="vs-confluent-reg-")
        atexit.register(shutil.rmtree, _CONFLUENT_REG_ROOT, ignore_errors=True)
    return _CONFLUENT_REG_ROOT


@query(
    "confluent_roundtrip",
    oracle="""
    SELECT CASE WHEN s_suppkey % 2 = 0 THEN 'gold' ELSE 'std' END AS tier,
           COUNT(*)                        AS n,
           ROUND(SUM(s_acctbal), 2)        AS total_bal,
           MAX(s_suppkey)                  AS max_key
    FROM supplier
    GROUP BY CASE WHEN s_suppkey % 2 = 0 THEN 'gold' ELSE 'std' END
    """,
    tags=("codec", "avro", "confluent", "schema-registry", "schema-evolution"),
)
def confluent_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent wire-format roundtrip through the schema registry: supplier
    rows are split by key parity, half encoded under schema v1 (no tier
    column) and half under v2 (tier='gold'), each value framed with ITS
    writer's global id (magic 0x00 + big-endian id); the decode resolves
    every record's writer schema from its own frame id and projects to the
    v2 reader shape — v1 records take the reader default tier='std'.
    The oracle reproduces the tier split arithmetically on the raw table,
    so a framing, id-resolution, or evolution bug breaks the value hash.

    Scale shape: registry reads are per-executor-batch and cached per
    schema id; the registry root is a shared path (tempdir here, HDFS/S3
    mount on a cluster)."""
    from velostream_spark.sources.schema_registry import (
        FileSchemaRegistry,
        df_decode_confluent,
        df_encode_confluent,
    )

    root = _confluent_registry_root()
    reg = FileSchemaRegistry(root)
    reg.register("supplier-value", _CONFLUENT_SUPPLIER_V1)
    reg.register("supplier-value", _CONFLUENT_SUPPLIER_V2)

    sup = tables(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_name", F.col("s_acctbal").cast("double").alias("s_acctbal")
    )
    odd = sup.where(F.col("s_suppkey") % 2 == 1)
    gold = sup.where(F.col("s_suppkey") % 2 == 0).withColumn("tier", F.lit("gold"))
    wire = df_encode_confluent(odd, root, "supplier-value", version=1).unionAll(
        df_encode_confluent(gold, root, "supplier-value", version=2)
    )
    decoded = df_decode_confluent(wire, root, "supplier-value")
    return decoded.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        F.max("s_suppkey").alias("max_key"),
    )
