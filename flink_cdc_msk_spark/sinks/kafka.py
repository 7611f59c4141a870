"""Kafka sink assembly (SURVEY.md A22-A30).

The reference's sink stack (key/value serializers, hash partitioner, topic
selector — MySQLCDC2AWSMSK.scala:175-222, kafka/, partitioner/,
topicselector/) collapses in Spark to *column assembly*: the Kafka writer
honors per-row ``key``/``value``/``topic``/``partition`` columns.

Delivery guarantee (A29): the reference offers EXACTLY_ONCE via
checkpoint-aligned transactional produce (scala:187-190). Spark's Kafka sink
is at-least-once; the equivalent end-to-end contract here is
checkpointed offsets + idempotent consumption keyed on ``partition_key``
(every event of one (db, table, pk) is keyed identically — README.md:6), and
``kafka.acks=all`` parity with the reference's hardcoded ``acks=-1``
(scala:177). Documented, not hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CDCParams


def to_kafka_columns(routed: DataFrame) -> DataFrame:
    """Routed CDC records → the Kafka writer's column contract.

    key = partition_key bytes (CDCKafkaKeySerializationSchema.scala:8-10),
    value = envelope JSON bytes (CDCKafkaValueSerializationSchema.scala:8-10).
    """
    cols = [
        F.col("partition_key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.col("topic"),
    ]
    if "partition" in routed.columns:
        cols.append(F.col("partition"))
    return routed.select(*cols)


def write_stream_kafka(routed: DataFrame, params: CDCParams, checkpoint: str):
    """writeStream to Kafka with producer passthrough (A30) + checkpoint
    (A31). Returns the started StreamingQuery."""
    opts = {
        "kafka.bootstrap.servers": params.broker_list,
        "kafka.acks": "all",  # reference hardcodes acks=-1 (scala:177)
        "checkpointLocation": checkpoint,
        **params.kafka_options(),
    }
    writer = to_kafka_columns(routed).writeStream.format("kafka")
    for k, v in opts.items():
        writer = writer.option(k, v)
    return writer.start()
