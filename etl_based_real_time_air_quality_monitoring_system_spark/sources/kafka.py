"""S2/S3/S4 — Kafka source & sink builders (SURVEY.md §2.1).

Reference semantics carried over:
- source subscribes one topic from ``earliest``
  (``consumer.py:44-61``) -> ``startingOffsets=earliest``; offset
  progress lives in the checkpoint instead of a consumer-group commit
  (``consumer.py:169``), upgrading at-least-once to exactly-once-ish
  with an idempotent sink.
- sink produces JSON-serialized records with ``acks=all``
  (``producer.py:19-33``) -> ``to_json(struct(*))`` into the value
  column, ``kafka.acks=all``.

No broker or connector jar ships in this container, so these builders
construct lazy plans (construction is exercised in tests; ``start()``
requires ``spark-sql-kafka`` on the classpath — documented, not
hidden).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

DEFAULT_TOPIC = "air_quality"  # producer.py:16


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S3/S4 — streaming Kafka source; ``value`` arrives as binary,
    cast to string for the JSON parse stage (streaming.dead_letter_split)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("value").cast("string").alias("payload"),
        F.col("topic"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        F.col("timestamp").alias("kafka_timestamp"),
    )


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    checkpoint: str | None = None,
) -> DataStreamWriter:
    """S2 — JSON-encode the full row into ``value`` (producer.py:24's
    serializer as ``to_json(struct(*))``), ``acks=all`` durability
    (producer.py:25)."""
    out = df.select(F.to_json(F.struct("*")).alias("value"))
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("kafka.acks", "all")
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
