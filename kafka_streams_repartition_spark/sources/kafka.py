"""Kafka source/sink wiring (S1-S7), usable batch or streaming.

No broker exists in the test environment, so integration paths are
exercised in unit tests via the same column expressions applied to
in-memory frames shaped like Kafka records (key/value/topic/partition/
offset/timestamp) — the decode/encode logic is identical either way.

Semantics carried over from the reference:

- JSON values with permissive decode: a corrupt record lands in
  ``_corrupt`` instead of failing the query — the reference's
  log-and-continue handler (``Streams.java:45``,
  ``JsonDeserializer.java:18-22``). Count them with ``observe()``.
- String keys (``Streams.java:39``).
- KTable topics are compacted; materialization = latest offset per key
  with null-value tombstones deleting the key (``BuildSystem.java:47-50``)
  → ``ktable_from_records``.
- Exactly-once: the reference runs EOS v2; Spark's Kafka sink is
  at-least-once — downstream consumers must dedup on (key, version) or
  read the checkpointed state instead (SURVEY §2.10 "Hard 3").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ktable import latest_per_key

CORRUPT_COL = "_corrupt"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def decode_json_records(records: DataFrame, schema: T.StructType) -> DataFrame:
    """Kafka record frame → typed columns; corrupt JSON → ``_corrupt``.

    Works on batch and streaming frames alike (pure column exprs).
    """
    parsed = records.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(
            F.col("value").cast("string"),
            _with_corrupt(schema),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("v"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    )
    return parsed.select("key", "v.*", "topic", "partition", "offset", "kafka_ts")


def encode_json_records(df: DataFrame, key_col: str) -> DataFrame:
    """Typed columns → (key, value-json) Kafka sink frame."""
    payload = [c for c in df.columns if c != key_col]
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*payload)).alias("value"),
    )


def read_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: KStream source."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_json_records(raw, schema)


def read_batch(
    spark: SparkSession, bootstrap: str, topic: str, schema: T.StructType
) -> DataFrame:
    """Batch read to current end offsets — the restore tool's
    "consume until lag == 0" (``Restore.java:54-88``) without the loop."""
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return decode_json_records(raw, schema)


def ktable_from_records(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Compacted-topic materialization from RAW kafka records: latest
    record per key wins (a key lives in one partition, so offset is a
    total order within it); a null value is a tombstone deleting the
    key. Decode happens after the reduce — only surviving rows pay it.
    """
    keyed = raw.withColumn("key", F.col("key").cast("string"))
    latest = latest_per_key(
        keyed, ["key"], ["partition", "offset"], tombstone_col="value"
    )
    return decode_json_records(latest, schema)


def write_stream_writer(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    key_col: str,
    checkpoint_dir: str,
    output_mode: str = "update",
):
    """Configured-but-unstarted Kafka sink writer (S6). Split from
    :func:`write_stream` so option wiring is testable without a broker
    (the broker is only contacted at ``.start()``)."""
    return (
        encode_json_records(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )


def write_stream(*args, **kwargs):
    """S6: Kafka sink; update mode = changelog re-emission semantics.
    Takes :func:`write_stream_writer`'s arguments and starts its
    writer."""
    return write_stream_writer(*args, **kwargs).start()
