"""Kafka source/sink builders (reference S1 + K2), tuned with the
reference's constants.

The container has no Kafka broker or spark-sql-kafka connector jar, so
these builders only *declare* the stream — construction is exercised in
deployments, semantics are tested through the same foreachBatch body via
file/memory sources (SURVEY.md §3.2). Constants from BASELINE.md:
25 000-message micro-batches (main.py:569), 50 MB fetch cap
(main.py:496), offset-reset policy (main.py:494), DLQ linger 5 ms
(main.py:367).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_MAX_OFFSETS_PER_TRIGGER = 25_000  # NUM_MESSAGES, main.py:569
DEFAULT_FETCH_MAX_BYTES = 50 * 1024 * 1024  # main.py:496


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",  # auto.offset.reset, main.py:494
    max_offsets_per_trigger: int = DEFAULT_MAX_OFFSETS_PER_TRIGGER,
    fetch_max_bytes: int = DEFAULT_FETCH_MAX_BYTES,
    min_partitions: int | None = None,
) -> DataFrame:
    """S1: Kafka micro-batch source → one string ``value`` column (the
    shape the pipeline core consumes).

    ``min_partitions``: ask Spark to split each trigger's offset
    ranges into at least this many tasks — the SOURCE-side version of
    the engine's intra-trigger fan-out. A low-partition-count topic
    (the reference's single consumer reads one partition) otherwise
    pins validate/cast to as many cores as the topic has partitions;
    with ``minPartitions`` the split happens at the broker fetch, no
    local shuffle needed, and ``PipelineJob``'s automatic shuffle
    fan-out (to min(defaultParallelism, 8) partitions) sees a
    wide-enough batch and becomes a no-op. Defaults to None (Spark's 1:1 partition mapping)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .option("kafka.fetch.max.bytes", fetch_max_bytes)
    )
    if min_partitions is not None:
        reader = reader.option("minPartitions", int(min_partitions))
    return reader.load().select(
        F.col("value").cast("string").alias("value")
    )


def kafka_dlq_writer(bootstrap_servers: str, topic: str):
    """K2: DLQ sink callable for :class:`PipelineJob` — serializes each
    ``(row, error)`` record as JSON to the DLQ topic (main.py:358-384).
    Batch-mode write inside foreachBatch (linger is a broker-side
    producer knob; Spark's Kafka sink batches per partition)."""

    def write(dlq_df: DataFrame) -> None:
        (
            dlq_df.select(
                F.to_json(F.struct("row", "error")).alias("value")
            )
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .save()
        )

    return write
