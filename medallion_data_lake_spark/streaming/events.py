"""Structured Streaming over the events stream.

The reference implements streaming by hand: a Kafka consumer buffering
100 messages then flushing files, bounded by a 60-second daemon thread,
at-least-once with downstream dedup as compensation (SURVEY.md §2.9;
reference ``kafka_to_bronze.py:36-93``, ``orchestrator.py:88-125``).
This module is the Structured Streaming replacement:

- file (or Kafka) source → incremental processing with checkpoints →
  exactly-once sink; ``trigger(availableNow=True)`` gives the reference's
  bounded-run behavior without the sleep-and-flush hack,
- watermarked tumbling windows for event-time aggregation (the
  capability the reference lacks entirely),
- ``dropDuplicatesWithinWatermark`` replaces the at-least-once
  compensation dedup (P7) with bounded state.

Batch/stream parity: ``hourly_rollup`` produces exactly the rows of the
batch query ``events_hourly_windows`` (queries/streamlike.py) when run
availableNow over the same input — asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._parity import money_sum
from ..schemas import EVENTS


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events rows (parquet dir). A Kafka source is
    the same plan with ``format("kafka")`` + the envelope parse —
    :func:`read_events_kafka`."""
    reader = spark.readStream.schema(EVENTS).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # Watermarks require TIMESTAMP (with timezone); the session runs UTC,
    # so the NTZ→LTZ cast preserves wall-clock values exactly.
    return reader.load(path).withColumn("ts", F.col("ts").cast("timestamp"))


def events_from_envelopes(messages: DataFrame) -> DataFrame:
    """Envelope ``(key, value)`` messages → typed events rows.

    The post-source stage the Kafka path shares with everything else:
    parse the reference's ``{table, operation, timestamp, data}`` JSON
    envelope (sources/cdc.py — all payload scalars string-typed, the
    producer's ``json.dumps(default=str)`` convention), then cast each
    field back to the EVENTS schema. Works identically on batch and
    streaming frames, so the parse logic is testable without a broker
    and the broker path adds ONLY the source node to the plan.
    """
    from ..schemas import EVENTS as _EV
    from ..sources.cdc import parse_envelopes
    from pyspark.sql import types as T

    str_payload = T.StructType(
        [T.StructField(f.name, T.StringType()) for f in _EV.fields]
    )
    parsed = parse_envelopes(messages, str_payload)
    return parsed.select(
        *[
            F.col(f"data.{f.name}").cast(f.dataType).alias(f.name)
            for f in _EV.fields
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ→LTZ, as above


def read_events_kafka(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka-source events stream (S3 against a real broker).

    ``format("kafka")`` + :func:`events_from_envelopes`; every downstream
    operator (``hourly_rollup``, ``deduped_stream``, sessionization)
    composes unchanged — the file-source and Kafka plans differ only in
    the source node. Requires the spark-sql-kafka connector on the
    cluster (not present in this container; see README's docker-compose
    smoke recipe and tests/test_kafka_env.py's env-gated e2e test).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return events_from_envelopes(raw)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type.

    Watermark bounds state: rows later than ``watermark`` behind the max
    seen event time are dropped (late-data policy made explicit — the
    reference has none). Output matches queries/streamlike.py::
    events_hourly_windows column-for-column.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            money_sum("value").alias("total_value"),
        )
    )


def deduped_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-event view of an at-least-once stream.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only inside the
    watermark horizon — bounded memory, unlike a global dropDuplicates
    (the reference's unbounded compensation, ``bronze_to_silver.py:80``).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> None:
    """Append-mode exactly-once parquet sink with checkpoint (replaces the
    hand-rolled buffered S3 writer, S4 — ``kafka_to_bronze.py:45-67``)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
