"""Streaming sources.

File streams replay a directory as micro-batches (``maxFilesPerTrigger``
controls batch granularity) — the standard way to test event-time logic
deterministically.  Rate streams generate synthetic load for
throughput checks.  Kafka would slot in via ``format("kafka")`` with the
same downstream code, untested here (no broker in the container).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay files in ``path`` as a stream (schema must be explicit —
    streaming readers cannot infer)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic ``timestamp, value`` source for load/latency testing."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def socket_stream(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 9999,
    include_timestamp: bool = False,
) -> DataFrame:
    """TCP line source (Spark's built-in ``socket`` connector):
    newline-delimited UTF-8 lines as a ``value string`` stream —
    a network source that runs end to end against loopback (pinned by
    ``test_socket_stream_reads_loopback_lines``).

    At-most-once by design (no offsets, no replay — a reconnect loses
    the gap), so its production role is demos and integration tests;
    durable network ingest needs a replayable source such as Spark's
    built-in Kafka connector, which delivers the same ``value`` column.
    """
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .option("includeTimestamp", str(include_timestamp).lower())
        .load()
    )
