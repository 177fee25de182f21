"""Batch + streaming source readers (SURVEY S1-S3).

The reference's one source is a Pub/Sub Lite subscription
(`PubsubLiteIO.read`, Demo1.java:75-83). Pub/Sub Lite speaks the Kafka
wire protocol, so the production-parity source here is `stream_kafka`;
self-contained environments use the watched-directory and rate sources,
and every downstream stage is identical because all sources normalize to
the same (value STRING [, timestamp]) shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark_version() -> str:
    """The running Spark version, so classpath remediation messages give
    a COMPLETE (group:artifact:version) Maven coordinate — a versionless
    one fails session startup with 'Invalid maven coordinates'."""
    import pyspark

    return pyspark.__version__


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar batch scan — vectorized, pushdown + pruning via Catalyst."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> DataFrame:
    """Schema-first CSV (never inferSchema in production — it's a full
    extra pass over the data)."""
    return spark.read.schema(schema).option("header", header).csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-first JSON-lines; malformed rows become nulls in the
    projected columns (drop with a filter — reference Demo1 semantics)."""
    return spark.read.schema(schema).json(path)


def stream_directory_text(spark: SparkSession, path: str) -> DataFrame:
    """Unbounded raw-message source: one payload line per row (`value`
    STRING), from files appearing in a watched directory."""
    return spark.readStream.text(path)


def stream_directory_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Unbounded typed JSON source from a watched directory."""
    return spark.readStream.schema(schema).json(path)


def stream_rate(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic unbounded source (timestamp, value) — the engine's analog
    of the reference's message_publisher harness for load/latency tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


# The wire schema the kafka source resolves to (fixed by Spark's kafka
# connector) — used to plan/test the normalization without a broker.
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT"
)


def kafka_reader_options(
    bootstrap_servers: str,
    subscribe: str,
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """The option wiring for `readStream.format("kafka")` — factored out so
    the plan-level contract is testable without a broker on the classpath."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": subscribe,
        "startingOffsets": starting_offsets,
    }


def normalize_kafka(raw: DataFrame) -> DataFrame:
    """Kafka wire rows → the (value STRING, timestamp) shape every demo
    pipeline consumes. Applied identically to a real kafka stream or any
    KAFKA_WIRE_SCHEMA-shaped replay, so downstream stages never know the
    transport."""
    return raw.select(
        F.col("value").cast("string").alias("value"),
        F.col("timestamp").alias("timestamp"),
    )


def stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    subscribe: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka (or Pub/Sub Lite via its Kafka endpoint) streaming source.

    Returns the normalized (value STRING, timestamp) shape the demo
    pipelines consume — swapping this in for the directory source changes
    nothing downstream. Requires the spark-sql-kafka package on the
    classpath (not bundled in this container; the builder itself is
    environment-independent).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, subscribe, starting_offsets
    ).items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as ex:  # pragma: no cover — depends on classpath
        # Message-gated like publish_kafka below: only a genuine
        # missing-datasource failure gets the remediation wrapper; option
        # typos, auth errors, etc. propagate untouched so the user chases
        # the real problem, not a phantom dependency.
        if "Failed to find data source" in str(ex):
            raise RuntimeError(
                "kafka source requires the spark-sql-kafka package on the "
                "classpath (start the session with spark.jars.packages="
                "org.apache.spark:spark-sql-kafka-0-10_2.13:"
                f"{_spark_version()})"
            ) from ex
        raise
    return normalize_kafka(raw)


def to_kafka_wire(
    events: DataFrame,
    key_col: str = "user_id",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Event rows → the (key BINARY, value BINARY) shape Spark's kafka
    SINK requires — the publisher half of the transport (the reference's
    `utils/message_publisher.py:23-119` JSON-encodes {event_time,
    user_id, click} onto the topic; this is that encode as a plan).

    Keying by user gives per-user partition affinity (ordering per key
    within a partition), exactly what the keyed Demo2 consumer wants.
    """
    value_cols = value_cols or [
        c for c in events.columns if c != key_col
    ]
    return events.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(key_col, *value_cols)).cast("binary").alias(
            "value"
        ),
    )


def kafka_writer_options(
    bootstrap_servers: str, topic: str
) -> dict[str, str]:
    """Option wiring for `writeStream.format("kafka")` (same
    broker-independent testability rationale as `kafka_reader_options`)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }


def publish_kafka(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
):
    """Publish a streaming DataFrame to a kafka topic (at-least-once:
    kafka's producer has no idempotent-sink integration in Spark, so
    retried micro-batches can re-send — consumers dedup by content key,
    e.g. `dropDuplicatesWithinWatermark`). Returns the started query.

    Requires the spark-sql-kafka package on the classpath; the plan
    construction itself (wire encode + option wiring) is
    environment-independent and covered in tests/test_sources_kafka.py.
    """
    writer = (
        to_kafka_wire(events, key_col=key_col)
        .writeStream.format("kafka")
        .option("checkpointLocation", checkpoint_dir)
    )
    for k, v in kafka_writer_options(bootstrap_servers, topic).items():
        writer = writer.option(k, v)
    try:
        return writer.start()
    except Exception as ex:
        # Translate ONLY the missing-data-source classpath failure (same
        # message-gated pattern as writers._rethrow_if_avro_missing);
        # unrelated start() failures — bad checkpoint path, schema or
        # auth errors — re-raise unchanged so they aren't misdiagnosed.
        if "Failed to find data source" in str(ex):
            raise RuntimeError(
                "kafka sink requires the spark-sql-kafka package on the "
                "classpath (start the session with spark.jars.packages="
                f"org.apache.spark:spark-sql-kafka-0-10_2.13:{_spark_version()})"
            ) from ex
        raise
