"""The reference's two pipelines, re-expressed on the engine API.

Compare shapes with the reference (citations into /root/reference):

Demo1 (Demo1.java:79-100):
    Pipeline.create(options)
      .apply("ReadPubSubLite", PubsubLiteIO.read(...))
      .apply("ToTableRows", new MessageTransform())
      .apply("WriteBigQueryTables", BigQueryIO.writeTableRows()...)

Demo2 (Demo2.java:115-175):
    .apply("ReadPubSubLite", ...)
    .apply("ToKVElements", parse → KV(user_id, ts))
    .apply("AllowTimestampSkew", WithTimestamps(skew 1m))
    .apply("ConvertToUserIdOnly", MapElements → KV(user_id, null))
    .apply("ToPerMinuteWindow", FixedWindows(1m) + lateness(1m))
    .apply("ToPerMinuteWindowedSum", Count.perKey())
    .apply("ToTableRow", + processing_time)
    .apply("WriteBigQueryTables", ...)

The JSON-lines directory source stands in for the Pub/Sub Lite
subscription (Kafka-wire-compatible in production: swap the source for
`readStream.format("kafka")`, nothing else changes).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tutorial_apache_beam_spark.operators.etl import (
    parse_click_messages,
    with_processing_time,
)
from tutorial_apache_beam_spark.plans.pipeline import (
    Count,
    FixedWindows,
    MapElements,
    Pipeline,
    PipelineResult,
    WindowInto,
    WithTimestamps,
    WriteParquet,
)


def demo1_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> PipelineResult:
    """Stateless streaming ETL: JSON click messages → typed append table."""
    p = Pipeline(spark)
    (
        p.read_message_stream(source_dir)
        .apply("ToTableRows", MapElements(parse_click_messages))
        .apply("AddProcessingTime", MapElements(with_processing_time))
        .apply(
            "WriteAppendTable",
            WriteParquet(
                sink_dir,
                checkpoint=checkpoint_dir,
                available_now=available_now,
            ),
        )
    )
    return p.run()


def demo2_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    allowed_skew: str = "1 minute",
    allowed_lateness: str = "1 minute",
    available_now: bool = True,
    finalize: bool = True,
) -> PipelineResult:
    """Stateful windowed aggregation: clicks per user per 1-minute window.

    Output mode is append — rows emit once, when the watermark (event time
    minus skew+lateness) passes the window end: Beam's
    AfterWatermark.pastEndOfWindow() firing (SURVEY W3 mapping).

    `finalize` (drain mode only): when a BOUNDED input is exhausted, Beam
    advances the watermark to +infinity and fires the final pane of EVERY
    window; Spark's availableNow drain leaves the watermark at
    max(event_time) - delay, so windows newer than that would never emit
    (on the reference's 100-second test generator that is ALL windows).
    After the drain, the still-open windows — exactly those with
    window_end > final watermark, disjoint from what the stream appended —
    are computed with the equivalent batch plan and appended, making one
    drain of a bounded directory reproduce Beam's bounded-pipeline output
    (unified-model parity). Pass finalize=False for repeated incremental
    drains of a growing directory, where only-closed-windows is the safe
    (duplicate-free) behavior; finalize is a terminal operation.
    """
    p = Pipeline(spark)
    (
        p.read_message_stream(source_dir)
        .apply("ToKVElements", MapElements(parse_click_messages))
        .apply("AllowTimestampSkew", WithTimestamps("event_time", allowed_skew))
        .apply(
            "ConvertToUserIdOnly",
            MapElements(lambda df: df.select("event_time", "user_id")),
        )
        .apply(
            "ToPerMinuteWindow",
            WindowInto(FixedWindows(window), allowed_lateness=allowed_lateness),
        )
        .apply("ToPerMinuteWindowedSum", Count.per_key("user_id"))
        .apply(
            "ToTableRow",
            MapElements(
                lambda df: df.select(
                    F.current_timestamp().alias("processing_time"),
                    "window_start",
                    "user_id",
                    "count",
                )
            ),
        )
        .apply(
            "WriteAppendTable",
            WriteParquet(
                sink_dir,
                checkpoint=checkpoint_dir,
                available_now=available_now,
            ),
        )
    )
    result = p.run()
    if available_now and finalize:
        result.wait_until_finish()
        _demo2_flush_open_windows(
            spark, source_dir, sink_dir, window, allowed_skew, allowed_lateness
        )
    return result


def _demo2_flush_open_windows(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    window: str,
    allowed_skew: str,
    allowed_lateness: str,
) -> None:
    """Append the windows still open at the drain's final watermark — the
    batch form of the same plan restricted to window_end > watermark (the
    complement of what append mode emitted)."""
    from tutorial_apache_beam_spark.operators.windowing import tumbling_counts

    parsed = parse_click_messages(spark.read.text(source_dir))
    wm_row = (
        parsed.agg(F.max("event_time").alias("mx"))
        .select(
            F.expr(
                f"mx - INTERVAL {allowed_skew} - INTERVAL {allowed_lateness}"
            ).alias("wm")
        )
        .first()
    )
    if wm_row is None or wm_row["wm"] is None:
        return
    counts = tumbling_counts(parsed, "event_time", ["user_id"], window)
    (
        counts.filter(F.col("window_end") > F.lit(wm_row["wm"]))
        .select(
            F.current_timestamp().alias("processing_time"),
            "window_start",
            "user_id",
            "count",
        )
        .write.mode("append")
        .parquet(sink_dir)
    )


def demo2_panes_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    allowed_skew: str = "1 minute",
    allowed_lateness: str = "1 minute",
    available_now: bool = True,
) -> PipelineResult:
    """Demo2 with Beam's `.discardingFiredPanes()` semantics
    (Demo2.java:151-157: repeated trigger, each firing emits only the
    delta since the previous pane): one row per (window, user, firing)
    with the firing ordinal, instead of one final row per window, from
    the applyInPandasWithState pane emitter (runs on every state-store
    provider).

    Beam's skew and lateness compose into one watermark delay here
    exactly as in `demo2_pipeline`.
    """
    from tutorial_apache_beam_spark.streaming.stateful import (
        discarding_pane_counts,
    )

    delay = f"{_total_delay(allowed_skew, allowed_lateness)} seconds"

    p = Pipeline(spark)
    (
        p.read_message_stream(source_dir)
        .apply("ToKVElements", MapElements(parse_click_messages))
        .apply(
            "DiscardingPaneCounts",
            MapElements(
                lambda df: discarding_pane_counts(
                    df,
                    ts_col="event_time",
                    window_duration=window,
                    watermark_delay=delay,
                )
            ),
        )
        .apply(
            "WriteAppendTable",
            WriteParquet(
                sink_dir,
                checkpoint=checkpoint_dir,
                available_now=available_now,
            ),
        )
    )
    return p.run()


def _total_delay(allowed_skew: str, allowed_lateness: str) -> int:
    from tutorial_apache_beam_spark.streaming.stateful import _duration_ms

    # Watermark components: '0 seconds' skew or lateness is legitimate.
    return (
        _duration_ms(allowed_skew, allow_zero=True)
        + _duration_ms(allowed_lateness, allow_zero=True)
    ) // 1000
