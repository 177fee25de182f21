"""The demo pipelines, composed from the same public stages on a file
source that takes one file per trigger.

`streaming.demos` reads its directory through `Pipeline.read_message_stream`,
which takes no `maxFilesPerTrigger`, so one drain of a backlog would be one
micro-batch. The benchmark needs one micro-batch per file, so it rebuilds
each demo from the same transforms over its own source. `drift_guard.py`
checks that these compositions still write what the demos write.

Each composition counts the rows that survive parsing with
`DataFrame.observe` (name `OBSERVED`), which a streaming query reports per
micro-batch; input rows minus that count are the malformed drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tutorial_apache_beam_spark.operators.etl import (
    parse_click_messages,
    with_processing_time,
)
from tutorial_apache_beam_spark.plans.pipeline import (
    Count,
    FixedWindows,
    MapElements,
    PCollection,
    Pipeline,
    PipelineResult,
    WindowInto,
    WithTimestamps,
    WriteParquet,
)
from tutorial_apache_beam_spark.streaming.stateful import discarding_pane_counts

OBSERVED = "bench_parsed"


def message_source(spark: SparkSession, source_dir: str) -> DataFrame:
    """`read_message_stream`'s `value STRING` source, one file per trigger."""
    return spark.readStream.option("maxFilesPerTrigger", "1").text(source_dir)


def etl(parsed: PCollection) -> PCollection:
    """Demo1 (`demos.demo1_pipeline`)."""
    return parsed.apply("AddProcessingTime", MapElements(with_processing_time))


def windows(parsed: PCollection) -> PCollection:
    """Demo2 watermark firing (`demos.demo2_pipeline`, without the
    end-of-input flush)."""
    return (
        parsed.apply("AllowTimestampSkew", WithTimestamps("event_time", "1 minute"))
        .apply(
            "ConvertToUserIdOnly",
            MapElements(lambda df: df.select("event_time", "user_id")),
        )
        .apply(
            "ToPerMinuteWindow",
            WindowInto(FixedWindows("1 minute"), allowed_lateness="1 minute"),
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
    )


def panes(parsed: PCollection) -> PCollection:
    """Demo2 with `.discardingFiredPanes()` (`demos.demo2_panes_pipeline`,
    stateful_api="v1")."""
    return parsed.apply(
        "DiscardingPaneCounts",
        MapElements(
            lambda df: discarding_pane_counts(
                df,
                ts_col="event_time",
                window_duration="1 minute",
                watermark_delay="120 seconds",
            )
        ),
    )


COMPOSE = {
    "clickstream_etl": etl,
    "clickstream_windows": windows,
    "clickstream_panes": panes,
}


def build(spark: SparkSession, workload: str, source_dir: str) -> PCollection:
    """The workload's pipeline up to its sink."""
    parsed = (
        Pipeline(spark)
        .create(message_source(spark, source_dir))
        .apply("ToTableRows", MapElements(parse_click_messages))
        .apply(
            "CountParsed",
            MapElements(
                lambda df: df.observe(OBSERVED, F.count(F.lit(1)).alias("rows"))
            ),
        )
    )
    return COMPOSE[workload](parsed)


def write(pcoll: PCollection, sink: str, checkpoint: str) -> PipelineResult:
    """Apply the demos' sink, which starts the availableNow query."""
    pcoll.apply(
        "WriteAppendTable",
        WriteParquet(sink, checkpoint=checkpoint, available_now=True),
    )
    return pcoll.pipeline.run()
