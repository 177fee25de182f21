"""Element-wise parse / project / validate transforms (reference Demo1).

Reference semantics covered (citations into /root/reference):
- ParDo JSON-parse + drop-malformed (Demo1.java:52-72): Jackson-bind the
  payload, emit nothing on parse failure. Spark-first: `from_json` yields
  NULL for malformed input; a null filter on the parsed `event_time`
  reproduces the silent drop declaratively, with no Python in the hot path.
- Entity → row with processing time (entity/InputMessage.java:39-48):
  `withColumn("processing_time", current_timestamp())`.
- Keyed-pair projection (Demo2.java:63-86): epoch-seconds → timestamp via
  `timestamp_seconds`, key is just a column.

Scale notes: `from_json` + filter is pipelined into the scan stage; the
malformed-row drop happens before any shuffle, exactly like the reference's
drop-corrupt-early (SURVEY §4.1).

The parse sits in a Generate (`inline(array(struct(from_json(...))))`),
because the optimizer cannot push a filter on a generator's output below
it. Under a plain projection, the null filter is pushed below and
`from_json` copied into it: three parses per row, each a full parse, since
`from_json` has no generated code of its own (SCALING.md "Click parse: one
`from_json` per message").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's InputMessage contract (entity/InputMessage.java:8-37):
# {"event_time": <epoch seconds>, "user_id": int, "click": int}
INPUT_MESSAGE_SCHEMA = "event_time BIGINT, user_id INT, click INT"


def _parse_once(raw: DataFrame, payload_col: str, *carry: Column) -> DataFrame:
    """`raw` → rows of (*carry, m), with `m` the payload parsed by ONE `from_json`.

    `m` is NULL for a malformed payload. The Generate keeps any filter on
    `m` above the parse (see the module docstring).
    """
    m = F.from_json(F.col(payload_col).cast("string"), INPUT_MESSAGE_SCHEMA)
    return raw.select(F.inline(F.array(F.struct(*carry, m.alias("m")))))


def _click_row(df: DataFrame) -> DataFrame:
    return df.select(
        F.timestamp_seconds(F.col("m.event_time")).alias("event_time"),
        F.col("m.user_id").alias("user_id"),
        F.col("m.click").alias("click"),
    )


def parse_click_messages(raw: DataFrame, payload_col: str = "value") -> DataFrame:
    """JSON click payloads → typed rows, silently dropping malformed ones.

    Demo1's MessageTransform (Demo1.java:52-72) as a declarative plan:
    parse → drop null (parse failure) → convert epoch seconds to timestamp.
    A NULL struct has a NULL `event_time`, so one null test drops both
    parse failures and messages without an event time.
    Output: (event_time TIMESTAMP, user_id INT, click INT).
    """
    parsed = _parse_once(raw, payload_col)
    return _click_row(parsed.filter(F.col("m.event_time").isNotNull()))


def with_processing_time(df: DataFrame) -> DataFrame:
    """Append the wall-clock stamp the reference adds at emit time
    (InputMessage.java:43, Demo2.java:100)."""
    return df.withColumn("processing_time", F.current_timestamp())


def parse_json_props(
    df: DataFrame, col: str, schema: str, out_col: str = "_parsed"
) -> DataFrame:
    """Parse a JSON string column into a typed struct — NULL on malformed.

    The fixture `events.props` carries JSON like '{"k": 87}'; this is the
    engine's generic JSON-extraction surface (`from_json` → struct).
    Malformed rows are KEPT with a NULL `out_col` (from_json semantics) —
    follow with `.filter(F.col(out_col).isNotNull())` to drop them, or
    use `parse_click_messages_with_dlq` for a dead-letter side output.
    """
    return df.withColumn(out_col, F.from_json(F.col(col), schema))


def parse_click_messages_with_dlq(
    raw: DataFrame, payload_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Parse with a dead-letter side output instead of silent dropping.

    The reference logs-and-drops malformed messages (Demo1.java:65-68);
    production pipelines usually keep them. Returns (parsed, dead_letters)
    where dead_letters carries the raw payload for replay. Each branch is
    its own plan and parses its input once; the branches do not share one
    evaluation. `isNotNull` is never NULL, so the two branches partition
    the input.
    """
    tagged = _parse_once(
        raw, payload_col, F.col(payload_col).cast("string").alias("_raw")
    )
    ok = F.col("m.event_time").isNotNull()
    parsed = _click_row(tagged.filter(ok))
    dead = tagged.filter(~ok).select(F.col("_raw").alias("payload"))
    return parsed, dead
