"""The click-message parse (`operators/etl.py`): one `from_json` per row.

As a projection under a null filter, Catalyst copies `from_json` into the
filter and parses each message three times (SCALING.md "Click parse: one
`from_json` per message"). These tests pin the parse-once plan of both
parse paths and check their rows against that old formulation, kept here
as the reference.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tutorial_apache_beam_spark.operators.etl import (
    INPUT_MESSAGE_SCHEMA,
    parse_click_messages,
    parse_click_messages_with_dlq,
)

LINES = [
    '{"event_time": 60, "user_id": 1, "click": 1}',
    '{"event_time": 120, "user_id": 2, "cl',
    "{}",
    '{"user_id": 3, "click": 1}',
    '{"event_time": "x", "user_id": 4, "click": 0}',
    '{"event_time": null, "user_id": 5, "click": 1}',
    '{"event_time": 180, "user_id": 6, "click": 0, "extra": "y"}',
    '[{"event_time": 240, "user_id": 7, "click": 1}]',
    "",
    None,
]


def _batch(spark):
    return spark.createDataFrame(list(enumerate(LINES)), "id INT, value STRING")


def _reference_parse(raw):
    """The projection-then-filter formulation, carrying `id` through."""
    parsed = raw.select(
        "id",
        F.from_json(F.col("value").cast("string"), INPUT_MESSAGE_SCHEMA).alias("m"),
    )
    return parsed.filter(
        F.col("m").isNotNull() & F.col("m.event_time").isNotNull()
    ).select(
        "id",
        F.timestamp_seconds(F.col("m.event_time")).alias("event_time"),
        F.col("m.user_id").alias("user_id"),
        F.col("m.click").alias("click"),
    )


def _from_json_count(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("from_json(")


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def test_each_parse_path_evaluates_from_json_once(spark):
    raw = _batch(spark).select("value")
    parsed, dead = parse_click_messages_with_dlq(raw)
    counts = [_from_json_count(df) for df in (parse_click_messages(raw), parsed, dead)]
    assert counts == [1, 1, 1]


def test_parse_rows_and_schema_match_the_reference(spark):
    batch = _batch(spark)
    got = parse_click_messages(batch.select("value"))
    want = _reference_parse(batch).drop("id")
    assert got.schema == want.schema
    assert got.schema.simpleString() == (
        "struct<event_time:timestamp,user_id:int,click:int>"
    )
    rows = got.collect()
    assert _sorted(rows) == _sorted(want.collect())
    assert sorted(r.user_id for r in rows) == [1, 6]


def test_dead_letter_branches_partition_the_input(spark):
    batch = _batch(spark)
    parsed, dead = parse_click_messages_with_dlq(batch.select("value"))
    reference = _reference_parse(batch).collect()
    kept = {r.id for r in reference}
    want_dead = [(line,) for i, line in enumerate(LINES) if i not in kept]
    assert _sorted(dead.collect()) == _sorted(want_dead)
    assert _sorted(parsed.collect()) == _sorted(r[1:] for r in reference)
    assert parsed.count() + dead.count() == len(LINES)
