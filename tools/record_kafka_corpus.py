"""Record a golden corpus of Kafka producer wire bytes.

The sandbox has no broker, so the Kafka source/sink can never run
end-to-end here (VERDICT r5 "What's missing" #1). What CAN be pinned
without a broker is the producer wire format: the exact (key BINARY,
value BINARY) bytes `to_kafka_wire` hands Spark's kafka sink for both
demo schemas — Demo1/Demo2's InputMessage input payload
(`{event_time, user_id, click}`, reference utils/message_publisher.py:
23-119 and entity/InputMessage.java:8-37) and the Demo2 windowed-count
output shape. Record once, commit, and replay on every test run so any
wire-encode regression (field order, casting, key derivation, JSON
formatting) fails loudly in a unit test instead of surfacing as consumer
breakage against a real topic.

Corpus: tests/data/kafka_wire_corpus.jsonl — one line per message:

    {"schema": "demo1_input"|"demo2_counts", "row": [...],
     "key": <hex>, "value": <hex>}

Usage: python tools/record_kafka_corpus.py  (rewrites the corpus)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPUS_PATH = os.path.join(REPO, "tests", "data", "kafka_wire_corpus.jsonl")

# Deterministic fixture rows: epoch seconds around 2024-01-01T00:00Z,
# mixed single/multi-digit ids, click 0/1 (the full value domain).
DEMO1_ROWS = [
    (1704067200, 7, 1),
    (1704067201, 9, 0),
    (1704067260, 123456, 1),
    (1704067319, 0, 0),
]
DEMO1_SCHEMA = "event_time BIGINT, user_id BIGINT, click BIGINT"

# Demo2 output analog: tumbling-window counts keyed by user
# (window_start as epoch seconds keeps the JSON payload engine-stable).
DEMO2_ROWS = [
    (1704067200, 7, 3),
    (1704067200, 9, 1),
    (1704067260, 123456, 12),
]
DEMO2_SCHEMA = "window_start BIGINT, user_id BIGINT, click_count BIGINT"


def encode_corpus(spark) -> list[dict]:
    """Run both demo schemas through `to_kafka_wire` and return the
    corpus entries (shared by the recorder and the conformance test)."""
    from tutorial_apache_beam_spark.sources.readers import to_kafka_wire

    out: list[dict] = []
    for name, rows, schema in (
        ("demo1_input", DEMO1_ROWS, DEMO1_SCHEMA),
        ("demo2_counts", DEMO2_ROWS, DEMO2_SCHEMA),
    ):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        # coalesce(1) + row-local encode: collect() returns input order,
        # so wire records zip 1:1 with the fixture rows.
        wire = to_kafka_wire(df).collect()
        assert len(wire) == len(rows)
        for row, rec in zip(rows, wire):
            assert bytes(rec["key"]) == str(row[1]).encode(), (name, row)
            out.append(
                {
                    "schema": name,
                    "row": list(row),
                    "key": bytes(rec["key"]).hex(),
                    "value": bytes(rec["value"]).hex(),
                }
            )
    return out


def main() -> None:
    from tutorial_apache_beam_spark.session import get_spark

    spark = get_spark(app_name="record_kafka_corpus")
    entries = encode_corpus(spark)
    with open(CORPUS_PATH, "w") as fh:
        for e in entries:
            fh.write(json.dumps(e) + "\n")
    print(f"wrote {len(entries)} wire records to {CORPUS_PATH}")


if __name__ == "__main__":
    main()
