"""GroupIntoBatches (streaming/batching.py): Beam state+timer parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from tutorial_apache_beam_spark.streaming.batching import group_into_batches
from tutorial_apache_beam_spark.streaming.replay import (
    run_stream_to_memory,
    stream_events,
)

from tests.conftest import SF_DIR


def test_group_into_batches_invariants(spark):
    """Every element lands in exactly one batch; only a key's last batch may
    be partial; batch_seq is contiguous from 0 per key."""
    sdf = stream_events(spark, SF_DIR).withWatermark("ts", "1 minute")
    out = run_stream_to_memory(
        group_into_batches(sdf, batch_size=64), spark, output_mode="append"
    ).cache()

    n_input = spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    # Exactly-once batching: total batched == input, no element twice.
    assert out.agg(F.sum("batch_size")).first()[0] == n_input
    dup = (
        out.select(F.explode("element_ids").alias("e"))
        .groupBy("e")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0

    # batch_size column matches the actual array, and only the
    # highest-seq batch of a key may be smaller than 64.
    assert out.filter(F.size("element_ids") != F.col("batch_size")).count() == 0
    last_seq = (
        out.groupBy("user_id")
        .agg(F.max("batch_seq").alias("last"))
        .select(F.col("user_id").alias("k"), "last")
    )
    non_last = out.join(
        last_seq,
        (F.col("user_id") == F.col("k")) & (F.col("batch_seq") == F.col("last")),
        "left_anti",
    )
    assert non_last.filter(F.col("batch_size") != 64).count() == 0

    # Contiguous sequence numbers: max_seq + 1 == number of batches.
    per_key = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("batch_seq").alias("mx")
    )
    assert per_key.filter(F.col("mx") + 1 != F.col("n")).count() == 0


class _FakeGroupState:
    """Minimal GroupState double for driving the batcher function."""

    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self._v = value
        self.hasTimedOut = timed_out
        self._wm = watermark_ms
        self.timeout = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def test_timeout_flush_preserves_batch_sequence():
    """r5 review finding: a timeout flush must NOT reset the per-key
    sequence — a key that receives more elements after an idle-period
    flush continues with the next seq instead of reusing 0 (which would
    break the contiguous-seq contract and collide batch ids)."""
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.batching import _make_batcher

    batcher = _make_batcher(4)

    # timeout with a partial remainder at seq 1: flush seq 1, keep seq 2
    st = _FakeGroupState(value=(1, [7, 8]), timed_out=True)
    out = list(batcher((5,), iter([]), st))
    assert len(out) == 1
    assert out[0]["batch_seq"].tolist() == [1]
    assert out[0]["element_ids"].tolist() == [[7, 8]]
    assert st.get == (2, [])

    # the key comes back with a full batch: seq CONTINUES at 2
    pdf = pd.DataFrame({"element_id": [10, 11, 12, 13]})
    st.hasTimedOut = False
    out2 = list(batcher((5,), iter([pdf]), st))
    assert out2[0]["batch_seq"].tolist() == [2]
    assert st.get == (3, [])

    # timeout with an EMPTY buffer also keeps the counter
    st2 = _FakeGroupState(value=(3, []), timed_out=True)
    assert list(batcher((5,), iter([]), st2)) == []
    assert st2.get == (3, [])


def test_stale_timer_across_microbatches_flushes_once(spark, tmp_path):
    """The stale-timer interleaving only real micro-batches reach: one file
    per trigger, with pinned ascending mtimes, so event time rises batch
    over batch. From batch 1 on, the previous batch's remainder timer is
    already due while new rows for the key arrive in the same
    micro-batch. batch_size exceeds the input, so every element rides the
    final timer flush: ONE batch holding all six elements, not several
    premature partials (with a seq collision)."""
    import json
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    base = 1704067230  # 2024-01-01 00:00:30 UTC
    now = time.time()
    for k in range(3):
        name = src / f"b{k}.json"
        name.write_text(
            "\n".join(
                json.dumps(
                    {"event_time": base + 100 * k + i, "user_id": 7,
                     "event_id": 10 * k + i}
                )
                for i in range(2)
            )
            + "\n"
        )
        os.utime(name, (now + k * 10, now + k * 10))

    stream = (
        spark.readStream.schema(
            "event_time BIGINT, user_id BIGINT, event_id BIGINT"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .select(
            F.timestamp_seconds("event_time").alias("ts"), "user_id", "event_id"
        )
        .withWatermark("ts", "0 seconds")
    )
    q = (
        group_into_batches(stream, batch_size=100)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["batch_seq"], r["batch_size"], sorted(r["element_ids"]))
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [(7, 0, 6, [0, 1, 10, 11, 20, 21])]


def test_null_element_ids_are_dropped():
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.batching import _make_batcher

    batcher = _make_batcher(3)
    st = _FakeGroupState()
    pdf = pd.DataFrame({"element_id": [1.0, float("nan"), 2.0, 3.0]})
    out = list(batcher((5,), iter([pdf]), st))
    assert out[0]["element_ids"].tolist() == [[1, 2, 3]]


def test_batch_size_validated_at_driver(spark):
    import pytest

    from tutorial_apache_beam_spark.streaming.batching import (
        group_into_batches,
    )

    sdf = spark.readStream.format("rate").load()
    for bad in (0, -1):
        with pytest.raises(ValueError, match="batch_size"):
            group_into_batches(
                sdf, key_col="value", element_col="value", batch_size=bad
            )


def test_duration_parser_accepts_compound_and_week_intervals():
    from tutorial_apache_beam_spark.streaming.stateful import _duration_ms

    assert _duration_ms("1 minute 30 seconds") == 90_000
    assert _duration_ms("1 week") == 604_800_000
    assert _duration_ms("2 Hours") == 7_200_000
    import pytest

    with pytest.raises(ValueError, match="unsupported interval unit"):
        _duration_ms("3 fortnights")
    with pytest.raises(ValueError, match="cannot parse"):
        _duration_ms("90")
    # Non-positive TOTALS fail loudly (window math / TTL consumers need
    # strictly positive), but watermark components may opt into exactly
    # 0; negative components are fine while the sum stays positive —
    # F.window accepts '1 minute -30 seconds', so this parser must too
    # (one grammar across both layers).
    with pytest.raises(ValueError, match="strictly positive"):
        _duration_ms("0 seconds")
    with pytest.raises(ValueError, match="strictly positive"):
        _duration_ms("-5 minutes")
    with pytest.raises(ValueError, match="strictly positive"):
        _duration_ms("-5 minutes", allow_zero=True)
    assert _duration_ms("0 seconds", allow_zero=True) == 0
    assert _duration_ms("1 minute -30 seconds") == 30_000


def test_watermark_components_accept_zero_intervals():
    """'0 seconds' skew/lateness is a legitimate watermark spec even
    though windows/TTLs reject non-positive intervals."""
    from tutorial_apache_beam_spark.plans.pipeline import WindowingSpec
    from tutorial_apache_beam_spark.streaming.demos import _total_delay

    spec = WindowingSpec(
        ts_col="ts", allowed_skew="0 seconds", allowed_lateness="1 minute"
    )
    assert spec.watermark_delay_seconds() == 60
    assert _total_delay("0 seconds", "0 seconds") == 0


def test_pane_operators_require_utc_session(spark):
    import pytest

    from tutorial_apache_beam_spark.streaming.stateful import (
        discarding_pane_counts,
    )

    sdf = spark.readStream.format("rate").load().withColumnRenamed(
        "timestamp", "ts"
    ).withColumn("user_id", F.lit(1))
    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        with pytest.raises(ValueError, match="session.timeZone"):
            discarding_pane_counts(sdf)
    finally:
        spark.conf.set(tz_key, old)
    # UTC session builds fine
    assert discarding_pane_counts(sdf) is not None
