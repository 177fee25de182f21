"""Beam discarding-panes parity: deltas per firing, panes sum to totals."""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tutorial_apache_beam_spark.streaming.stateful import (
    discarding_pane_aggregate,
    discarding_pane_counts,
)

BASE_EPOCH = 1704067230  # 2024-01-01 00:00:30 UTC
RAW_SCHEMA = "event_time BIGINT, user_id BIGINT"


def _write(src_dir, name, rows):
    (src_dir / name).write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )


def _write_ordered(src_dir, files):
    """Write `files` ([(name, rows)]) with pinned ascending mtimes: the file
    source orders by modification time, so with maxFilesPerTrigger=1 each
    file is its own micro-batch, in list order."""
    now = time.time()
    for k, (name, rows) in enumerate(files):
        _write(src_dir, name, rows)
        os.utime(src_dir / name, (now + k * 10, now + k * 10))


def _run(spark, src, ckpt, sink, op=discarding_pane_counts, one_file_per_batch=False):
    """availableNow run into a parquet sink (memory sinks can't recover
    from a checkpoint across restarts); returns the full sink contents."""
    reader = spark.readStream.schema(RAW_SCHEMA)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    stream = reader.json(str(src)).select(
        F.timestamp_seconds("event_time").alias("ts"), "user_id"
    )
    out = op(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(sink))


def _points_panes(agg):
    """`discarding_pane_aggregate` for `agg` over user_id; sum panes add
    `points` = seconds past BASE_EPOCH + 1, so each event weighs
    differently and a wrong delta cannot pass as a count."""
    if agg == "count":
        return lambda stream: discarding_pane_aggregate(stream, agg="count")
    return lambda stream: discarding_pane_aggregate(
        stream.withColumn(
            "points", F.unix_timestamp("ts") - BASE_EPOCH + 1
        ),
        agg=agg, value_col="points",
    )


@pytest.mark.parametrize(
    "agg, firing1, firing2",
    # b0 holds seconds 0-2 (points 1+2+3), b1 seconds 10-11 (11+12).
    [("count", 3, 2), ("sum", 6, 23)],
    ids=["count", "sum"],
)
def test_discarding_panes_emit_deltas_and_sum_to_total(
    spark, tmp_path, agg, firing1, firing2
):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    sink = tmp_path / "sink"
    op = _points_panes(agg)
    vcol = "pane_count" if agg == "count" else "pane_value"

    # Firing 1: 3 events for user 7 in window [00:00, 00:01).
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH + i, "user_id": 7} for i in range(3)
    ])
    rows1 = [r.asDict() for r in _run(spark, src, ckpt, sink, op=op).collect()]
    assert len(rows1) == 1
    assert rows1[0][vcol] == firing1 and rows1[0]["pane_index"] == 0

    # Firing 2 after a stop and restart from the checkpoint: 2 MORE
    # events in the same window (late but window still open) → a second
    # pane with only the delta, pane_index 1.
    _write(src, "b1.json", [
        {"event_time": BASE_EPOCH + 10 + i, "user_id": 7} for i in range(2)
    ])
    all_rows = [
        r.asDict() for r in _run(spark, src, ckpt, sink, op=op).collect()
    ]
    rows2 = [r for r in all_rows if r["pane_index"] == 1]
    assert len(all_rows) == 2 and len(rows2) == 1
    assert rows2[0][vcol] == firing2

    # Beam invariant: discarding panes sum to the accumulating total.
    assert sum(r[vcol] for r in all_rows) == firing1 + firing2

    # Restart contract: the stop/restart above continued the window's
    # pane ordinals from checkpointed state (0 then 1, not 0 twice), and
    # the sink's per-window totals equal an uninterrupted drain of both
    # files.
    assert sorted(r["pane_index"] for r in all_rows) == [0, 1]
    src2 = tmp_path / "src2"
    src2.mkdir()
    for name in ("b0.json", "b1.json"):
        (src2 / name).write_text((src / name).read_text())
    uninterrupted = _run(
        spark, src2, tmp_path / "ckpt2", tmp_path / "sink2", op=op
    )

    def totals(rows):
        acc = {}
        for r in rows:
            key = (r["window_start"], r["user_id"])
            acc[key] = acc.get(key, 0) + r[vcol]
        return acc

    assert totals(all_rows) == totals(uninterrupted.collect())


def test_pane_ordinals_across_real_microbatches(spark, tmp_path):
    """Firings in SEPARATE micro-batches of one drain (one file per
    trigger): window 00:00 fires for user 7 in batches 0 and 1 and for
    user 9 in batches 1 and 2 with rising ordinals, and a second window
    opens for user 7 in batch 2, after the first window's idle timer was
    re-armed."""
    src = tmp_path / "src"
    src.mkdir()
    _write_ordered(src, [
        ("b0.json", [
            {"event_time": BASE_EPOCH + i, "user_id": 7} for i in range(3)
        ]),
        ("b1.json", [
            {"event_time": BASE_EPOCH + 10 + i, "user_id": 7}
            for i in range(2)
        ] + [
            {"event_time": BASE_EPOCH + 5, "user_id": 9}
        ]),
        ("b2.json", [
            {"event_time": BASE_EPOCH + 60, "user_id": 7},
            {"event_time": BASE_EPOCH + 11, "user_id": 9},
        ]),
    ])
    out = _run(
        spark, src, tmp_path / "ckpt", tmp_path / "sink",
        one_file_per_batch=True,
    )
    rows = sorted(
        (r["window_start"].isoformat(), r["user_id"], r["pane_count"],
         r["pane_index"])
        for r in out.collect()
    )
    assert rows == [
        ("2024-01-01T00:00:00", 7, 2, 1),
        ("2024-01-01T00:00:00", 7, 3, 0),
        ("2024-01-01T00:00:00", 9, 1, 0),
        ("2024-01-01T00:00:00", 9, 1, 1),
        ("2024-01-01T00:01:00", 7, 1, 0),
    ]


def test_panes_fire_below_watermark_with_realistic_delay(spark, tmp_path):
    """Pane emissions legitimately carry window/session starts older than
    the current watermark (a straddling fixed window; a session extended
    near its end); Beam panes are not late rows. With a realistic
    2-minute delay, once the watermark has passed the fired start, both
    pane shapes must still drain and emit every row."""
    # Session: one session from 0 s with a 3-minute gap. After b0 the
    # watermark is 170 s - 120 s = 50 s; b1's event at 175 s extends the
    # session and fires a pane whose start (0 s) is below the watermark.
    src = tmp_path / "src_s"
    src.mkdir()

    def sessions(stream):
        return discarding_pane_aggregate(
            stream, key_cols=["user_id"], agg="count",
            session_gap="3 minutes", watermark_delay="2 minutes",
        )

    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH + 0, "user_id": 7},
        {"event_time": BASE_EPOCH + 170, "user_id": 7},
    ])
    _run(spark, src, tmp_path / "ck_s", tmp_path / "out_s", op=sessions)
    _write(src, "b1.json", [{"event_time": BASE_EPOCH + 175, "user_id": 7}])
    out = _run(spark, src, tmp_path / "ck_s", tmp_path / "out_s", op=sessions)
    assert sorted((r["pane_count"], r["pane_index"]) for r in out.collect()) == [
        (1, 1), (2, 0),
    ]

    # Fixed: after b0 the watermark is 200 s - 120 s = 80 s; b1's event at
    # 90 s fires window [60 s, 120 s), whose start is below the watermark.
    src = tmp_path / "src_f"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH + 0, "user_id": 7},
        {"event_time": BASE_EPOCH + 200, "user_id": 7},
    ])
    _run(spark, src, tmp_path / "ck_f", tmp_path / "out_f")
    _write(src, "b1.json", [{"event_time": BASE_EPOCH + 90, "user_id": 7}])
    out = _run(spark, src, tmp_path / "ck_f", tmp_path / "out_f")
    assert sum(r["pane_count"] for r in out.collect()) == 3


def test_single_run_panes_equal_totals(spark, tmp_path):
    """With all data in one firing, pane counts == accumulated counts."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH + u * 3 + i, "user_id": 100 + u}
        for u in range(3)
        for i in range(u + 1)
    ])
    out = _run(spark, src, tmp_path / "ckpt", tmp_path / "sink")
    got = {r.user_id: (r.pane_count, r.pane_index) for r in out.collect()}
    assert got == {100: (1, 0), 101: (2, 0), 102: (3, 0)}


class _FakeState:
    """Minimal GroupState double capturing timer arming and removal."""

    def __init__(self, watermark_ms=0):
        self.exists = False
        self.hasTimedOut = False
        self._value = None
        self.removed = False
        self.timeout_ts = None
        self._wm = watermark_ms

    @property
    def get(self):
        return self._value

    def update(self, v):
        self.exists = True
        self._value = v

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts

    def getCurrentWatermarkMs(self):
        return self._wm


def test_emit_pane_arms_event_time_timer_and_cleans_up():
    """Two keys in one bucket call: pane ordinals are independent per
    key, the bucket arms ONE timer at the newest window end across its
    keys, and pruning drops closed (key, window) entries one by one."""
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.stateful import (
        _duration_ms,
        _make_bucket_pane_emitter,
    )

    fn = _make_bucket_pane_emitter(
        _duration_ms("1 minute"), (("user_id", "int"),), "count", None,
        "int", "pane_count",
    )
    w1 = pd.Timestamp("2024-01-01 00:05:00")
    w2 = pd.Timestamp("2024-01-01 00:07:00")
    w3 = pd.Timestamp("2024-01-01 00:09:00")

    def ms(w):
        return w.value // 1_000_000

    def entries(st):
        keys, wins, idxs = st.get
        return {(k, w): i for k, w, i in zip(keys, wins, idxs)}

    bucket = (0,)
    state = _FakeState(watermark_ms=0)
    batch = pd.DataFrame(
        {
            "window_start": [w1] * 3 + [w2] + [w1, w3],
            "user_id": [7] * 4 + [8] * 2,
        }
    )

    (out,) = list(fn(bucket, iter([batch]), state))
    by_pane = {(r.user_id, r.window_start): r for r in out.itertuples()}
    assert by_pane[7, w1].pane_count == 3 and by_pane[7, w1].pane_index == 0
    assert by_pane[7, w2].pane_count == 1 and by_pane[7, w2].pane_index == 0
    assert by_pane[8, w1].pane_count == 1 and by_pane[8, w1].pane_index == 0
    assert by_pane[8, w3].pane_count == 1 and by_pane[8, w3].pane_index == 0
    # State holds every open (key, window) entry's next pane index.
    assert entries(state) == {
        (7, ms(w1)): 1, (7, ms(w2)): 1, (8, ms(w1)): 1, (8, ms(w3)): 1,
    }
    # ONE timer per bucket, armed at the NEWEST window end across its
    # keys (key 8's w3), so the whole row is dropped once the watermark
    # passes it instead of growing forever.
    assert state.timeout_ts == ms(w3) + 60_000

    # A later firing for (7, w1) increments only that entry's pane
    # index; key 8's first w2 pane starts at 0 although (7, w2) fired.
    batch2 = pd.DataFrame(
        {"window_start": [w1, w1, w2], "user_id": [7, 7, 8]}
    )
    (out2,) = list(fn(bucket, iter([batch2]), state))
    got2 = {
        (r.user_id, r.window_start): r.pane_index for r in out2.itertuples()
    }
    assert got2 == {(7, w1): 1, (8, w2): 0}

    # Windows whose end passed the watermark are pruned inline, entry by
    # entry: both keys' w1 go, their later windows stay.
    pruned_state = _FakeState(watermark_ms=ms(w1) + 60_000)
    pruned_state.update(state.get)
    list(
        fn(
            bucket,
            iter([pd.DataFrame({"window_start": [w2], "user_id": [7]})]),
            pruned_state,
        )
    )
    assert entries(pruned_state) == {
        (7, ms(w2)): 2, (8, ms(w2)): 1, (8, ms(w3)): 1,
    }

    # Spark guarantee: timestamp must beat the current watermark.
    late_state = _FakeState(watermark_ms=10**15)
    list(fn(bucket, iter([batch]), late_state))
    assert late_state.timeout_ts == 10**15 + 1

    # Timed-out invocation removes state and emits nothing.
    state.hasTimedOut = True
    assert list(fn(bucket, iter([]), state)) == []
    assert state.removed


def test_emit_pane_output_contract_vectorized_path():
    """Pin the r6 vectorized counting path's output contract: ascending
    window order regardless of input order (groupby(sort=True) parity),
    exact dtypes for the declared OUTPUT_SCHEMA, multi-frame concat, and
    robustness to non-nanosecond pandas datetime units (pandas 2 can
    deliver Arrow batches as datetime64[us])."""
    import numpy as np
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.stateful import (
        _duration_ms,
        _make_bucket_pane_emitter,
    )

    fn = _make_bucket_pane_emitter(
        _duration_ms("1 minute"), (("user_id", "int"),), "count", None,
        "int", "pane_count",
    )
    w1 = pd.Timestamp("2024-01-01 00:05:00")
    w2 = pd.Timestamp("2024-01-01 00:06:00")
    w3 = pd.Timestamp("2024-01-01 00:07:00")

    # Shuffled window order, split across two frames, in MICROSECOND unit.
    f1 = pd.DataFrame(
        {
            "window_start": pd.Series([w3, w1, w3]).astype("datetime64[us]"),
            "user_id": [7] * 3,
        }
    )
    f2 = pd.DataFrame(
        {
            "window_start": pd.Series([w2, w1]).astype("datetime64[us]"),
            "user_id": [7] * 2,
        }
    )
    state = _FakeState(watermark_ms=0)
    (out,) = list(fn((0,), iter([f1, f2]), state))

    # Ascending window order — what groupby(sort=True) produced before.
    assert list(out["window_start"]) == [w1, w2, w3]
    assert list(out["pane_count"]) == [2, 1, 2]
    assert list(out["pane_index"]) == [0, 0, 0]
    assert list(out["user_id"]) == [7, 7, 7]

    # Dtypes must match OUTPUT_SCHEMA (TIMESTAMP, BIGINT, BIGINT, INT) so
    # Arrow needs no unsafe cast.
    assert out["window_start"].dtype == np.dtype("datetime64[ns]")
    assert out["user_id"].dtype == np.dtype("int64")
    assert out["pane_count"].dtype == np.dtype("int64")
    assert out["pane_index"].dtype == np.dtype("int32")

    # Second firing for one window continues its pane index from state.
    (out2,) = list(
        fn(
            (0,),
            iter([pd.DataFrame({"window_start": [w2], "user_id": [7]})]),
            state,
        )
    )
    assert list(out2["pane_index"]) == [1]


def test_emit_pane_null_window_dropped_null_key_passes_through():
    """Groupby-path semantics the vectorized body must keep: a NaT
    window_start row has no window and is dropped (pandas groupby
    excluded NaT keys), never counted or written into win_ms state; a
    null grouping key emits rows with null user_id instead of crashing
    the Python worker."""
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.stateful import (
        _duration_ms,
        _make_bucket_pane_emitter,
    )

    fn = _make_bucket_pane_emitter(
        _duration_ms("1 minute"), (("user_id", "int"),), "count", None,
        "int", "pane_count",
    )
    w1 = pd.Timestamp("2024-01-01 00:05:00")

    # NaT rows silently dropped; only the real window is counted/stored.
    state = _FakeState(watermark_ms=0)
    batch = pd.DataFrame(
        {"window_start": [w1, pd.NaT, w1, pd.NaT], "user_id": [7] * 4}
    )
    (out,) = list(fn((0,), iter([batch]), state))
    assert list(out["window_start"]) == [w1]
    assert list(out["pane_count"]) == [2]
    assert list(state.get[1]) == [w1.value // 1_000_000]

    # All-NaT batch: empty output frame, no state entries invented.
    state2 = _FakeState(watermark_ms=0)
    batch2 = pd.DataFrame({"window_start": [pd.NaT], "user_id": [7]})
    outs2 = list(fn((0,), iter([batch2]), state2))
    assert len(outs2) == 1 and len(outs2[0]) == 0
    assert list(state2.get[1]) == []

    # Null grouping key: null user_id rows, like the pre-vectorized path.
    state3 = _FakeState(watermark_ms=0)
    batch3 = pd.DataFrame({"window_start": [w1, w1], "user_id": [None, None]})
    (out3,) = list(fn((0,), iter([batch3]), state3))
    assert list(out3["pane_count"]) == [2]
    assert out3["user_id"].iloc[0] is None


def test_count_panes_differential_vs_groupby_reference():
    """Property check: the count form of _bucket_panes must agree with the
    pre-vectorization groupby(sort=True) reference on randomized inputs —
    window sets with duplicates, NaT holes, arbitrary order, any pandas
    datetime unit, and arbitrary pre-existing pane-index state."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tutorial_apache_beam_spark.streaming.stateful import _bucket_panes

    base_ms = int(pd.Timestamp("2024-01-01").value // 1_000_000)

    def reference(pdf, open_windows, user_id):
        counts = pdf.groupby("window_start", sort=True).size()
        out = {"window_start": [], "user_id": [], "pane_count": [], "pane_index": []}
        for window_start, cnt in counts.items():
            w_ms = int(pd.Timestamp(window_start).value // 1_000_000)
            idx = open_windows.get(w_ms, 0)
            out["window_start"].append(pd.Timestamp(window_start))
            out["user_id"].append(user_id)
            out["pane_count"].append(int(cnt))
            out["pane_index"].append(idx)
            open_windows[w_ms] = idx + 1
        return out

    @given(
        mins=st.lists(
            st.one_of(st.integers(min_value=0, max_value=8), st.none()),
            min_size=1,
            max_size=40,
        ),
        state_idx=st.dictionaries(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=1, max_value=5),
            max_size=4,
        ),
        unit=st.sampled_from(["ns", "us", "ms"]),
    )
    @settings(max_examples=150, deadline=None)
    def check(mins, state_idx, unit):
        ts = [
            pd.NaT if m is None else pd.Timestamp(base_ms + m * 60_000, unit="ms")
            for m in mins
        ]
        pdf = pd.DataFrame(
            {
                "window_start": pd.Series(ts).astype(f"datetime64[{unit}]"),
                "user_id": [7] * len(ts),
            }
        )
        state_b = {base_ms + m * 60_000: i for m, i in state_idx.items()}
        state_a = {(7, w): i for w, i in state_b.items()}

        got = _bucket_panes(pdf, state_a, (("user_id", "int"),), agg="count")
        want = reference(pdf, state_b, 7)

        assert [pd.Timestamp(t) for t in got["window_start"]] == want["window_start"]
        assert list(got["pane_count"]) == want["pane_count"]
        assert list(got["pane_index"]) == want["pane_index"]
        assert list(got["user_id"]) == want["user_id"]
        # identical post-call pane-index state
        assert state_a == {(7, w): i for w, i in state_b.items()}

    check()


@pytest.mark.parametrize(
    "key_cols", [["user_id"], ["user_id", "device"]], ids=["bigint", "composite"]
)
def test_many_keys_restart_matches_pandas_reference(spark, tmp_path, key_cols):
    """300 users share the hash buckets (several keys per bucket), over
    three one-file micro-batches whose windows span the files, with one
    null-key row, and a stop plus restart from the checkpoint after the
    first file. The sink must equal a pandas reference: per file, the
    count of each (window, keys) group, fired with ordinal = how many
    earlier files held that group."""
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.stateful import (
        BUCKET_COL,
        PANE_BUCKETS,
        _with_pane_bucket,
    )

    devices = ["web", "ios", "android"]
    files = []
    for f in range(3):
        rows = [
            {
                # 90 seconds from 00:00:30: windows 00:00 and 00:01 both
                # collect rows in every file, and nothing is ever late.
                "event_time": BASE_EPOCH + (u * 7 + f * 13 + i * 29) % 90,
                "user_id": u,
                "device": devices[(u + i) % 3],
            }
            for u in range(300)
            for i in range(1 + (u + f) % 3)
        ]
        if f == 0:
            rows.append(
                {"event_time": BASE_EPOCH, "user_id": None, "device": "web"}
            )
        files.append((f"b{f}.json", rows))

    schema = "event_time BIGINT, user_id BIGINT, device STRING"
    src, ckpt, sink = tmp_path / "src", tmp_path / "ckpt", tmp_path / "sink"
    src.mkdir()

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
            .select(F.timestamp_seconds("event_time").alias("ts"), *key_cols)
        )
        q = (
            discarding_pane_aggregate(stream, key_cols=key_cols)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_ordered(src, files[:1])
    drain()  # stop after the first file; restart from its checkpoint
    _write_ordered(src, files[1:])
    drain()

    out = spark.read.parquet(str(sink)).select(
        F.unix_seconds("window_start").alias("w"), *key_cols,
        "pane_count", "pane_index",
    )
    got = Counter(tuple(r) for r in out.collect())

    ref = pd.DataFrame(
        [dict(r, file=f) for f, (_, rows) in enumerate(files) for r in rows]
    )
    ref["w"] = ref["event_time"] // 60 * 60
    per_file = (
        ref.groupby(["w", *key_cols, "file"], dropna=False)
        .size()
        .rename("pane_count")
        .reset_index()
        .sort_values("file", kind="stable")
    )
    per_file["pane_index"] = per_file.groupby(
        ["w", *key_cols], dropna=False
    ).cumcount()
    want = Counter(
        tuple(
            None if pd.isna(r[c]) else (r[c] if c == "device" else int(r[c]))
            for c in ["w", *key_cols, "pane_count", "pane_index"]
        )
        for _, r in per_file.iterrows()
    )
    assert got == want
    # Groups fired in all three files, across the restart.
    assert max(t[-1] for t in want) == 2
    # Several keys really share each bucket.
    keys = ref[key_cols].dropna().drop_duplicates().astype({"user_id": "int64"})
    per_bucket = (
        _with_pane_bucket(spark.createDataFrame(keys), key_cols)
        .groupBy(BUCKET_COL)
        .count()
        .collect()
    )
    assert len(per_bucket) <= PANE_BUCKETS
    assert len(keys) / len(per_bucket) > 3
