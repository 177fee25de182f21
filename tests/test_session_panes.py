"""SESSION-window discarding panes (r12 — the last pane-surface
refusal, VERDICT r11 item 1): Beam's `Sessions.withGapDuration` composed
with `discardingFiredPanes` (reference Demo2.java:149-157 composability
bar), as a keyed interval-state operator.

Three layers:
- e2e replays through `discarding_pane_aggregate(session_gap=...)` with
  multi-batch out-of-order input, covering the delta contract, the
  cross-batch session MERGE (pane ordinal inherits the earliest-start
  constituent), and backward start extension;
- the JVM accumulating twin (`F.session_window` under update mode);
- unit-level `_session_panes` invariant checks (no Spark): random
  batch splits against a pure-pandas sessionization reference.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import python_plan_nodes
from tutorial_apache_beam_spark.streaming.stateful import (
    _pane_plan,
    _session_panes,
    accumulating_pane_aggregate,
    discarding_pane_aggregate,
)

BASE_EPOCH = 1704067230  # 2024-01-01 00:00:30 UTC
RAW_SCHEMA = "event_time BIGINT, user_id BIGINT, points BIGINT"
GAP_S = 60


def _write(src_dir, name, rows):
    (src_dir / name).write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )


def _stream(spark, src):
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .json(str(src))
        .select(
            F.timestamp_seconds("event_time").alias("ts"),
            "user_id",
            "points",
        )
    )


def _drain(out, ckpt, sink, spark):
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


def _ev(t, user, points=1):
    return {"event_time": BASE_EPOCH + t, "user_id": user, "points": points}


def test_session_panes_single_batch(spark, tmp_path):
    """One batch, two sessions per key: one pane each at ordinal 0,
    window_start = session start, count = session size."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        _ev(0, 7), _ev(30, 7), _ev(45, 7),     # session [0, 105)
        _ev(200, 7),                            # session [200, 260)
        _ev(10, 8), _ev(70, 8),                 # session [10, 130)
    ])
    out = discarding_pane_aggregate(
        _stream(spark, src), key_cols=["user_id"], agg="count",
        session_gap="1 minute",
    )
    rows = sorted(
        (r["user_id"], r["window_start"].timestamp() - BASE_EPOCH,
         r["pane_count"], r["pane_index"])
        for r in _drain(out, tmp_path / "ckpt", tmp_path / "sink",
                        spark).collect()
    )
    assert rows == [(7, 0.0, 3, 0), (7, 200.0, 1, 0), (8, 10.0, 2, 0)]


def test_session_pane_deltas_merge_and_backward_extension(spark, tmp_path):
    """Multi-batch replay across a session merge:

    - key 7: batch 1 extends an open session → delta pane, ordinal 1;
    - key 8: batch-1 event bridges TWO fired sessions → one pane whose
      ordinal continues the EARLIEST-START constituent's (the r12
      pane-identity rule), and state merges to one session;
    - key 9: batch-1 event EARLIER than the open session's start →
      window_start moves backwards, ordinal continues.

    Watermark delay is huge so nothing is late-filtered — the merge
    semantics, not the lateness rule, are under test.
    """
    src = tmp_path / "src"
    src.mkdir()

    def run():
        out = discarding_pane_aggregate(
            _stream(spark, src), key_cols=["user_id"], agg="count",
            session_gap="1 minute", watermark_delay="30 days",
        )
        return _drain(out, tmp_path / "ckpt", tmp_path / "sink", spark)

    _write(src, "b0.json", [
        _ev(0, 7), _ev(10, 7),         # [0, 70)
        _ev(0, 8), _ev(100, 8),        # [0, 60) and [100, 160)
        _ev(60, 9),                    # [60, 120)
    ])
    first = {
        (r["user_id"], r["window_start"].timestamp() - BASE_EPOCH)
        for r in run().collect()
    }
    assert first == {(7, 0.0), (8, 0.0), (8, 100.0), (9, 60.0)}

    _write(src, "b1.json", [
        _ev(50, 7),     # extends [0,70) → delta pane ordinal 1
        _ev(55, 8),     # [55,115) bridges [0,60) and [100,160)
        _ev(20, 9),     # [20,80) extends [60,120) BACKWARDS
    ])
    rows = [r.asDict() for r in run().collect()]
    second = sorted(
        (r["user_id"], r["window_start"].timestamp() - BASE_EPOCH,
         r["pane_count"], r["pane_index"])
        for r in rows
        if r["pane_index"] >= 1
    )
    assert second == [
        (7, 0.0, 1, 1),    # delta-only count, same identity
        (8, 0.0, 1, 1),    # merged session inherits earliest-start's
        (9, 20.0, 1, 1),   # start moved earlier, ordinal continued
    ]
    # Count panes always sum to the accumulated totals (Beam invariant).
    totals = {}
    for r in rows:
        totals[r["user_id"]] = totals.get(r["user_id"], 0) + r["pane_count"]
    assert totals == {7: 3, 8: 3, 9: 2}


def test_session_panes_sum_and_mean(spark, tmp_path):
    """Value combiners over sessions: sum is BIGINT per session, mean is
    pane-local DOUBLE; null points neither aggregate nor extend."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        _ev(0, 7, 4), _ev(30, 7, 9),
        {"event_time": BASE_EPOCH + 300, "user_id": 7, "points": None},
        _ev(400, 7, 2),
    ])
    for agg, want in (("sum", [13, 2]), ("mean", [6.5, 2.0])):
        out = discarding_pane_aggregate(
            _stream(spark, src), key_cols=["user_id"],
            value_col="points", agg=agg, session_gap="1 minute",
        )
        got = sorted(
            (r["window_start"].timestamp() - BASE_EPOCH, r["pane_value"])
            for r in _drain(
                out, tmp_path / f"ck_{agg}", tmp_path / f"s_{agg}", spark
            ).collect()
        )
        # the all-null row at t=300 forms NO session (contract: null
        # values don't extend extent) — only [0,90) and [400,460) exist
        assert [v for _, v in got] == want, agg
        assert [t for t, _ in got] == [0.0, 400.0], agg


def test_accumulating_session_panes_jvm_path(spark, tmp_path):
    """`accumulating_pane_aggregate(session_gap=...)` = the JVM's native
    merging-session aggregation. Spark refuses UPDATE output for merging
    windows, so the session accumulating path drains in APPEND mode:
    one firing per session CLOSED by the final watermark, carrying the
    accumulated total (Beam's accumulatingFiredPanes under the default
    AfterWatermark trigger); pane_index NULL by contract."""
    from tutorial_apache_beam_spark.streaming.replay import (
        run_stream_to_memory,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        _ev(0, 7), _ev(30, 7), _ev(200, 7), _ev(10, 8),
    ])
    out = accumulating_pane_aggregate(
        _stream(spark, src), key_cols=["user_id"], agg="count",
        session_gap="1 minute", watermark_delay="0 seconds",
    )
    rows = sorted(
        (r["user_id"], r["window_start"].timestamp() - BASE_EPOCH,
         r["pane_count"], r["pane_index"])
        for r in run_stream_to_memory(
            out, spark, output_mode="append"
        ).collect()
    )
    # final watermark = BASE+200: sessions [0,90) and [10,70) are
    # closed and fire; [200,260) is still open and stays withheld
    assert rows == [(7, 0.0, 2, None), (8, 10.0, 1, None)]


def test_session_and_slide_refuse(spark):
    df = spark.createDataFrame(
        [(1,)], "user_id BIGINT"
    ).withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="mutually exclusive"):
        _pane_plan(
            df, "ts", ["user_id"], "1 minute", "30 seconds", "count",
            None, "t", "2 minutes",
        )


# --- unit layer: _session_panes against a pandas reference ------------------


def _reference_sessions(ts_list, gap_ms):
    """Pure-python sessionization of ALL events: [(start, end, n)]."""
    out = []
    for t in sorted(ts_list):
        if out and t <= out[-1][1]:
            out[-1][1] = max(out[-1][1], t + gap_ms)
            out[-1][2] += 1
        else:
            out.append([t, t + gap_ms, 1])
    return out


def _pdf(ts_us):
    # unit layer works in epoch MICROSECONDS — the precision the session
    # body itself uses (Spark timestamp precision)
    return pd.DataFrame(
        {"ts": np.array(ts_us, dtype="int64").astype("datetime64[us]")}
    )


KEY = (7,)
SPECS = (("user_id", "int"),)


GAP_US = 60_000_000  # 1 minute


def _emit(ts_us, sessions):
    return _session_panes(
        _pdf(ts_us), sessions, KEY, SPECS, "count", None, "int",
        "pane_count", GAP_US, "ts",
    )


def test_unit_gap_boundary_merges_exactly_at_gap():
    """Events exactly `gap` apart share a session (diff > gap breaks —
    Spark's own rule, and the DuckDB oracle's `> INTERVAL` test)."""
    sessions = []
    out = _emit([0, GAP_US], sessions)
    assert len(out) == 1 and out["pane_count"].iloc[0] == 2
    assert sessions == [[0, 2 * GAP_US, 1]]
    sessions2 = []
    out2 = _emit([0, GAP_US + 1], sessions2)
    assert len(out2) == 2
    assert [s[:2] for s in sessions2] == [
        [0, GAP_US], [GAP_US + 1, 2 * GAP_US + 1]
    ]


def test_unit_random_batches_panes_sum_to_session_totals():
    """Seeded random replays: counts summed over every pane assigned to
    a final (reference) session equal that session's size, ordinals per
    session identity are contiguous from 0, and the post-replay state
    intervals equal the reference sessionization."""
    rng = np.random.default_rng(12)
    for _ in range(25):
        n = int(rng.integers(1, 40))
        ts = rng.integers(0, 10 * GAP_US, size=n).tolist()
        cuts = sorted(
            rng.choice(range(1, n), size=min(3, n - 1), replace=False)
            .tolist()
        ) if n > 1 else []
        batches = np.split(np.array(ts), cuts)
        sessions: list[list] = []
        panes = []
        for b in batches:
            if len(b) == 0:
                continue
            out = _emit(b.tolist(), sessions)
            panes.extend(
                # exact ns → µs (float .timestamp() would truncate)
                (int(r.window_start.value // 1_000), int(r.pane_count))
                for r in out.itertuples()
            )
        ref = _reference_sessions(ts, GAP_US)
        assert [s[:2] for s in sessions] == [r[:2] for r in ref]
        for s, e, size in ref:
            got = sum(c for w, c in panes if s <= w < e)
            assert got == size, (ts, cuts)


def test_unit_watermark_closed_session_boundary():
    """A session whose end EQUALS the watermark is closed (keep rule
    end > wm): an event at exactly that boundary starts a NEW session at
    ordinal 0 — the documented r12 boundary convention."""
    sessions = [[0, GAP_US, 1]]
    # emulate the emitter's inline prune at wm == GAP_US
    wm = GAP_US
    sessions = [s for s in sessions if s[1] > wm]
    out = _emit([GAP_US], sessions)
    assert sessions == [[GAP_US, 2 * GAP_US, 1]]
    assert out["pane_index"].tolist() == [0]


def test_unit_all_invalid_batch_leaves_state_untouched():
    sessions = [[0, GAP_US, 2]]
    out = _session_panes(
        pd.DataFrame({"ts": pd.Series([pd.NaT]), "points": [1.0]}),
        sessions, KEY, SPECS, "sum", "points", "float", "pane_value",
        GAP_US, "ts",
    )
    assert len(out) == 0
    assert sessions == [[0, GAP_US, 2]]
    assert str(out["window_start"].dtype) == "datetime64[ns]"
    assert str(out["pane_value"].dtype) == "float64"


def test_unit_bucket_session_emitter_keys_share_one_state_row():
    """Two keys and a null key in one bucket call: each key sessionizes
    against its own open sessions, the bucket's state row holds every
    (key, session) entry, its ONE timer sits at the newest session end
    across keys (rounded up to the ms), and the watermark prune drops
    closed sessions entry by entry."""
    from tutorial_apache_beam_spark.streaming.stateful import (
        _make_bucket_session_emitter,
    )

    class _State:
        exists, hasTimedOut, timeout_ts = False, False, None

        def __init__(self, wm_ms):
            self.wm_ms = wm_ms

        @property
        def get(self):
            return self.value

        def update(self, v):
            self.exists, self.value = True, v

        def setTimeoutTimestamp(self, ts):
            self.timeout_ts = ts

        def getCurrentWatermarkMs(self):
            return self.wm_ms

    fn = _make_bucket_session_emitter(
        GAP_US, SPECS, "count", None, "int", "pane_count", "ts"
    )

    def batch(rows):
        return pd.DataFrame({
            "ts": np.array([t for t, _ in rows], dtype="int64")
            .astype("datetime64[us]"),
            "user_id": pd.Series([u for _, u in rows], dtype="float64"),
        })

    def entries(st):
        keys, starts, ends, idxs = st.get
        return sorted(
            zip(keys, starts, ends, idxs), key=lambda e: (str(e[0]), e[1])
        )

    state = _State(wm_ms=0)
    (out,) = fn((0,), iter([batch([
        (0, 7), (GAP_US // 2, 7), (0, 9), (5 * GAP_US + 1, 9), (0, None),
    ])]), state)
    got = sorted(
        (
            (None if pd.isna(r.user_id) else int(r.user_id), r.pane_count,
             r.pane_index)
            for r in out.itertuples()
        ),
        key=str,
    )
    assert got == [(7, 2, 0), (9, 1, 0), (9, 1, 0), (None, 1, 0)]
    assert entries(state) == [
        (7, 0, GAP_US // 2 + GAP_US, 1),
        (9, 0, GAP_US, 1),
        (9, 5 * GAP_US + 1, 6 * GAP_US + 1, 1),
        (None, 0, GAP_US, 1),
    ]
    # ONE timer for the bucket: key 9's newest end, rounded UP to the ms.
    assert state.timeout_ts == -(-(6 * GAP_US + 1) // 1000)

    # Watermark at 1.5 gaps closes key 9's first session and the null
    # key's; key 7's session (end 1.5 gaps) is closed too (end == wm).
    # A row for key 9 inside its open session continues ordinal 1.
    pruned = _State(wm_ms=(GAP_US + GAP_US // 2) // 1000)
    pruned.update(state.get)
    (out2,) = fn((0,), iter([batch([(5 * GAP_US + 2, 9)])]), pruned)
    assert out2["pane_index"].tolist() == [1]
    assert entries(pruned) == [(9, 5 * GAP_US + 1, 6 * GAP_US + 2, 2)]


def test_pane_aggregate_routes_session_gap_both_modes(spark, tmp_path):
    """`session_gap=` on both explicit modes: `accumulating_pane_aggregate`
    builds the JVM session aggregation with no Python node in the plan,
    `discarding_pane_aggregate` the keyed interval-state operator as its
    only Python node."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [_ev(0, 7)])
    stream = _stream(spark, src)

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    jvm = accumulating_pane_aggregate(
        stream, key_cols=["user_id"], agg="count", session_gap="1 minute",
    )
    assert "sessionwindow" in plan(jvm).lower().replace("_", "")
    assert "Aggregate" in plan(jvm)
    assert python_plan_nodes(jvm) == []
    py = discarding_pane_aggregate(
        stream, key_cols=["user_id"], agg="count", session_gap="1 minute",
    )
    assert python_plan_nodes(py) == ["FlatMapGroupsInPandasWithState"]
