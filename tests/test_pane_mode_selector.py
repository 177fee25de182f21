"""Pane-path auto-selection by measured key-cardinality cost model
(VERDICT r8 #5): `mode="auto"` takes the applyInPandasWithState fidelity
path only while its per-key Python floor (~0.26 ms x keys x micro-batches,
tools/pane_attrib.py) is trigger-interval noise, and the JVM incremental
aggregation — Demo2's operator, the 100-TB default — past the threshold
or when no cardinality hint exists. Asking for 'discarding' above the
threshold stays honored but WARNS with the measured curve."""

from __future__ import annotations

import json
import warnings

import pytest
from pyspark.sql import functions as F

from tutorial_apache_beam_spark.streaming.stateful import (
    AUTO_KEY_THRESHOLD,
    accumulating_pane_counts,
    pane_counts,
    select_pane_impl,
)

BASE_EPOCH = 1704067230  # 2024-01-01 00:00:30 UTC
RAW_SCHEMA = "event_time BIGINT, user_id BIGINT"


def test_selector_choice_at_both_cardinalities():
    # Low cardinality: fidelity is ~0.4 s/micro-batch at the threshold —
    # auto buys it.
    assert select_pane_impl("auto", expected_keys=1_500) == "discarding"
    assert select_pane_impl("auto", expected_keys=AUTO_KEY_THRESHOLD) == "discarding"
    # High cardinality: the measured per-key floor dominates (15k keys =
    # +3.95 s emitter compute per drain, 150k = 34x wall) — JVM path.
    assert (
        select_pane_impl("auto", expected_keys=AUTO_KEY_THRESHOLD + 1)
        == "accumulating"
    )
    assert select_pane_impl("auto", expected_keys=150_000) == "accumulating"
    # No hint: an unbounded stream's cardinality is unknowable at plan
    # time — auto must take the scale-safe path, never the per-key one.
    assert select_pane_impl("auto") == "accumulating"


def test_explicit_modes_honored_and_priced():
    assert select_pane_impl("accumulating", expected_keys=10) == "accumulating"
    # Explicit fidelity above the threshold is honored but warns with the
    # measured cost model, quoting keys and projected per-batch seconds.
    with pytest.warns(UserWarning, match="per key per micro-batch") as rec:
        assert select_pane_impl("discarding", expected_keys=150_000) == "discarding"
    msg = str(rec[0].message)
    assert "150,000" in msg and "mode='accumulating'" in msg
    # Below the threshold fidelity is free — no warning.
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert select_pane_impl("discarding", expected_keys=100) == "discarding"
    with pytest.raises(ValueError, match="unknown pane mode"):
        select_pane_impl("bogus")


def _stream(spark, src):
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .json(str(src))
        .select(F.timestamp_seconds("event_time").alias("ts"), "user_id")
    )


def test_auto_plan_switches_operator(spark, tmp_path):
    """The selector's choice must show in the PLAN: auto/low builds the
    Python stateful operator, auto/high and auto/no-hint build the JVM
    streaming aggregation with no Python node."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps({"event_time": BASE_EPOCH, "user_id": 7}) + "\n"
    )
    stream = _stream(spark, src)

    low = pane_counts(stream, mode="auto", expected_keys=1_000)
    low_plan = low._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in low_plan

    for kwargs in ({"expected_keys": 10**6}, {}):
        high = pane_counts(stream, mode="auto", **kwargs)
        high_plan = high._jdf.queryExecution().analyzed().toString()
        assert "FlatMapGroupsInPandasWithState" not in high_plan
        assert "Aggregate" in high_plan


def test_accumulating_path_update_mode_semantics(spark, tmp_path):
    """End-to-end on the JVM path: update-mode firings re-emit the
    ACCUMULATED count (Beam accumulatingFiredPanes) and pane_index is
    NULL by contract; the last firing equals the batch total.

    One availableNow run with maxFilesPerTrigger=1 forces two
    micro-batches (memory sinks can't recover a checkpoint across
    restarts); mtimes order the files so firing 1 sees exactly b0."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [{"event_time": BASE_EPOCH + i, "user_id": 7} for i in range(3)]
    rows2 = [{"event_time": BASE_EPOCH + 10 + i, "user_id": 7} for i in range(2)]
    now = time.time()
    for name, rows, age_s in (("b0.json", rows1, 60), ("b1.json", rows2, 0)):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(p, (now - age_s, now - age_s))

    stream = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select(F.timestamp_seconds("event_time").alias("ts"), "user_id")
    )
    sink = f"pane_acc_{tmp_path.name}"
    q = (
        accumulating_pane_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [r.asDict() for r in spark.sql(f"SELECT * FROM {sink}").collect()]
    spark.catalog.dropTempView(sink)

    # Two firings for the same (window, key): the first emitted b0's
    # count, the second the ACCUMULATED total — not the delta.
    assert sorted(r["pane_count"] for r in rows) == [3, 5]
    assert all(r["pane_index"] is None for r in rows)
    assert all(r["user_id"] == 7 for r in rows)
    assert len({r["window_start"] for r in rows}) == 1


def test_pipeline_api_routes_through_selector(spark, tmp_path):
    """r10 (VERDICT r9 item 5): the Beam-facing path — WindowInto(...,
    accumulation=...) + Count.per_key — makes the SAME priced choice as
    the operator layer: auto/low-cardinality builds the Python stateful
    pane operator, auto/high (and auto with no hint) builds the JVM
    streaming aggregation; None keeps the final-result mapping."""
    from tutorial_apache_beam_spark.plans.pipeline import (
        Count,
        FixedWindows,
        Pipeline,
        WindowInto,
        WithTimestamps,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps({"event_time": BASE_EPOCH, "user_id": 7}) + "\n"
    )
    p = Pipeline(spark)

    def build(accumulation, expected_keys=None):
        return (
            p.create(_stream(spark, src))
            .apply("Ts", WithTimestamps("ts"))
            .apply(
                "Win",
                WindowInto(
                    FixedWindows("1 minute"),
                    allowed_lateness="2 minutes",
                    accumulation=accumulation,
                    expected_keys=expected_keys,
                ),
            )
            .apply("Count", Count.per_key("user_id"))
        )

    plan_low = (
        build("auto", 1_000).df._jdf.queryExecution().analyzed().toString()
    )
    assert "FlatMapGroupsInPandasWithState" in plan_low

    for kwargs in ({"expected_keys": 10**6}, {}):
        plan_high = (
            build("auto", **kwargs)
            .df._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert "FlatMapGroupsInPandasWithState" not in plan_high
        assert "Aggregate" in plan_high
        # pane contract holds on the JVM path too
        high = build("auto", **kwargs).df
        assert set(high.columns) == {
            "window_start", "user_id", "pane_count", "pane_index",
        }

    # accumulation=None keeps the classic final-count mapping.
    final = build(None).df
    assert "count" in final.columns and "pane_index" not in final.columns

    # r11 (VERDICT r10 item 5): sliding windows and multi-key compose
    # with pane accumulation — both build real plans.
    from tutorial_apache_beam_spark.plans.pipeline import SlidingWindows

    sliding = (
        p.create(_stream(spark, src))
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(
                SlidingWindows("1 minute", "30 seconds"),
                accumulation="discarding",
            ),
        )
        .apply("Count", Count.per_key("user_id"))
    )
    assert set(sliding.df.columns) == {
        "window_start", "user_id", "pane_count", "pane_index",
    }
    dev_stream = (
        spark.readStream.schema("event_time BIGINT, user_id BIGINT")
        .json(str(src))
        .select(
            F.timestamp_seconds("event_time").alias("ts"),
            "user_id",
            F.lit("mobile").alias("device"),
        )
    )
    multi = (
        p.create(dev_stream)
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(FixedWindows("1 minute"), accumulation="discarding"),
        )
        .apply("Count", Count.per_key("user_id", "device"))
    )
    assert set(multi.df.columns) == {
        "window_start", "user_id", "device", "pane_count", "pane_index",
    }
    # Sessions compose with pane accumulation since r12 (the refusal is
    # narrowed to nothing): 'auto' with no key hint takes the JVM
    # merging-session aggregation, same as the other window fns.
    from tutorial_apache_beam_spark.plans.pipeline import Sessions

    sess = (
        p.create(_stream(spark, src))
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(Sessions("1 minute"), accumulation="auto"),
        )
        .apply("Count", Count.per_key("user_id"))
    )
    plan = sess.df._jdf.queryExecution().analyzed().toString()
    assert "sessionwindow" in plan.lower().replace("_", "")


def test_pane_key_contract_name_and_type(spark, tmp_path):
    """r10 review: (a) both pane paths emit the CALLER's key name, so
    mode='auto' can't change the output schema with the cardinality
    hint; (b) non-integral keys refuse at PLAN time on the discarding
    path (its state schema pins BIGINT — a string key used to crash
    deep in the executor) with the accumulating remediation."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps(
            {"event_time": BASE_EPOCH, "device_id": 7, "word": "w"}
        )
        + "\n"
    )
    stream = (
        spark.readStream.schema(
            "event_time BIGINT, device_id BIGINT, word STRING"
        )
        .json(str(src))
        .select(
            F.timestamp_seconds("event_time").alias("ts"),
            "device_id",
            "word",
        )
    )
    # (a) caller's key name on BOTH paths
    for mode, keys in (("discarding", 10), ("accumulating", 10**6)):
        df = pane_counts(
            stream, key_col="device_id", mode=mode, expected_keys=keys
        )
        assert set(df.columns) == {
            "window_start", "device_id", "pane_count", "pane_index",
        }, mode
    # (b) r11: string keys build real plans on BOTH paths (the general
    # emitter constructs typed key cells; r10's BIGINT-only restriction
    # is lifted); non-(integral|string) keys refuse at plan time.
    disc = pane_counts(stream, key_col="word", mode="discarding",
                       expected_keys=10)
    assert "word" in disc.columns
    acc = pane_counts(stream, key_col="word", mode="accumulating")
    assert "word" in acc.columns
    with pytest.raises(ValueError, match="integral or string"):
        pane_counts(
            stream.withColumn("tskey", F.col("ts")),
            key_col="tskey", mode="discarding", expected_keys=10,
        )
    # (c) reserved key names collide with the pane output schema —
    # refused at plan time (ADVICE r10 item 1).
    renamed = stream.withColumnRenamed("device_id", "pane_index")
    with pytest.raises(ValueError, match="collides with a pane"):
        pane_counts(renamed, key_col="pane_index", mode="discarding",
                    expected_keys=10)


def test_non_count_combiner_refuses_pane_accumulation(spark, tmp_path):
    """Pane semantics exist for Count.per_key only; a Sum downstream of
    WindowInto(accumulation=...) must refuse, not silently emit final
    results that look like panes (r10)."""
    import json as _json

    from tutorial_apache_beam_spark.plans.pipeline import (
        Count,
        FixedWindows,
        Pipeline,
        Sum,
        WindowInto,
        WithTimestamps,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"event_time": BASE_EPOCH, "user_id": 7}) + "\n"
    )
    p = Pipeline(spark)
    windowed = (
        p.create(_stream(spark, src))
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(FixedWindows("1 minute"), accumulation="auto"),
        )
    )
    # r11 (VERDICT r10 item 1): Sum/Mean/CombinePerKey route through the
    # pane selector — per-firing rows, pane_value column.
    from tutorial_apache_beam_spark.plans.pipeline import (
        CombinePerKey,
        GroupByKey,
        Mean,
    )

    valued = (
        p.create(
            _stream(spark, src).withColumn(
                "points", (F.col("user_id") * 3).cast("bigint")
            )
        )
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(FixedWindows("1 minute"), accumulation="discarding"),
        )
    )
    for name, xform in (
        ("Sum", Sum.per_key("points", "user_id")),
        ("Mean", Mean.per_key("points", "user_id")),
        ("Min", CombinePerKey("points", "min", "user_id")),
    ):
        out = valued.apply(name, xform)
        assert set(out.df.columns) == {
            "window_start", "user_id", "pane_value", "pane_index",
        }, name
    # The refusal narrowed to combiners with no per-firing delta form.
    with pytest.raises(NotImplementedError, match="per-firing"):
        valued.apply("GBK", GroupByKey("points", "user_id"))
    # Count still routes with its historical pane_count column.
    out = windowed.apply("Count", Count.per_key("user_id"))
    assert "pane_count" in out.df.columns


def test_pipeline_api_sessions_compose_with_panes(spark, tmp_path):
    """r12: WindowInto(Sessions(gap), accumulation='discarding') +
    Count.per_key routes through the session-pane operator — the Beam
    composability the reference bar sets (any WindowFn x any pane mode).
    Plan shape: the keyed Python state operator; and a drain emits one
    pane per session at ordinal 0 with window_start = session start."""
    from tutorial_apache_beam_spark.plans.pipeline import (
        Count,
        Pipeline,
        Sessions,
        WindowInto,
        WithTimestamps,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(
            json.dumps({"event_time": BASE_EPOCH + t, "user_id": 7})
            for t in (0, 30, 300)
        )
        + "\n"
    )
    p = Pipeline(spark)
    out = (
        p.create(_stream(spark, src))
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(
                Sessions("1 minute"),
                allowed_lateness="2 minutes",
                accumulation="discarding",
            ),
        )
        .apply("Count", Count.per_key("user_id"))
    )
    assert "FlatMapGroupsInPandasWithState" in (
        out.df._jdf.queryExecution().analyzed().toString()
    )
    q = (
        out.df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["window_start"].timestamp() - BASE_EPOCH, r["pane_count"],
         r["pane_index"])
        for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    )
    # two sessions: [0, 90) holds two events, [300, 360) one
    assert rows == [(0.0, 2, 0), (300.0, 1, 0)]
