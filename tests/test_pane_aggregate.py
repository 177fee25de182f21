"""Combiner-generic pane semantics (r11, VERDICT r10 items 1+5):
Beam's discardingFiredPanes for Sum/Mean/Min/Max over fixed AND sliding
windows, with composite (multi/string) keys — plus the unit-level
differential of the vectorized pane body against a pandas groupby
reference across all combiners."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tutorial_apache_beam_spark.streaming.stateful import (
    _bucket_panes,
    accumulating_pane_aggregate,
    discarding_pane_aggregate,
)

BASE_EPOCH = 1704067230  # 2024-01-01 00:00:30 UTC
RAW_SCHEMA = "event_time BIGINT, user_id BIGINT, points BIGINT, device STRING"


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
            "device",
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


def test_sum_panes_emit_deltas_and_sum_to_total(spark, tmp_path):
    """Beam invariant for the summable combiner: each firing carries only
    the since-last-firing sum, and the panes sum to the accumulated
    total."""
    src = tmp_path / "src"
    src.mkdir()

    def run():
        out = discarding_pane_aggregate(
            _stream(spark, src), key_cols=["user_id"],
            value_col="points", agg="sum",
        )
        return _drain(out, tmp_path / "ckpt", tmp_path / "sink", spark)

    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH + i, "user_id": 7, "points": 10 + i,
         "device": "m"}
        for i in range(3)  # sum 33
    ])
    rows1 = [r.asDict() for r in run().collect()]
    assert len(rows1) == 1
    assert rows1[0]["pane_value"] == 33 and rows1[0]["pane_index"] == 0

    _write(src, "b1.json", [
        {"event_time": BASE_EPOCH + 10 + i, "user_id": 7, "points": 5,
         "device": "m"}
        for i in range(2)  # delta 10
    ])
    all_rows = [r.asDict() for r in run().collect()]
    deltas = [r for r in all_rows if r["pane_index"] == 1]
    assert len(all_rows) == 2 and len(deltas) == 1
    assert deltas[0]["pane_value"] == 10
    assert sum(r["pane_value"] for r in all_rows) == 43


def test_min_max_mean_panes_single_run(spark, tmp_path):
    """One firing per combiner: pane value equals the batch aggregate;
    mean is DOUBLE even over an integral value column."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH + i, "user_id": 7, "points": p,
         "device": "m"}
        for i, p in enumerate([4, 9, 2])
    ])
    expected = {"min": 2, "max": 9, "mean": 5.0}
    for agg, want in expected.items():
        out = discarding_pane_aggregate(
            _stream(spark, src), key_cols=["user_id"],
            value_col="points", agg=agg,
        )
        got = _drain(
            out, tmp_path / f"ckpt_{agg}", tmp_path / f"sink_{agg}", spark
        ).collect()
        assert len(got) == 1, agg
        assert got[0]["pane_value"] == want, agg
        field = {f.name: f.dataType.simpleString() for f in out.schema}
        assert field["pane_value"] == (
            "double" if agg == "mean" else "bigint"
        ), agg


def test_multi_key_string_key_panes(spark, tmp_path):
    """Composite (BIGINT, STRING) grouping keys: one pane row per
    (window, user, device), caller names and types preserved."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH, "user_id": 1, "points": 5, "device": "m"},
        {"event_time": BASE_EPOCH + 1, "user_id": 1, "points": 7,
         "device": "m"},
        {"event_time": BASE_EPOCH + 2, "user_id": 1, "points": 11,
         "device": "web"},
        {"event_time": BASE_EPOCH + 3, "user_id": 2, "points": 1,
         "device": "m"},
    ])
    out = discarding_pane_aggregate(
        _stream(spark, src), key_cols=["user_id", "device"],
        value_col="points", agg="sum",
    )
    assert [f.name for f in out.schema] == [
        "window_start", "user_id", "device", "pane_value", "pane_index",
    ]
    got = {
        (r["user_id"], r["device"]): r["pane_value"]
        for r in _drain(out, tmp_path / "ckpt", tmp_path / "sink", spark)
        .collect()
    }
    assert got == {(1, "m"): 12, (1, "web"): 11, (2, "m"): 1}


def test_sliding_window_panes(spark, tmp_path):
    """SlidingWindows(1 minute, 30 seconds): an event at :30 belongs to
    the windows starting :00 and :30 — one pane row per window instance,
    each with its own pane ordinal stream."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH, "user_id": 7, "points": 3, "device": "m"},
    ])
    out = discarding_pane_aggregate(
        _stream(spark, src), key_cols=["user_id"],
        window_duration="1 minute", slide_duration="30 seconds",
    )
    rows = sorted(
        _drain(out, tmp_path / "ckpt", tmp_path / "sink", spark).collect(),
        key=lambda r: r["window_start"],
    )
    assert len(rows) == 2
    starts = [int(r["window_start"].timestamp()) for r in rows]
    assert starts == [BASE_EPOCH - 30, BASE_EPOCH]
    assert all(r["pane_count"] == 1 and r["pane_index"] == 0 for r in rows)


def test_sliding_watermark_widened_by_window_span(spark, tmp_path):
    """r11 review: with the raw delay on window_start, a sliding window
    whose span (size - period) exceeds the delay late-filters an
    ON-TIME event's older window instances — panes silently undercount.
    The plan must carry delay + (size - period) on the watermark."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH, "user_id": 7, "points": 1, "device": "m"},
    ])
    out = discarding_pane_aggregate(
        _stream(spark, src), key_cols=["user_id"],
        window_duration="10 minutes", slide_duration="1 minute",
        watermark_delay="2 minutes",
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    # 2 min + (10 min - 1 min) = 660000 ms
    assert "660000" in plan
    # fixed windows keep the caller's delay verbatim
    fixed = discarding_pane_aggregate(
        _stream(spark, src), key_cols=["user_id"],
        window_duration="10 minutes", watermark_delay="2 minutes",
    )
    fplan = fixed._jdf.queryExecution().analyzed().toString()
    assert "660000" not in fplan


def test_nan_treated_as_missing_on_both_paths(spark, tmp_path):
    """r11 review: the pandas float64 view cannot distinguish NULL from
    NaN, so both pane paths normalize NaN → NULL at plan time — the
    selector's mode choice must not change results on NaN-bearing
    input."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join([
            '{"event_time": %d, "user_id": 7, "points": 5.0, "device": "m"}'
            % BASE_EPOCH,
            '{"event_time": %d, "user_id": 7, "points": NaN, "device": "m"}'
            % (BASE_EPOCH + 1),
            '{"event_time": %d, "user_id": 9, "points": NaN, "device": "m"}'
            % (BASE_EPOCH + 2),
        ]) + "\n"
    )

    def stream():
        return (
            spark.readStream.schema(
                "event_time BIGINT, user_id BIGINT, points DOUBLE"
            )
            .option("allowNonNumericNumbers", "true")
            .json(str(src))
            .select(
                F.timestamp_seconds("event_time").alias("ts"),
                "user_id",
                "points",
            )
        )

    results = {}
    for mode, builder, out_mode in (
        ("disc", discarding_pane_aggregate, "append"),
        ("acc", accumulating_pane_aggregate, "update"),
    ):
        out = builder(
            stream(), key_cols=["user_id"], value_col="points", agg="max"
        )
        q = (
            out.writeStream.outputMode(out_mode)
            .format("memory")
            .queryName(f"nan_{mode}_{tmp_path.name}")
            .option(
                "checkpointLocation", str(tmp_path / f"ck_{mode}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        results[mode] = {
            (r["user_id"],): r["pane_value"]
            for r in spark.sql(
                f"SELECT * FROM nan_{mode}_{tmp_path.name}"
            ).collect()
        }
        spark.catalog.dropTempView(f"nan_{mode}_{tmp_path.name}")
    # user 7: max(5.0, NaN→missing) = 5.0 on BOTH paths (JVM F.max
    # would otherwise return NaN); user 9 (all-NaN):
    # discarding emits no row, accumulating emits NULL — both "missing"
    assert results["disc"] == {(7,): 5.0}
    assert results["acc"][(7,)] == 5.0
    assert results["acc"].get((9,)) is None


def test_accumulating_schema_matches_discarding(spark, tmp_path):
    """Switching the pane mode changes the values, never the output
    schema: both paths agree on names AND types per combiner."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH, "user_id": 7, "points": 3, "device": "m"},
    ])
    stream = _stream(spark, src).withColumn(
        "fpoints", F.col("points").cast("double")
    )
    for agg, vcol in [
        ("count", None), ("sum", "points"), ("sum", "fpoints"),
        ("min", "points"), ("max", "fpoints"), ("mean", "points"),
    ]:
        d = discarding_pane_aggregate(
            stream, key_cols=["user_id", "device"], value_col=vcol, agg=agg
        )
        a = accumulating_pane_aggregate(
            stream, key_cols=["user_id", "device"], value_col=vcol, agg=agg
        )
        assert [
            (f.name, f.dataType.simpleString()) for f in d.schema
        ] == [
            (f.name, f.dataType.simpleString()) for f in a.schema
        ], (agg, vcol)


def test_plan_time_refusals(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        {"event_time": BASE_EPOCH, "user_id": 7, "points": 3, "device": "m"},
    ])
    stream = _stream(spark, src)
    with pytest.raises(ValueError, match="requires value_col"):
        discarding_pane_aggregate(stream, agg="sum")
    with pytest.raises(ValueError, match="takes no value column"):
        discarding_pane_aggregate(stream, agg="count", value_col="points")
    with pytest.raises(ValueError, match="unknown pane combiner"):
        discarding_pane_aggregate(stream, agg="median", value_col="points")
    with pytest.raises(ValueError, match="must be integral or float"):
        discarding_pane_aggregate(stream, agg="sum", value_col="device")
    with pytest.raises(ValueError, match="duplicate key"):
        discarding_pane_aggregate(
            stream, key_cols=["user_id", "user_id"],
        )
    with pytest.raises(ValueError, match="at least one key"):
        accumulating_pane_aggregate(stream, key_cols=[])
    with pytest.raises(ValueError, match="collides with a pane"):
        discarding_pane_aggregate(
            stream.withColumnRenamed("points", "pane_value"),
            key_cols=["pane_value"],
        )


def _pandas_reference(pdf, state, key_values, key_names, agg, value_col):
    """Plain-pandas re-derivation of one emitter call (NaT windows drop;
    null values drop; per-window aggregate; pane ordinals from state)."""
    body = pdf.dropna(subset=["window_start"])
    if agg != "count":
        body = body.dropna(subset=[value_col])
        grouped = body.groupby("window_start", sort=True)[value_col]
        series = {
            "sum": grouped.sum, "min": grouped.min,
            "max": grouped.max, "mean": grouped.mean,
        }[agg]()
    else:
        series = body.groupby("window_start", sort=True).size()
    out = []
    for w, v in series.items():
        w_ms = int(pd.Timestamp(w).value // 10**6)
        idx = state.get(w_ms, 0)
        state[w_ms] = idx + 1
        out.append((w, *key_values, v, idx))
    return out


@pytest.mark.parametrize("agg", ["count", "sum", "min", "max", "mean"])
def test_agg_panes_differential_vs_pandas_reference(agg):
    """Property check across combiners: the lexsort+reduceat body must
    agree with a plain pandas groupby on random frames with NaT windows,
    null values, and arbitrary pre-existing pane-index state."""
    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01 00:00:00")
    for trial in range(25):
        n = int(rng.integers(0, 40))
        win = [
            pd.NaT if rng.random() < 0.15
            else base + pd.Timedelta(minutes=int(rng.integers(0, 5)))
            for _ in range(n)
        ]
        vals = [
            None if rng.random() < 0.2 else float(rng.integers(-50, 50))
            for _ in range(n)
        ]
        pdf = pd.DataFrame({
            "window_start": pd.Series(win, dtype="datetime64[ns]"),
            "v": pd.Series(vals, dtype="float64"),
        })
        pre_state = {
            int((base + pd.Timedelta(minutes=m)).value // 10**6):
                int(rng.integers(0, 4))
            for m in range(5) if rng.random() < 0.5
        }
        got_state = {(42, w): i for w, i in pre_state.items()}
        got = _bucket_panes(
            pdf.assign(user_id=42), got_state, (("user_id", "int"),), agg=agg,
            value_col=None if agg == "count" else "v",
            value_kind="float", value_name="pane_value"
            if agg != "count" else "pane_count",
        )
        ref_state = dict(pre_state)
        ref = _pandas_reference(
            pdf, ref_state, (42,), ("user_id",), agg,
            None if agg == "count" else "v",
        )
        vcol = "pane_count" if agg == "count" else "pane_value"
        got_rows = [
            (r["window_start"], r["user_id"], r[vcol], r["pane_index"])
            for _, r in got.iterrows()
        ]
        assert len(got_rows) == len(ref), (agg, trial)
        for g, r in zip(got_rows, ref):
            assert g[0] == r[0] and g[1] == r[1] and g[3] == r[3], (agg, trial)
            assert g[2] == pytest.approx(r[2]), (agg, trial)
        assert got_state == {
            (42, w): i for w, i in ref_state.items()
        }, (agg, trial)


def test_agg_panes_all_null_value_window_emits_nothing():
    """A window whose batch rows are all null-valued emits no pane row
    for that firing (Spark aggregates skip nulls; Beam combiners never
    see nulls) — and its pane ordinal is NOT consumed."""
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame({
        "window_start": pd.Series([base, base], dtype="datetime64[ns]"),
        "v": pd.Series([None, None], dtype="float64"),
    })
    state: dict = {}
    out = _bucket_panes(
        pdf.assign(user_id=1), state, (("user_id", "int"),), agg="sum",
        value_col="v", value_kind="float", value_name="pane_value",
    )
    assert len(out) == 0 and state == {}


def test_raw_path_contract_on_repartitioned_batch(spark, tmp_path):
    """Count/sum discarding panes over a batch split across
    `repartition(3)`, on the awkward inputs: several source partitions
    feeding one (window, key) group, null-valued rows inside a live
    group (ignored), an all-null-value group (emits nothing), a null
    string key (its own group), and a second firing (pane_index
    continues). Expected values are computed by hand from the raw rows,
    i.e. the raw path's contract."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b0.json", [
        # (w0, u1, m): 5 + 7, plus one null-valued row to ignore
        {"event_time": BASE_EPOCH, "user_id": 1, "points": 5, "device": "m"},
        {"event_time": BASE_EPOCH + 1, "user_id": 1, "points": 7,
         "device": "m"},
        {"event_time": BASE_EPOCH + 2, "user_id": 1, "points": None,
         "device": "m"},
        # (w0, u2, web): ALL null-valued -> no sum pane at all
        {"event_time": BASE_EPOCH + 3, "user_id": 2, "points": None,
         "device": "web"},
        # (w0, u3, null-device): null string key is a real group
        {"event_time": BASE_EPOCH + 4, "user_id": 3, "points": 2,
         "device": None},
        {"event_time": BASE_EPOCH + 5, "user_id": 3, "points": 9,
         "device": None},
    ])

    def run(agg, value_col, ckpt, sink):
        # repartition(3) spreads one (window, key) group's rows over
        # several map partitions ahead of the keyed exchange.
        out = discarding_pane_aggregate(
            _stream(spark, src).repartition(3),
            key_cols=["user_id", "device"],
            value_col=value_col, agg=agg,
        )
        return _drain(out, tmp_path / ckpt, tmp_path / sink, spark)

    sums = {
        (r["user_id"], r["device"]): (r["pane_value"], r["pane_index"])
        for r in run("sum", "points", "ckpt_s", "sink_s").collect()
    }
    assert sums == {
        (1, "m"): (12, 0),
        (3, None): (11, 0),
    }

    counts = {
        (r["user_id"], r["device"]): (r["pane_count"], r["pane_index"])
        for r in run("count", None, "ckpt_c", "sink_c").collect()
    }
    # count counts ROWS (null-valued rows too).
    assert counts == {
        (1, "m"): (3, 0),
        (2, "web"): (1, 0),
        (3, None): (2, 0),
    }

    # Second firing: the group's pane ordinal advances to 1.
    _write(src, "b1.json", [
        {"event_time": BASE_EPOCH + 6, "user_id": 1, "points": 4,
         "device": "m"},
    ])
    rows = [
        r.asDict()
        for r in run("sum", "points", "ckpt_s", "sink_s").collect()
        if r["pane_index"] == 1
    ]
    assert len(rows) == 1
    assert (rows[0]["user_id"], rows[0]["device"]) == (1, "m")
    assert rows[0]["pane_value"] == 4
