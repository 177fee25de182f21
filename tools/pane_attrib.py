"""Attribute the discarding-panes operator's 10x wall ratio (r7 task 6).

With per-key pane state the drain's wall tracked KEY COUNT (4.3x at
10x = 15k keys, 34x at 100x = 150k keys) while the Demo2 JVM aggregation
over the same source grew ~2.6x — something per-key in the Python layer
dominated; the state is now grouped by hash bucket instead. This
splits the wall into three additive layers by draining the SAME 10x
source three ways in one session (min over --runs each):

  jvm_floor      source scan + shuffle + incremental JVM agg (append) —
                 everything BELOW the Python layer
  trivial_state  same bucketed shuffle through applyInPandasWithState
                 (grouped by the operator's hash-bucket column, same
                 state schema) with a do-nothing function (one tiny
                 state read+write per bucket, no pane math, near-zero
                 output) — adds the arrow transfer, per-bucket Python
                 invocation, and state-server round-trips
  full           the real discarding_pane_counts operator — adds the
                 pane-counting emitter and the output transfer back

  emitter cost      = full - trivial_state
  python/state cost = trivial_state - jvm_floor

Pass spark confs as KEY=VALUE args to test a knob in a fresh JVM, e.g.:

    python tools/pane_attrib.py spark.sql.execution.arrow.maxRecordsPerBatch=100000

Findings recorded in SCALING.md "Pane operator wall, attributed".

`pane_key_curve_section` is the operator's KEY-COUNT curve: the same
200k-event synthetic drain at 500 to 30k distinct keys, recorded by
bench.py as `pane_key_curve`.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", os.path.join(REPO, ".scaledata", "sf1")
)


def _variants():
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from tutorial_apache_beam_spark.streaming.replay import stream_events
    from tutorial_apache_beam_spark.streaming.stateful import (
        _WINDOW_STATE_TAIL,
        BUCKET_COL,
        OUTPUT_SCHEMA,
        _bucket_state_schema,
        _make_bucket_pane_emitter,
        _with_pane_bucket,
        discarding_pane_counts,
    )

    key_specs = (("user_id", "int"),)
    state_schema = _bucket_state_schema(key_specs, _WINDOW_STATE_TAIL)

    def _bucketed(spark):
        sdf = stream_events(spark, FIXTURE)
        return (
            sdf.withColumn(
                "window_start", F.window(F.col("ts"), "1 minute").start
            )
            .withWatermark("window_start", "2 minutes")
            .select("window_start", "user_id")
        )

    def _pane_buckets(spark):
        # The real operator's grouping: the hash-bucket column.
        return _with_pane_bucket(_bucketed(spark), ["user_id"]).groupBy(
            BUCKET_COL
        )

    def jvm_floor(spark):
        return (
            _bucketed(spark).groupBy("window_start", "user_id").count(),
            "append",
        )

    def trivial_state(spark):
        def _noop(key, pdfs, state):
            n = 0
            for pdf in pdfs:
                n += len(pdf)
            state.update(([0], [0], [n]))
            # OUTPUT_SCHEMA is a DDL string; emit an empty frame with
            # its column names so the arrow return path stays exercised
            # at zero rows.
            cols = [c.split()[0] for c in OUTPUT_SCHEMA.split(",")]
            yield pd.DataFrame(columns=cols)

        return (
            _pane_buckets(spark).applyInPandasWithState(
                _noop,
                OUTPUT_SCHEMA,
                state_schema,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            ),
            "append",
        )

    def full(spark):
        sdf = stream_events(spark, FIXTURE)
        return (
            discarding_pane_counts(
                sdf, ts_col="ts", key_col="user_id",
                window_duration="1 minute",
            ),
            "append",
        )

    def full_no_output(spark):
        # The real emitter, its result truncated to 0 rows before the
        # arrow return: isolates pane-math compute from output transfer.
        real = _make_bucket_pane_emitter(
            60_000, key_specs, "count", None, "int", "pane_count"
        )

        def _truncated(key, pdfs, state):
            for out in real(key, pdfs, state):
                yield out.iloc[0:0]

        return (
            _pane_buckets(spark).applyInPandasWithState(
                _truncated,
                OUTPUT_SCHEMA,
                state_schema,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            ),
            "append",
        )

    return {
        "jvm_floor": jvm_floor,
        "trivial_state": trivial_state,
        "full_no_output": full_no_output,
        "full": full,
    }


CURVE_EPOCH = 1704067200


def _gen_curve_source(src_dir: str, n_events: int, n_users: int, n_files: int = 4):
    per = n_events // n_files
    for f in range(n_files):
        with open(os.path.join(src_dir, f"b{f}.json"), "w") as fh:
            for i in range(per):
                e = f * per + i
                fh.write(
                    json.dumps(
                        {
                            # ~6 windows of data, out-of-order within files
                            "event_time": CURVE_EPOCH + (e * 7919) % 360,
                            "user_id": e % n_users,
                        }
                    )
                    + "\n"
                )


def _curve_drain(spark, src: str, work: str) -> int:
    from pyspark.sql import functions as F

    from tutorial_apache_beam_spark.streaming.stateful import (
        discarding_pane_counts,
    )

    ckpt, sink = os.path.join(work, "ck"), os.path.join(work, "out")
    stream = (
        spark.readStream.schema("event_time BIGINT, user_id BIGINT")
        .json(src)
        .select(F.timestamp_seconds("event_time").alias("ts"), "user_id")
    )
    q = (
        discarding_pane_counts(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink).count()


def pane_key_curve_section(
    spark,
    events: int = 200_000,
    key_counts: tuple[int, ...] = (500, 1500, 5000, 15000, 30000),
    runs: int = 1,
) -> dict:
    """Wall of one availableNow pane drain (file source, parquet sink)
    at a fixed event volume and rising distinct-key counts. The pane
    emitter pays one Python invocation per hash bucket per micro-batch,
    so its wall should stay flat as keys grow (a per-key invocation made
    it track key count, not event volume).

    Each point first runs an untimed 1/10-size drain, so the timed
    numbers are steady state (the first drain of a session absorbs the
    pandas-UDF warm-up), then reports the min over `runs` timed drains,
    each on a fresh checkpoint and sink."""
    work_root = tempfile.mkdtemp(prefix="pane_key_curve_")
    curve = []
    try:
        for users in key_counts:
            work = os.path.join(work_root, str(users))
            src, warm_src = os.path.join(work, "src"), os.path.join(work, "warm_src")
            os.makedirs(src)
            os.makedirs(warm_src)
            _gen_curve_source(src, events, users)
            _gen_curve_source(warm_src, max(events // 10, 1000), users)
            _curve_drain(spark, warm_src, os.path.join(work, "warm_run"))
            best, rows = float("inf"), -1
            for r_i in range(max(runs, 1)):
                t0 = time.monotonic()
                rows = _curve_drain(spark, src, os.path.join(work, f"run{r_i}"))
                best = min(best, time.monotonic() - t0)
            curve.append(
                {
                    "users": users,
                    "sec": round(best, 2),
                    "out_rows": rows,
                    "events_per_sec": round(events / best),
                }
            )
    finally:
        shutil.rmtree(work_root, ignore_errors=True)
    return {"events": events, "curve": curve}


def main() -> None:
    # ADVICE r8: a typo'd conf token without '=' used to be silently
    # dropped, attributing the run to the default config — refuse it.
    bad = [a for a in sys.argv[1:] if "=" not in a]
    if bad:
        raise SystemExit(
            f"conf args must be KEY=VALUE; got {bad!r}"
        )
    conf = dict(a.split("=", 1) for a in sys.argv[1:])
    runs = int(os.environ.get("PANE_ATTRIB_RUNS", "2"))
    from tools.scale_stress import _drain_with_state_metrics

    from tutorial_apache_beam_spark import get_spark

    spark = get_spark(app_name="pane_attrib", extra_conf=conf)
    out: dict[str, dict] = {"conf": conf, "fixture": FIXTURE}
    for name, build in _variants().items():
        best, best_rows, best_state = float("inf"), -1, 0
        for _ in range(runs):
            sdf, mode = build(spark)
            wall, rows, state_rows = _drain_with_state_metrics(
                spark, sdf, mode
            )
            if wall < best:
                # keep rows/state from the SAME drain as the reported
                # wall — pairing the min wall with the last drain's
                # counts could attribute one run's state to another's
                # time
                best, best_rows, best_state = wall, rows, state_rows
        out[name] = {
            "sec": round(best, 3),
            "rows": best_rows,
            "state_rows": best_state,
        }
    out["python_state_layer_sec"] = round(
        out["trivial_state"]["sec"] - out["jvm_floor"]["sec"], 3
    )
    out["emitter_compute_sec"] = round(
        out["full_no_output"]["sec"] - out["trivial_state"]["sec"], 3
    )
    out["output_transfer_sec"] = round(
        out["full"]["sec"] - out["full_no_output"]["sec"], 3
    )
    out["loadavg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
