"""Self-test: the benchmark's compositions (compose.py) still write what
the demos in `streaming.demos` write.

    python3 perfbench/drift_guard.py

One small input, a single file of five minutes of event time, is drained
once through each demo and once through the matching composition. A single
file is a single micro-batch on both paths, so the sinks must be equal row
for row, apart from the wall-clock `processing_time`. Each pair must also
match the DuckDB reference and be non-empty. `demo2_pipeline` runs with
`finalize=False`: its end-of-input flush is a batch step of the demo, not a
stage the benchmark composes. Exits 0 when all three pairs agree.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def main() -> int:
    import compose
    import gen
    from run import stop_jvm
    from tutorial_apache_beam_spark import get_spark
    from tutorial_apache_beam_spark.streaming import demos

    work = os.path.join(ROOT, ".perfbench", f"drift-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "input")
    events = gen.generate(
        gen.Shape(files=1, events_per_file=5_000, users=200, seconds_per_file=300),
        seed=0,
        out_dir=src,
    )
    spark = get_spark(
        app_name="perfbench-drift-guard",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    demo_runs = {
        "clickstream_etl": lambda sink, ckpt: demos.demo1_pipeline(
            spark, src, sink, ckpt
        ),
        "clickstream_windows": lambda sink, ckpt: demos.demo2_pipeline(
            spark, src, sink, ckpt, finalize=False
        ),
        "clickstream_panes": lambda sink, ckpt: demos.demo2_panes_pipeline(
            spark, src, sink, ckpt
        ),
    }
    failures = 0
    try:
        for workload, demo in demo_runs.items():
            expected, row_hash = gen.REFERENCES[workload]
            stamped = workload != "clickstream_panes"
            out = os.path.join(work, workload)
            demo(f"{out}/demo", f"{out}/demo-ckpt").wait_until_finish()
            compose.write(
                compose.build(spark, workload, src), f"{out}/bench", f"{out}/bench-ckpt"
            ).wait_until_finish()
            got_demo = gen.sink_fingerprint(f"{out}/demo", row_hash, stamped)
            got_bench = gen.sink_fingerprint(f"{out}/bench", row_hash, stamped)
            want = expected(events)
            ok = got_demo == got_bench and got_bench[:2] == want and want[0] > 0
            failures += not ok
            print(
                f"{'ok  ' if ok else 'FAIL'} {workload}: demo {got_demo[:2]} "
                f"composition {got_bench[:2]} reference {want}"
            )
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
