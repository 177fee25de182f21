#!/usr/bin/env python
"""Demo2-equivalent CLI app: stateful windowed click counting.

Reference parity (Demo2.java:44-184): parse JSON click messages, assign
event time with 1-minute allowed skew, 1-minute tumbling windows with
1-minute allowed lateness, count clicks per user per window, append
(processing_time, window_start, user_id, count) rows.

    python demo2.py --input /path/to/messages --output /path/to/table \
        --checkpoint /path/to/ckpt [--window "1 minute"] \
        [--skew "1 minute"] [--lateness "1 minute"] [--follow] \
        [--no-finalize] [--firing watermark|discarding-panes]

Beam's separate skew and lateness compose into one Spark watermark delay
(their sum) — see SURVEY §7.4.2. `--firing discarding-panes` runs the
applyInPandasWithState pane emitter (streaming/stateful.py).
"""

from __future__ import annotations

import argparse

from tutorial_apache_beam_spark import get_spark
from tutorial_apache_beam_spark.streaming.demos import demo2_pipeline


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="watched source directory")
    ap.add_argument("--output", required=True, help="output parquet table path")
    ap.add_argument("--checkpoint", required=True, help="checkpoint location")
    ap.add_argument("--window", default="1 minute")
    ap.add_argument("--skew", default="1 minute")
    ap.add_argument("--lateness", default="1 minute")
    ap.add_argument(
        "--follow",
        action="store_true",
        help="run continuously instead of draining available input",
    )
    ap.add_argument(
        "--no-finalize",
        action="store_true",
        help="drain mode: do NOT flush windows still open at the final "
        "watermark (use for repeated incremental drains; default flushes "
        "them, reproducing Beam's end-of-bounded-input firing)",
    )
    ap.add_argument(
        "--firing",
        choices=["watermark", "discarding-panes"],
        default="watermark",
        help="watermark = one final row per window (AfterWatermark "
        "firing, the default); discarding-panes = Beam's "
        ".discardingFiredPanes() repeated trigger: one delta row per "
        "firing with its pane ordinal (Demo2.java:151-157), emitted by "
        "the applyInPandasWithState pane operator",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="demo2")
    if args.firing == "discarding-panes":
        from tutorial_apache_beam_spark.streaming.demos import (
            demo2_panes_pipeline,
        )

        result = demo2_panes_pipeline(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            window=args.window,
            allowed_skew=args.skew,
            allowed_lateness=args.lateness,
            available_now=not args.follow,
        )
    else:
        result = demo2_pipeline(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            window=args.window,
            allowed_skew=args.skew,
            allowed_lateness=args.lateness,
            available_now=not args.follow,
            finalize=not args.no_finalize,
        )
    result.wait_until_finish()


if __name__ == "__main__":
    main()
