"""The demo CLI apps end-to-end through their argparse surface (SURVEY S2).

The reference parameterizes its pipelines with PipelineOptionsFactory CLI
options (Demo1.java:103-106); these tests drive the equivalent argparse
mains in-process (get_spark's getOrCreate reuses the test session) and
check the written tables — so the option wiring itself is covered, not
just the underlying pipeline functions.
"""

from __future__ import annotations

import json
import sys

BASE_EPOCH = 1704067230  # 2024-01-01 00:00:30 UTC


def _write_messages(src_dir) -> None:
    lines = [
        json.dumps({"event_time": BASE_EPOCH + i * 10, "user_id": u, "click": 1})
        for u in (1, 2)
        for i in range(6)
    ]
    lines.append("{not json")
    (src_dir / "batch0.json").write_text("\n".join(lines) + "\n")


def _run_main(monkeypatch, module, argv):
    monkeypatch.setattr(sys, "argv", argv)
    module.main()


def test_demo1_cli_end_to_end(spark, tmp_path, monkeypatch):
    import demo1

    src = tmp_path / "src"
    src.mkdir()
    _write_messages(src)
    sink = tmp_path / "out"
    _run_main(
        monkeypatch,
        demo1,
        [
            "demo1.py",
            "--input",
            str(src),
            "--output",
            str(sink),
            "--checkpoint",
            str(tmp_path / "ckpt"),
        ],
    )
    out = spark.read.parquet(str(sink))
    assert out.count() == 12  # malformed line dropped
    assert {"event_time", "processing_time", "user_id", "click"} <= set(out.columns)


def test_demo2_cli_end_to_end(spark, tmp_path, monkeypatch):
    import demo2

    src = tmp_path / "src"
    src.mkdir()
    _write_messages(src)
    sink = tmp_path / "out"
    _run_main(
        monkeypatch,
        demo2,
        [
            "demo2.py",
            "--input",
            str(src),
            "--output",
            str(sink),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--window",
            "1 minute",
            "--skew",
            "30 seconds",
            "--lateness",
            "30 seconds",
        ],
    )
    out = spark.read.parquet(str(sink))
    rows = {(r.user_id, r.window_start.isoformat()): r["count"] for r in out.collect()}
    # 6 msgs per user, 10 s apart from 00:00:30: 3 in [00:00,00:01), 3 in
    # [00:01,00:02).
    assert sum(n for (_, _), n in rows.items()) == 12
    assert all(n == 3 for n in rows.values())


def test_demo2_cli_discarding_panes(spark, tmp_path, monkeypatch):
    """--firing discarding-panes through the CLI: two drains over the same
    --checkpoint, so the window fires twice — a 3-click pane at ordinal
    0, then a 1-click delta pane at ordinal 1."""
    import demo2

    src = tmp_path / "src"
    src.mkdir()
    argv = [
        "demo2.py",
        "--input", str(src),
        "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--firing", "discarding-panes",
    ]
    (src / "b0.json").write_text(
        "\n".join(
            json.dumps({"event_time": BASE_EPOCH + i, "user_id": 7, "click": 1})
            for i in range(3)
        )
        + "\n"
    )
    _run_main(monkeypatch, demo2, argv)
    (src / "b1.json").write_text(
        json.dumps({"event_time": BASE_EPOCH + 10, "user_id": 7, "click": 1})
        + "\n"
    )
    _run_main(monkeypatch, demo2, argv)

    rows = sorted(
        (
            r["window_start"].isoformat(),
            r["user_id"],
            r["pane_count"],
            r["pane_index"],
        )
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert rows == [
        ("2024-01-01T00:00:00", 7, 1, 1),
        ("2024-01-01T00:00:00", 7, 3, 0),
    ]
    assert sum(r[2] for r in rows) == 4  # every click in some pane
