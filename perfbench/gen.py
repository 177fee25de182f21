"""Seeded clickstream generator and its engine-independent reference.

One file is one micro-batch: `EVENT_SECONDS_PER_FILE` seconds of event
time as JSON lines in the reference's InputMessage shape
(`{"event_time": <epoch s>, "user_id": <int>, "click": <int>}`).

Per file, besides on-time events:

- `OUT_OF_ORDER_SHARE` of events are shifted back by 1..`OUT_OF_ORDER_MAX_S`
  seconds, which stays inside the 2-minute watermark delay even after a
  whole file of event time, so none of them is dropped;
- `LATE_SHARE` of events (from file `LATE_FROM_FILE` on) sit
  `LATE_BEHIND_S` seconds or more behind the file's start, beyond the
  delay by more than one file, so both window paths drop every one of
  them: the JVM window aggregation (window end <= watermark) and the
  Python pane operator (window start <= watermark on window starts).
  Spark filters late input against the previous batch's watermark, which
  is still 0 in the second batch, so late events start at the third file;
- `MALFORMED_SHARE` of lines are truncated JSON.

Each late event gets its own user within its file, so after Spark's
per-batch partial aggregation every late event is exactly one dropped
state-operator row, and `numRowsDroppedByWatermark` must equal the
generator's late count.

The references are DuckDB batch queries over the generated events; they
never touch Spark.
"""

from __future__ import annotations

import dataclasses
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)

EPOCH0 = 1_700_000_040  # minute-aligned start of event time (UTC)
EVENT_SECONDS_PER_FILE = 30
WATERMARK_DELAY_S = 120  # Demo2: 1 min skew + 1 min allowed lateness
WINDOW_S = 60
OUT_OF_ORDER_SHARE = 0.05
OUT_OF_ORDER_MAX_S = 60
LATE_SHARE = 0.005
LATE_BEHIND_S = 300
LATE_SPREAD_S = 60
LATE_FROM_FILE = 2
MALFORMED_SHARE = 0.001
ZIPF_S = 1.1


@dataclasses.dataclass(frozen=True)
class Shape:
    files: int
    events_per_file: int = 10_000
    users: int = 1_000
    seconds_per_file: int = EVENT_SECONDS_PER_FILE


@dataclasses.dataclass
class Clickstream:
    """Generated events, one row per JSON line (malformed lines included)."""

    table: pa.Table  # file, event_time, user_id, click, late, malformed
    files: list[str]
    bytes: int

    @property
    def lines(self) -> int:
        return self.table.num_rows

    def count(self, column: str) -> int:
        return int(np.asarray(self.table[column]).sum())

    def head(self, files: int, out_dir: str) -> "Clickstream":
        """The first `files` files, hard-linked into `out_dir` (mtimes kept)."""
        os.makedirs(out_dir, exist_ok=True)
        paths = []
        for src in self.files[:files]:
            dst = os.path.join(out_dir, os.path.basename(src))
            os.link(src, dst)
            paths.append(dst)
        mask = pa.compute.less(self.table["file"], files)
        return Clickstream(
            self.table.filter(mask), paths, sum(os.path.getsize(p) for p in paths)
        )


def generate(shape: Shape, seed: int, out_dir: str) -> Clickstream:
    """Write `shape.files` JSON-lines files into `out_dir` (mtimes strictly
    increasing, so a file source takes them in order) and return the events."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ranks = np.arange(1, shape.users + 1, dtype=np.float64)
    weights = ranks**-ZIPF_S
    weights /= weights.sum()
    # Skew lands on shuffled user ids, not on the smallest ones.
    user_ids = rng.permutation(shape.users) + 1
    n = shape.events_per_file
    cols: dict[str, list[np.ndarray]] = {
        k: [] for k in ("file", "event_time", "user_id", "click", "late", "malformed")
    }
    paths, total_bytes = [], 0
    for i in range(shape.files):
        start = EPOCH0 + i * shape.seconds_per_file
        t = start + rng.integers(0, shape.seconds_per_file, n)
        users = user_ids[rng.choice(shape.users, n, p=weights)]
        clicks = rng.integers(1, 4, n)
        slot = rng.permutation(n)
        n_ooo = int(n * OUT_OF_ORDER_SHARE)
        n_late = int(n * LATE_SHARE) if i >= LATE_FROM_FILE else 0
        n_bad = int(n * MALFORMED_SHARE)
        ooo = slot[:n_ooo]
        late = slot[n_ooo : n_ooo + n_late]
        bad = slot[n_ooo + n_late : n_ooo + n_late + n_bad]
        t[ooo] -= rng.integers(1, OUT_OF_ORDER_MAX_S + 1, n_ooo)
        t[late] = start - LATE_BEHIND_S - rng.integers(0, LATE_SPREAD_S, n_late)
        users[late] = user_ids[rng.choice(shape.users, n_late, replace=False)]
        is_late = np.zeros(n, dtype=bool)
        is_late[late] = True
        is_bad = np.zeros(n, dtype=bool)
        is_bad[bad] = True
        lines = [
            f'{{"event_time": {a}, "user_id": {b}, "click": {c}}}'
            for a, b, c in zip(t.tolist(), users.tolist(), clicks.tolist())
        ]
        for j in bad.tolist():
            lines[j] = lines[j][: len(lines[j]) // 2]
        body = ("\n".join(lines) + "\n").encode()
        path = os.path.join(out_dir, f"clicks-{i:05d}.json")
        with open(path, "wb") as f:
            f.write(body)
        mtime = EPOCH0 + i
        os.utime(path, (mtime, mtime))
        paths.append(path)
        total_bytes += len(body)
        for k, v in (
            ("file", np.full(n, i, dtype=np.int32)),
            ("event_time", t.astype(np.int64)),
            ("user_id", users.astype(np.int64)),
            ("click", clicks.astype(np.int64)),
            ("late", is_late),
            ("malformed", is_bad),
        ):
            cols[k].append(v)
    table = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    return Clickstream(table, paths, total_bytes)


# ---------------------------------------------------------------------------
# References: fingerprints of the expected sinks, computed in DuckDB
# ---------------------------------------------------------------------------
#
# A fingerprint is (row count, sum of a 64-bit row hash) over the sink's
# content columns; `processing_time` is wall clock and is only checked
# for being present. Sink files are read by DuckDB too, so the check
# shares no code with the engine.

ETL_ROW = "hash(epoch(event_time)::BIGINT, user_id::BIGINT, click::BIGINT)"
WINDOW_ROW = "hash(epoch(window_start)::BIGINT, user_id::BIGINT, count::BIGINT)"
PANE_ROW = (
    "hash(epoch(window_start)::BIGINT, user_id::BIGINT, "
    "pane_count::BIGINT, pane_index::BIGINT)"
)


def _fingerprint(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, int]:
    n, h = con.execute(sql).fetchone()
    return int(n), int(h or 0)


def _valid(con: duckdb.DuckDBPyConnection, events: Clickstream) -> None:
    con.register("events", events.table)
    con.execute(
        "CREATE OR REPLACE TEMP VIEW valid AS SELECT file, user_id, click, "
        "to_timestamp(event_time) AS event_time, late FROM events "
        "WHERE NOT malformed"
    )


def expected_etl(events: Clickstream) -> tuple[int, int]:
    """Demo1 keeps every well-formed message, late ones too."""
    con = duckdb.connect()
    _valid(con, events)
    return _fingerprint(con, f"SELECT count(*), sum({ETL_ROW}) FROM valid")


def expected_windows(events: Clickstream) -> tuple[int, int]:
    """Demo2 watermark firing: per-(1-minute window, user) counts of the
    kept events, for every window the drain's final watermark closed.

    Spark's watermark for a batch is the maximum event time seen in the
    batches before it minus the delay; once the input is exhausted the
    drain runs one more batch without data at the watermark of all input,
    which emits every window whose end is at or below it."""
    con = duckdb.connect()
    _valid(con, events)
    return _fingerprint(
        con,
        f"""
        WITH kept AS (SELECT * FROM valid WHERE NOT late),
        wm AS (SELECT max(event_time) - INTERVAL {WATERMARK_DELAY_S} SECOND
               AS w FROM kept),
        counts AS (
          SELECT time_bucket(INTERVAL {WINDOW_S} SECOND, event_time)
                   AS window_start,
                 user_id, count(*) AS count
          FROM kept GROUP BY ALL)
        SELECT count(*), sum({WINDOW_ROW}) FROM counts, wm
        WHERE window_start + INTERVAL {WINDOW_S} SECOND <= wm.w
        """,
    )


def expected_panes(events: Clickstream) -> tuple[int, int]:
    """Demo2 with discarding panes: each micro-batch (file) fires one pane
    per (window, user) it touched, holding only that batch's count;
    pane_index numbers a group's firings from 0."""
    con = duckdb.connect()
    _valid(con, events)
    return _fingerprint(
        con,
        f"""
        WITH panes AS (
          SELECT time_bucket(INTERVAL {WINDOW_S} SECOND, event_time)
                   AS window_start,
                 user_id, file, count(*) AS pane_count
          FROM valid WHERE NOT late GROUP BY ALL),
        indexed AS (
          SELECT *, row_number() OVER (
                      PARTITION BY window_start, user_id ORDER BY file) - 1
                    AS pane_index
          FROM panes)
        SELECT count(*), sum({PANE_ROW}) FROM indexed
        """,
    )


def sink_fingerprint(
    sink_dir: str, row_hash: str, stamped: bool
) -> tuple[int, int, int]:
    """(rows, row-hash sum, rows missing processing_time) of a parquet sink;
    the last is 0 for sinks without the column (`stamped=False`)."""
    con = duckdb.connect()
    missing = "count(*) - count(processing_time)" if stamped else "0"
    n, h, missing = con.execute(
        f"SELECT count(*), sum({row_hash}), {missing} "
        f"FROM read_parquet('{sink_dir}/**/*.parquet')"
    ).fetchone()
    return int(n), int(h or 0), int(missing)


def sink_files(sink_dir: str) -> tuple[int, int]:
    """(parquet files, their bytes) under a sink directory."""
    files = bytes_ = 0
    for dirpath, _, names in os.walk(sink_dir):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                bytes_ += os.path.getsize(os.path.join(dirpath, name))
    return files, bytes_


# workload -> (reference, row hash of its sink)
REFERENCES = {
    "clickstream_etl": (expected_etl, ETL_ROW),
    "clickstream_windows": (expected_windows, WINDOW_ROW),
    "clickstream_panes": (expected_panes, PANE_ROW),
}
