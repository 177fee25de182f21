"""Traced-run reader: Spark's event log, `StreamingQuery.recentProgress` and
`SparkContext.statusTracker()` turned into the per-layer metric names.

Nothing here runs inside the engine. The event log is read after its
SparkContext stopped (a stopped context has flushed it).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections.abc import Iterable

# SQL metric names as Spark's event log carries them (per-task updates).
PY_INIT = "time to initialize Python workers"
PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
TASK_COMMIT = "task commit time"
PYTHON_METRICS = frozenset({PY_INIT, PY_START, PY_RUN, PY_SENT, PY_RETURNED})

PANE_OPERATOR = "applyInPandasWithState"


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log in `log_dir` (written as single
    uncompressed files: see `run.Bench.start_session`)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class EventLog:
    """Index of an event log's jobs and task ends by job id."""

    def __init__(self, events: Iterable[dict]):
        self.job_stages: dict[int, list[int]] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.job_stages[e["Job ID"]] = list(e["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(e["Stage ID"], []).append(e)

    def job_metrics(
        self, job_ids: Iterable[int]
    ) -> tuple[dict[str, float], set[str]]:
        """Executor-side totals over the tasks of `job_ids`, and the names
        of the SQL metrics among them that Spark reported at all."""
        jobs = [j for j in job_ids if j in self.job_stages]
        stages = {s for j in jobs for s in self.job_stages[j]}
        tasks = [t for s in stages for t in self.stage_tasks.get(s, [])]
        acc: dict[str, float] = {}
        out = dict.fromkeys(
            (
                "exec.core_s", "exec.cpu_s", "exec.gc_s", "source.bytes",
                "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
            ),
            0.0,
        )
        for t in tasks:
            m = t.get("Task Metrics") or {}
            out["exec.core_s"] += m.get("Executor Run Time", 0) / 1e3
            out["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["source.bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            rd = m.get("Shuffle Read Metrics", {})
            out["shuffle.read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            out["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            out["spill.bytes"] += m.get("Disk Bytes Spilled", 0)
            for a in t["Task Info"].get("Accumulables", []):
                name = a.get("Name")
                if name in PYTHON_METRICS or name == TASK_COMMIT:
                    acc[name] = acc.get(name, 0.0) + float(a.get("Update") or 0)
        out.update(
            {
                "exec.jobs": len(jobs),
                "exec.stages": len(stages),
                "exec.tasks": len(tasks),
                "python.init_ms": acc.get(PY_INIT, 0.0),
                "python.start_ms": acc.get(PY_START, 0.0),
                "python.run_ms": acc.get(PY_RUN, 0.0),
                "python.bytes_sent": acc.get(PY_SENT, 0.0),
                "python.bytes_returned": acc.get(PY_RETURNED, 0.0),
                "sink.task_commit_ms": acc.get(TASK_COMMIT, 0.0),
            }
        )
        return out, set(acc)


def _p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


PHASES = {
    "stream.query_planning_ms": "queryPlanning",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0]


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Micro-batch engine, source and state-store numbers of one pass,
    from its `recentProgress` (as JSON dicts)."""
    data = data_batches(progress)

    def phase(p: dict, key: str) -> float:
        return float(p["durationMs"].get(key, 0))

    out: dict[str, float] = {
        "stream.batches": len(data),
        "source.rows": sum(p["numInputRows"] for p in progress),
        "source.latest_offset_ms": _p50([phase(p, "latestOffset") for p in data]),
        "source.get_batch_ms": _p50([phase(p, "getBatch") for p in data]),
    }
    for name, key in PHASES.items():
        out[f"{name}.p50"] = _p50([phase(p, key) for p in data])
        out[f"{name}.pass_sum"] = sum(phase(p, key) for p in progress)
    ops = [op for p in progress for op in p["stateOperators"]]
    out.update(
        {
            "state.rows_total": max((op["numRowsTotal"] for op in ops), default=0),
            "state.memory_bytes": max((op["memoryUsedBytes"] for op in ops), default=0),
            "state.update_ms": sum(op["allUpdatesTimeMs"] for op in ops),
            "state.commit_ms": sum(op["commitTimeMs"] for op in ops),
            "state.dropped_by_watermark": dropped_by_watermark(progress),
        }
    )
    pane_keys = [
        op["numRowsUpdated"]
        for p in data
        for op in p["stateOperators"]
        if op["operatorName"] == PANE_OPERATOR
    ]
    out["pane.keys_per_batch"] = _p50(pane_keys)
    out["pane.key_batches"] = sum(pane_keys)
    return out


def dropped_by_watermark(progress: list[dict]) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p["stateOperators"]
    )


def observed(progress: list[dict], name: str, field: str) -> int:
    return sum(
        p.get("observedMetrics", {}).get(name, {}).get(field, 0) for p in progress
    )


def trigger_ms(progress: list[dict]) -> list[float]:
    """`triggerExecution` of each micro-batch that carried data."""
    return [float(p["durationMs"]["triggerExecution"]) for p in data_batches(progress)]


def job_ids(spark, run_id: str) -> list[int]:
    """Jobs of one streaming query: Spark runs every micro-batch under a
    job group named after the query's run id."""
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))


# ---------------------------------------------------------------------------
# Host context
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took, over an interval."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total else 0.0
