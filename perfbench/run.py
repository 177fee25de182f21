"""Clickstream benchmark: warm, checked, multi-micro-batch drains of the
paper's two streaming pipelines (Demo1 and Demo2, plus Demo2 with
discarding panes).

    python3 perfbench/run.py --workload clickstream_windows --seed 1 \\
        --seconds 12 --trace 0 [--cores 2]

Run from the root of a checkout. It generates a seeded backlog of JSON-lines
files, starts Spark through `get_spark` and warms up (twice: see SETUPS),
then drains the backlog from a fresh checkpoint again and again for
`--seconds` seconds of timed passes. Every pass, warm-ups included, is
checked outside its timer against a DuckDB reference.
The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` makes a traced run and reports the
per-layer metrics (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Backlog per workload, in files of 10k events (one micro-batch each), sized
# so a warm pass takes a few seconds on a 4-core host. Warm-up drains the
# first half of it.
FILES = {"clickstream_etl": 8, "clickstream_windows": 6, "clickstream_panes": 3}
SETUPS = 2  # set-ups per run; setup_s is their median
# C1 only: with the default tiered JIT, passes kept getting faster for
# minutes, so a run's figure depended on how far compilation had got.
JVM_OPTS = "-XX:TieredStopAtLevel=1"


def _isolate_environment(work: str) -> None:
    """Keep the engine's environment knobs at their defaults and every
    scratch write inside the checkout."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key == "SPARK_LOCAL_DIRS":
            del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr; stdout carries only the result."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr)


@dataclasses.dataclass
class Pass:
    """One drain of a backlog; the sink fields are filled by its check."""

    wall_s: float
    build_ms: float
    progress: list[dict]
    run_id: str
    sink: str
    ok: bool = False
    sink_rows: int = 0
    sink_files: int = 0
    sink_bytes: int = 0


class Bench:
    """One workload's inputs, reference, Spark session and pass counts."""

    def __init__(self, workload: str, seed: int, cores: int, work: str):
        import compose
        import gen

        self.compose, self.gen = compose, gen
        self.workload, self.cores, self.work = workload, cores, work
        self.events = gen.generate(
            gen.Shape(files=FILES[workload]), seed, os.path.join(work, "input")
        )
        log(
            f"backlog: {self.events.lines} lines in {FILES[workload]} files, "
            f"{self.events.bytes / self.events.lines:.1f} bytes per message"
        )
        self.warm_events = self.events.head(
            FILES[workload] // 2, os.path.join(work, "warm")
        )
        expected, self.row_hash = gen.REFERENCES[workload]
        self.expected = expected(self.events)
        self.warm_expected = expected(self.warm_events)
        self.spark = None
        self.cold_start_s: float | None = None
        self.passes = 0
        self.attempted = 0
        self.failed = 0

    # -- session -------------------------------------------------------------

    def start_session(self, threads: int, trace_dir: str | None = None) -> None:
        """(Re)create the SparkSession with `threads` executor threads and
        `self.cores` shuffle (and so state-store) partitions, so a
        single-thread session runs the same plan. The first call launches
        the JVM; its `get_spark` wall is kept as `cold_start_s`."""
        from tutorial_apache_beam_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Xms1g {JVM_OPTS} "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.eventLog.enabled": "false",
        }
        if trace_dir is not None:
            os.makedirs(trace_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{trace_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        log(f"session local[{threads}]{' traced' if trace_dir else ''}")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{threads}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        if self.cold_start_s is None:
            self.cold_start_s = time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- passes --------------------------------------------------------------

    def _reset(self) -> None:
        """Between passes, outside any timer."""
        spark = self.spark
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("replay_"):
                spark.catalog.dropTempView(t.name)
        spark.sparkContext._jvm.System.gc()
        gc.collect()

    def drain(self, warm: bool = False) -> Pass:
        """One pass: drain the backlog from a fresh checkpoint into a fresh
        sink. Timed from pipeline build to the query's termination."""
        self._reset()
        self.passes += 1
        base = os.path.join(self.work, f"pass{self.passes}")
        sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
        source = os.path.join(self.work, "warm" if warm else "input")
        t0 = time.perf_counter()
        pcoll = self.compose.build(self.spark, self.workload, source)
        t1 = time.perf_counter()
        result = self.compose.write(pcoll, sink, ckpt)
        result.wait_until_finish()
        wall = time.perf_counter() - t0
        query = result.queries[0]
        progress = [json.loads(p.json) for p in query.recentProgress]
        log(f"pass {self.passes} ({'warm-up' if warm else 'timed'}): {wall:.2f}s")
        return Pass(wall, (t1 - t0) * 1e3, progress, str(query.runId), sink)

    def check(self, p: Pass, warm: bool = False) -> bool:
        """The pass's sink, input, malformed and late-drop counts against
        the generator and its DuckDB reference."""
        import layers

        events = self.warm_events if warm else self.events
        expected = self.warm_expected if warm else self.expected
        rows, digest, unstamped = self.gen.sink_fingerprint(
            p.sink, self.row_hash, stamped=self.workload != "clickstream_panes"
        )
        source_rows = sum(b["numInputRows"] for b in p.progress)
        parsed = layers.observed(p.progress, self.compose.OBSERVED, "rows")
        late = 0 if self.workload == "clickstream_etl" else events.count("late")
        problems = []
        if (rows, digest) != expected:
            problems.append(f"sink {(rows, digest)} != reference {expected}")
        if unstamped:
            problems.append(f"{unstamped} sink rows without processing_time")
        if source_rows != events.lines:
            problems.append(f"source rows {source_rows} != {events.lines}")
        if source_rows - parsed != events.count("malformed"):
            problems.append(
                f"malformed dropped {source_rows - parsed} != "
                f"{events.count('malformed')}"
            )
        if layers.dropped_by_watermark(p.progress) != late:
            problems.append(
                f"dropped by watermark {layers.dropped_by_watermark(p.progress)}"
                f" != {late}"
            )
        for msg in problems:
            log(f"pass {self.passes} FAILED: {msg}")
        p.ok = not problems
        p.sink_rows = rows
        p.sink_files, p.sink_bytes = self.gen.sink_files(p.sink)
        shutil.rmtree(os.path.dirname(p.sink), ignore_errors=True)
        return p.ok

    def attempt(self, warm: bool = False) -> Pass | None:
        """One checked pass. A pass that raises or fails its check counts
        as failed; one that raises returns None."""
        self.attempted += 1
        try:
            p = self.drain(warm)
            ok = self.check(p, warm)
        except Exception:
            traceback.print_exc()
            p, ok = None, False
        self.failed += not ok
        return p

    def measure(self, seconds: float) -> list[Pass]:
        """Timed passes until `seconds` of pass wall time are spent (at
        least one)."""
        done: list[Pass] = []
        spent = 0.0
        while not done or spent < seconds:
            p = self.attempt()
            if p is None:
                break
            spent += p.wall_s
            done.append(p)
        return done

    # -- metrics -------------------------------------------------------------

    def events_per_s(self, passes: list[Pass]) -> float:
        good = [p for p in passes if p.ok]
        if not good:
            return 0.0
        return statistics.median(self.events.lines / p.wall_s for p in good)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def run_untraced(bench: Bench, seconds: float) -> dict:
    import rss
    import layers

    with rss.PeakRss() as mem:
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            bench.start_session(bench.cores)
            bench.attempt(warm=True)
            setups.append(time.perf_counter() - t0)
        passes = bench.measure(seconds)
        bench.stop()
    triggers = [t for p in passes if p.ok for t in layers.trigger_ms(p.progress)]
    return {
        "setup_s": (_median(setups), "s"),
        "events_per_s": (bench.events_per_s(passes), "1/s"),
        "batch_p50_ms": (_median(triggers), "ms"),
        "peak_rss_mb": (mem.peak_mb, "MB"),
    }


def run_traced(bench: Bench, seconds: float) -> dict:
    """The untraced run's set-ups and timed passes, with Spark's event log
    on in the last set-up's session, then one pass on a single executor
    thread. Per-layer numbers are medians over the traced passes.
    `trace.events_per_s` is the traced run's end-to-end figure: its
    difference from the untraced runs' `events_per_s` is the tracing
    overhead."""
    import layers

    cpu_before = layers.cpu_times()
    log_dir = os.path.join(bench.work, "eventlog")
    for i in range(SETUPS):
        last = i == SETUPS - 1
        bench.start_session(bench.cores, trace_dir=log_dir if last else None)
        bench.attempt(warm=True)
    traced = bench.measure(seconds)
    jobs = {p.run_id: layers.job_ids(bench.spark, p.run_id) for p in traced}

    # The single-thread pass runs in the already warm JVM, without a
    # warm-up of its own.
    bench.start_session(1)
    single = bench.measure(0)
    bench.stop()
    steal = layers.steal_pct(cpu_before, layers.cpu_times())

    event_log = layers.EventLog(layers.read_event_log(log_dir))
    expected = {layers.TASK_COMMIT}
    if bench.workload == "clickstream_panes":
        expected |= layers.PYTHON_METRICS
    missing: set[str] = set()
    rows = []
    for p in traced:
        if not p.ok:
            continue
        m = layers.progress_metrics(p.progress)
        totals, reported = event_log.job_metrics(jobs[p.run_id])
        m.update(totals)
        missing |= expected - reported
        key_batches = m.pop("pane.key_batches")
        m.update(
            {
                "pipeline.build_ms": p.build_ms,
                "exec.busy_frac": m["exec.core_s"] / (bench.cores * p.wall_s),
                "etl.malformed_dropped": m["source.rows"]
                - layers.observed(p.progress, bench.compose.OBSERVED, "rows"),
                "sink.rows": p.sink_rows,
                "sink.files": p.sink_files,
                "sink.bytes": p.sink_bytes,
                "pane.rows_out": (
                    p.sink_rows if bench.workload == "clickstream_panes" else 0
                ),
                "pane.ms_per_key_batch": (
                    m["python.run_ms"] / key_batches if key_batches else 0.0
                ),
            }
        )
        rows.append(m)
    if not rows:
        raise RuntimeError("no traced pass succeeded")
    if missing:
        log(f"MISSING from the event log, reported as 0: {sorted(missing)}")
    layer = {k: _median([r[k] for r in rows]) for k in rows[0]}
    traced_eps = bench.events_per_s(traced)
    single_eps = bench.events_per_s(single)
    layer.update(
        {
            "session.start_s": bench.cold_start_s,
            "exec.speedup_vs_1": traced_eps / single_eps if single_eps else 0.0,
            "trace.events_per_s": traced_eps,
            "host.steal_pct": steal,
            "host.loadavg": os.getloadavg()[0],
        }
    )
    return {k: (layer[k], unit) for k, unit in LAYER_UNITS.items()}


# Per-layer metric -> unit, in BENCHMARK.json's order.
LAYER_UNITS = {
    "session.start_s": "s",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.rows": "count",
    "source.bytes": "bytes",
    "etl.malformed_dropped": "count",
    "pipeline.build_ms": "ms",
    "sink.rows": "count",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.task_commit_ms": "ms",
    "stream.batches": "count",
    **{
        f"{name}.{agg}": "ms"
        for name in (
            "stream.query_planning_ms",
            "stream.add_batch_ms",
            "stream.wal_commit_ms",
            "stream.commit_offsets_ms",
        )
        for agg in ("p50", "pass_sum")
    },
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "state.dropped_by_watermark": "count",
    "python.init_ms": "ms",
    "python.start_ms": "ms",
    "python.run_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "pane.keys_per_batch": "count",
    "pane.rows_out": "count",
    "pane.ms_per_key_batch": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "exec.speedup_vs_1": "ratio",
    "trace.events_per_s": "1/s",
    "host.steal_pct": "%",
    "host.loadavg": "load",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(FILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args()

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate_environment(work)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.cores, work)
        if args.trace:
            metrics = run_traced(bench, args.seconds)
        else:
            metrics = run_untraced(bench, args.seconds)
    finally:
        if bench is not None:
            bench.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
