"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {name: sec}, "sf": ...}

The headline metric is total wall-clock over the headline set. A second
derived figure, demo2 streaming throughput in MiB/s, is included under
"extra" — BASELINE.md's only quantitative bar is the reference's 4 MiB/s
provisioned source capacity on the Demo2-equivalent aggregation.

Usage: python bench.py            (defaults: sf0.1, local[$SPARK_GRAFT_CPUS])
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tutorial_apache_beam_spark import get_spark, registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative of every operator family: streaming-equivalent windowed
# agg (the reference's flagship), heavy scan+agg, star join, analytic
# window, near-dup LSH, vector search, text stats, real streaming.
#
# Round-over-round comparability (r2 -> r3 gate changes): the
# `minhash_lsh_near_dups` slot is now `lexical_neardup_pairs`, which
# runs BOTH the ngram and minhash branches (≈2x the r2 slot's work over
# one shared shingle scan); `streaming_demo2_modes` drains three modes
# (was two); `streaming_interval_join` drains inner + left-outer +
# full-outer (was inner only); `text_fingerprint_suite` adds the
# PII/URL surface; `split_and_pack` adds chunk fingerprints;
# `ann_topk_methods` adds the q8 quantized tier;
# `training_data_pipeline` added decontamination + curriculum stages in
# r3 prep. Headline deltas on those rows are added coverage, not
# regressions — compare per-family totals with this note in hand.
#
# r5 isolated-rerun verdict on the r4 tail-regression cluster (VERDICT
# r4 item 1b): every member recovered to its r3 level or better with
# zero definition change — udtf_word_positions 1.12→0.60 (r3 0.61),
# sliding_session_windows 1.08→0.66 (0.68), streaming_session_counts
# 2.25→1.46 (1.48), streaming_group_into_batches 3.98→2.66 (2.67),
# streaming_discarding_panes 4.17→2.90 (2.99), tpch_analog_sweep
# 8.48→5.51 (6.74). The r4 numbers were ambient sandbox load, confirmed.
# sink_roundtrip_retention is the one gate NOT back at r3 (1.96 vs
# 1.17) and that delta is measured, not drift: the gate now drains
# exactly-once, and an in-session A/B (same drain, exactly_once
# toggled) gives 1.99 vs 1.22 — ~0.8 s is the staging write + per-file
# rename cost of the crash-safe commit on this 9-partition fixture
# drain. At cluster scale the staging write IS the data write and
# renames are per-file metadata ops, so the overhead amortizes to ~0.
#
# Also r5: sf_scaling gains the relational entries (asof join, salted
# skew agg) at base/10x, and the session enables parquet aggregate
# pushdown — count()-bound timings may shift slightly (footer sweeps
# replace data scans for filterless counts).
#
# r5 -> r6 gate-content changes: `ann_topk_methods` keeps its full
# hash-checked surface (4 oracle-checked tiers + ivf_recall + the
# trained-ge-sampled invariant) but stops re-paying overhead per pass —
# one persisted embeddings scan shared by all tiers/searches, k-means at
# 2 Lloyd's rounds (was 3), and driver-side sample training for small
# capped training sets (the FAISS coarse-quantizer recipe; distributed
# loop unchanged for big samples): 15.9 -> ~8 s at sf0.1.
# `embedding_cosine_near_dups` ADDS the SemDeDup transitive-cluster
# columns (component, canonical_a — semantic_dup_clusters promoted into
# the hash-checked surface, VERDICT r5 item 4): expect ~+0.8 s on that
# slot, added coverage not regression.
#
# Also r6: SF-linear join sides (customer/supplier/part, join-derived
# dims) lost their forced F.broadcast hints (100-TB safety: a forced
# broadcast blows the 8 GB limit at large SF). At sf0.1 AQE still
# converts these to broadcast at runtime, but the conversion decision
# happens after the build side materializes its shuffle map stage, so
# relational slots may drift a few hundred ms — the 100-TB-safe plan is
# now the measured plan.
#
# r6 ratio attribution (VERDICT r5 item 2): the two sf_scaling ratios
# that moved in r5 with unchanged operator paths both recovered on the
# settled-machine r6 baseline re-record BEFORE any r6 code change —
# text_fingerprint_suite 10x ratio 4.15 -> 1.68, ann_topk_fixed_probes
# 5.15 -> 3.07 — confirming ambient-load noise, not data/planning drift
# (the row counts recorded alongside each entry were already identical).
#
# r4 -> r5 gate-content changes (added coverage, not regressions):
# `lexical_neardup_pairs` adds a third branch (ngram CONTAINMENT, both
# orientations) over the same shared shingle scan; `ann_topk_methods`
# adds spherical-k-means training + two recall-summary rows (the
# trained-vs-sampled invariant runs a 3-iter driver-side Lloyd's loop —
# expect this gate several seconds slower); `sink_roundtrip_retention`
# now drains in EXACTLY-ONCE mode (stage + rename per batch instead of
# plain append — the production-grade path is now the measured path).
#
# streaming_demo1_etl r2→r3 drift (1.82→2.48 s), root-caused in r4 by
# isolated component timing: ~1.3 s is fixed availableNow startup +
# scan + memory sink (the identity drain costs that much alone); the
# remainder is the to_json→from_json wire round-trip executing in ONE
# task because the replay source is a single parquet file (file-stream
# sources parallelize per file). A .repartition(16) before the parse
# recovers ~0.4 s here but injects a full shuffle into a stateless ETL
# stream — exactly wrong at cluster scale, where the source's own
# partitioning (Kafka topic partitions) already fans the parse out; the
# plan is deliberately left shuffle-free. Residual run-to-run spread on
# this gate is the single-task JSON stage riding ambient machine load.
# That single task parsed every message three times until the parse moved
# into a Generate (operators/etl.py; SCALING.md "Click parse: one
# `from_json` per message"): the optimizer had copied `from_json` into
# the pushed-down null filter.
HEADLINE = [
    "demo2_tumbling_counts",
    "q1_pricing_summary",
    "star_join_revenue_by_nation",
    "topk_orders",
    "lexical_neardup_pairs",
    "ann_topk_methods",
    "embedding_cosine_near_dups",
    "text_fingerprint_suite",
    "training_data_pipeline",
    "streaming_demo2_modes",
    "streaming_interval_join",
]

# Repeat sampling (VERDICT r2 #7): each headline query runs this many
# times and reports the MIN (the sweep likewise over SWEEP_REPEATS), so
# cold-JVM and ambient-neighbor noise can't masquerade as a regression.
# Headline was median-of-3 through r5; see the stat note in run() for the
# measured ambient variance that motivated the switch, and
# extra.headline_samples for the full per-gate spread.
HEADLINE_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
SWEEP_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_SWEEP_REPEATS", "2"))
# r10 signal floor (VERDICT r9 item 7): every recorded min must be
# corroborated by a second sample within ADAPT_TOL or sampling continues
# (up to ADAPT_MAX_SAMPLES) — see the protocol note in run(). 1.15/7
# chosen so a clean gate pays nothing (its first two samples agree) and
# a noisy sub-second gate gets up to 7 draws, after which the two best
# of 7 bound one-sided scheduler noise far below the 1.5x adjudication
# threshold.
ADAPT_TOL = float(os.environ.get("SPARK_GRAFT_BENCH_ADAPT_TOL", "1.15"))
ADAPT_MAX_SAMPLES = int(os.environ.get("SPARK_GRAFT_BENCH_ADAPT_MAX", "7"))


def _needs_more_samples(
    samples: list[float],
    tol: float | None = None,
    max_n: int | None = None,
) -> bool:
    """The adaptive-floor stopping rule, extracted pure so the protocol
    is unit-testable (tests/test_bench_calibration.py): keep sampling
    while the two SMALLEST samples disagree by more than `tol`, up to
    `max_n` draws. A gate whose min is not corroborated within tol by a
    second draw has not produced a claimable number yet."""
    tol = ADAPT_TOL if tol is None else tol
    max_n = ADAPT_MAX_SAMPLES if max_n is None else max_n
    if len(samples) >= max_n:
        return False
    o = sorted(samples)
    return len(o) < 2 or o[1] > o[0] * tol


def _sustained_stream_mib_per_s(
    spark, copies: int = 16, runs: int = 3
) -> tuple[float, float]:
    """Drain the Demo2-equivalent aggregation over a `copies`-replicated
    events directory and return (best MiB/s over `runs` drains, input MiB).

    The per-query figure in `queries` includes ~1 s of fixed streaming
    startup (checkpoint init, file listing), which dominates a 2 MiB
    fixture and badly understates throughput; replicating the input
    amortizes it, so this measures the sustained drain rate the 4 MiB/s
    baseline bar is about. The BEST of `runs` drains is reported: this is
    a capacity figure (what the engine can sustain), and single drains on
    a shared machine were observed to wobble 2x with ambient load.
    """
    import shutil
    import tempfile
    import time as _t

    from tutorial_apache_beam_spark.operators.windowing import tumbling_counts
    from tutorial_apache_beam_spark.streaming.replay import (
        run_stream_to_memory,
        stream_events,
    )

    src = f"{SF_DIR}/events.parquet"
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        for i in range(copies):
            shutil.copy(src, f"{tmp}/events_{i}.parquet")
        total_mib = os.path.getsize(src) * copies / (1024 * 1024)
        best = 0.0
        for _ in range(runs):
            sdf = stream_events(spark, tmp, glob="events_*.parquet")
            agg = tumbling_counts(sdf, "ts", ["user_id"], "1 minute")
            t0 = _t.monotonic()
            sink = run_stream_to_memory(agg, spark, output_mode="complete")
            sink.count()
            best = max(best, total_mib / (_t.monotonic() - t0))
            # Release the drained sink's rows before the next run.
            for t in spark.catalog.listTables():
                if t.name.startswith("replay_"):
                    spark.catalog.dropTempView(t.name)
        return round(best, 2), round(total_mib, 2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _family_of(name: str) -> str:
    """Family tag from the registering module (for per-family rollups)."""
    import tutorial_apache_beam_spark.queries as qpkg

    for mod_name in (
        "demo",
        "streaming",
        "relational",
        "analytic",
        "scalar",
        "pandas_udfs",
        "llm",
        "sinks",
        "similarity",
    ):
        mod = getattr(qpkg, mod_name, None)
        if mod is not None and hasattr(mod, name):
            return mod_name
    return "other"


LOAD_MAX = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "2.0"))
LOAD_WAIT_S = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT_S", "900"))
# Absolute calibration reference (VERDICT r7 #2 / ADVICE r7): the
# committed clean-hardware time of `_cal_probe()` (min-of-5 on a quiet
# machine, loadavg 0.02, measured r8: 0.406/0.406/0.415/0.412/0.423 s).
# The probe is sha256 over a fixed 1 MiB block x600 — strictly
# single-threaded (no BLAS thread pool), allocation-free in the loop,
# and deterministic, so its wall time moves ONLY with CPU contention /
# frequency pressure on the shared host. Unlike the spread-median
# statistic (which compares a gate's samples to EACH OTHER and is blind
# to uniform slowdown — BENCH_r07 stamped itself clean while ~1.8x
# inflated), this compares against an ABSOLUTE committed constant, so a
# uniformly slowed machine can no longer stamp itself clean.
CAL_REF_S = float(os.environ.get("SPARK_GRAFT_CAL_REF_S", "0.447"))
# r14 (VERDICT r13 item 1): 1.3 let BENCH_r13's cal_ratio-1.07 run pass
# while steal sat at 7.77%. Tightened to 1.12 — just above this host's
# documented idle-probe outlier band (occasional 1.09 reads, see the
# r13 calibration-history note below), so a genuinely idle run never
# false-flags but a mid-teens-percent uniform slowdown does.
CAL_MAX_RATIO = float(os.environ.get("SPARK_GRAFT_CAL_MAX_RATIO", "1.12"))
# Clean-record eligibility (r11, VERDICT r10 item 6): bench_last.json is
# overwritten by EVERY full run — including the driver's noisy-hour runs
# (r10: a cal_ratio-1.11 run clobbered the committed 1.01 record).
# bench_clean.json is the durable twin: updated ONLY when the run is
# uncontaminated, on reference silicon, AND its calibration ratio is
# inside this tight band — a noisy run leaves the previous clean record
# untouched, so the repo always carries one machine-checkably clean
# measurement (extra.clean_stamp records why it qualified).
CLEAN_MAX_CAL_RATIO = float(
    os.environ.get("SPARK_GRAFT_CLEAN_MAX_CAL_RATIO", "1.05")
)
# CAL_REF_S is HARDWARE-SPECIFIC (ADVICE r8): it is the sha256
# throughput of the machine the reference was calibrated on. The
# artifact records the host fingerprint next to the ratio so a run on
# different silicon is visibly comparing against a foreign constant —
# when `cal_host` changes, recalibrate by running
# `python -c "import bench; print(min(bench._cal_probe() for _ in
# range(5)))"` on the idle new host and exporting SPARK_GRAFT_CAL_REF_S.
#
# Calibration history:
# - r8 host "Intel(R) Xeon(R) Processor @ 2.10GHz x32": 0.41
#   (min-of-5 at loadavg 0.02: 0.406/0.406/0.415/0.412/0.423).
# - r10: the sandbox moved to different silicon ("@ 2.70GHz x32" —
#   caught by the r9 cal_host_matches_ref field doing exactly its
#   job); idle min-of-10 on the new host is 0.453 with a very tight
#   spread (0.453–0.459), i.e. ~10% less sha256 throughput despite
#   the higher nominal clock. Cross-round comparisons of r10+ walls
#   against r8/r9 artifacts therefore carry a hardware term on top of
#   machine-hour noise; the paired A/B protocol is the only
#   apples-to-apples instrument across this boundary.
# - r13: silicon moved again, back to a "@ 2.10GHz x32" part (caught by
#   cal_host_matches_ref on the round's first full run). Idle min over
#   25 probes is 0.447 (samples 0.447–0.463 with one 0.49 outlier — a
#   wider idle spread than either previous host, so an occasional idle
#   probe can land ~1.09x the ref and miss the 1.05 clean band; that
#   costs a clean stamp on an unlucky run, never a false clean). Walls
#   on this host run ~20% FASTER than the 2.70GHz host despite ~equal
#   single-thread sha256 (headline 33.4 s vs the 42.9 s clean record at
#   the same code) — r13 in-round comparisons are same-host full runs
#   plus the paired A/B; cross-record comparisons to r12 carry the
#   hardware term.
CAL_REF_HOST = os.environ.get(
    "SPARK_GRAFT_CAL_REF_HOST",
    "Intel(R) Xeon(R) Processor @ 2.10GHz x32",
)


def _host_fingerprint() -> str:
    """'model name xNcores' from /proc/cpuinfo — enough to notice the
    machine changed under a committed CAL_REF_S."""
    try:
        model, cores = "unknown", 0
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    cores += 1
                elif line.startswith("processor"):
                    pass
        return f"{model} x{cores}"
    except Exception:
        return "unknown"
# CPU-steal fraction over the run (r8): the calibration probe catches
# slowdown a single thread can SEE, but on shared hardware a neighbor
# VM can shrink the machine's PARALLEL capacity while every single
# thread still gets a full core — observed live: two back-to-back clean
# runs (cal_ratio 1.06 both, load gate passed both) measured 33.1 vs
# 38.7 s headline, with /proc/stat showing ~2% steal even at idle.
# Δsteal/Δtotal jiffies is the direct kernel-reported measure of that
# capacity loss; the stamp takes the MAX over the run's start→mid→end
# phases (an average would dilute a burst confined to one phase).
# Threshold history: r8 set 20% ("a saturated stage loses ~1/4 of its
# throughput"), but BENCH_r13 went on record at steal_pct 7.77 with
# load_contaminated=false and 10 gates reading up to 1.7x their clean
# values — the driver's own 8-core rerun of the same code beat the
# 32-core numbers on 9 of them, proving the run externally inflated
# (VERDICT r13 item 1). Idle baseline on this host is ~2% steal, so
# r14 tightens the stamp to 3%: above the idle band, far below the
# level that demonstrably distorted a committed artifact.
STEAL_MAX_PCT = float(os.environ.get("SPARK_GRAFT_STEAL_MAX_PCT", "3"))


def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) cumulative jiffies from /proc/stat, or None where
    unavailable (non-Linux). Total sums user..steal only (fields 0-7):
    guest/guest_nice are already folded into user/nice by the kernel, so
    including them would double-count and understate the steal share."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()[1:]
        vals = [int(x) for x in parts[:8]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except Exception:
        return None


def _steal_pct(
    start: tuple[int, int] | None, end: tuple[int, int] | None = None
) -> float | None:
    """Percent of machine CPU capacity stolen by the hypervisor between
    two _cpu_jiffies snapshots (`end` defaults to now)."""
    if end is None:
        end = _cpu_jiffies()
    if start is None or end is None or end[1] <= start[1]:
        return None
    return round(100.0 * (end[0] - start[0]) / (end[1] - start[1]), 2)


def _max_phase_steal(snaps: list) -> float | None:
    """MAX steal share over consecutive snapshot phases — a whole-run
    average would dilute a burst of steal confined to one phase below
    the threshold (the same false-negative class the per-phase max of
    the cal probes closes); the phases bracket the same points the cal
    probes sample (start/mid/end)."""
    phases = [
        _steal_pct(a, b)
        for a, b in zip(snaps, snaps[1:])
    ]
    phases = [p for p in phases if p is not None]
    return max(phases) if phases else None
# Clean-vs-contaminated calibration from the two on-record r6 full runs
# at the SAME HEAD: clean (loadavg_start 0.05) had a median per-gate
# max/min sample spread of 1.59; the ambient-loaded driver run
# (loadavg_start 7.67) measured 2.38. 2.0 splits them with margin.
SPREAD_MAX = float(os.environ.get("SPARK_GRAFT_SPREAD_MAX", "2.0"))


def _cal_probe(inner_runs: int = 2) -> float:
    """Time the fixed single-threaded reference kernel (min over
    `inner_runs` back-to-back executions, so a momentary same-process
    hiccup can't false-flag — sustained EXTERNAL contention slows every
    execution and still shows). Returns seconds; divide by CAL_REF_S for
    the contamination ratio."""
    import hashlib

    best = float("inf")
    blk = bytes(range(256)) * 4096  # 1 MiB deterministic block
    for _ in range(inner_runs):
        h = hashlib.sha256()
        t0 = time.monotonic()
        for _ in range(600):
            h.update(blk)
        best = min(best, time.monotonic() - t0)
    return best


def _contamination_stamp(
    gave_up: bool,
    spread_median: float | None,
    cal_ratio: float | None,
    steal_pct: float | None = None,
) -> bool:
    """The artifact's self-adjudication verdict, from four independent
    signals: (1) the start gate gave up (run launched into ambient load),
    (2) per-gate sample spread betrays interference that VARIES mid-run,
    (3) the absolute calibration ratio betrays interference that is
    UNIFORM across the run — the BENCH_r07 false-negative mode, where
    spread-median read 1.55 (< 2.0) while every wall was ~1.8x inflated
    and loadavg_end was 29.96. Signal (3) is compared to a committed
    clean-hardware constant, not to the run's own samples, so it cannot
    be fooled by slowdown that inflates everything equally. (4) the
    kernel-reported CPU-steal fraction catches the case (1)-(3) all
    miss: a hypervisor neighbor shrinking PARALLEL capacity while each
    single thread — including the calibration probe — still gets a full
    core."""
    return bool(
        gave_up
        or (spread_median is not None and spread_median > SPREAD_MAX)
        or (cal_ratio is not None and cal_ratio > CAL_MAX_RATIO)
        or (steal_pct is not None and steal_pct > STEAL_MAX_PCT)
    )


def _load_gate() -> dict:
    """VERDICT r6 #2: don't START a benchmark on a busy machine.

    BENCH_r06 went on record 66% inflated because the driver launched it
    at 1-min loadavg 7.67; the instrumentation recorded that but nothing
    acted on it. Now the bench WAITS (up to LOAD_WAIT_S, polling) for
    the 1-min load to drop under LOAD_MAX before the JVM starts, and
    reports how long it waited + whether it gave up — so the artifact is
    self-adjudicating from its own fields."""
    waited = 0
    while os.getloadavg()[0] > LOAD_MAX and waited < LOAD_WAIT_S:
        time.sleep(15)
        waited += 15
    return {
        "threshold": LOAD_MAX,
        "waited_s": waited,
        "gave_up": os.getloadavg()[0] > LOAD_MAX,
    }


# Bounded auto-retry on a contaminated read (r13, VERDICT r12 item 6):
# BENCH_r12 shipped load_contaminated=true — the clean-record guard
# refused to stamp it, but the committed per-round artifact was still a
# noisy read. When the measurement phase ends contaminated, bench.py
# now re-runs the WHOLE measurement once (same process, warm JVM) and
# writes whichever attempt it ended on; extra.attempts records how many
# ran, so a contaminated-then-clean artifact is visibly the second try.
MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "2"))


def main() -> None:
    # `bench.py --compare REF [...]` delegates to the paired interleaved
    # A/B harness (tools/bench_compare.py) — machine-hour-proof
    # round-over-round claims; everything after --compare is passed on.
    if "--compare" in sys.argv:
        from tools import bench_compare

        i = sys.argv.index("--compare")
        bench_compare.main(sys.argv[i + 1:])
        return
    attempt = 0
    while True:
        attempt += 1
        result = _measure()
        result["extra"]["attempts"] = attempt
        if (
            not result["extra"]["load_contaminated"]
            or attempt >= MAX_ATTEMPTS
        ):
            break
    _emit(result)


def _measure() -> dict:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Ambient-load audit trail: the sandbox shares hardware, and a
    # sustained external spike can inflate a single gate 5-10x for
    # minutes (observed live: one gate's MEDIAN-of-3 at 44 s vs 5 s
    # reproduced in isolation minutes later). Recording the 1/5/15-min
    # load at start and end makes such an outlier attributable from the
    # artifact alone instead of requiring a re-run to diagnose — and
    # since r7 the load GATE below refuses to start into a spike at all.
    load_gate = _load_gate()
    load_start = [round(x, 2) for x in os.getloadavg()]
    cal_samples = [round(_cal_probe(), 3)]  # start-of-run calibration
    jiffy_snaps = [_cpu_jiffies()]
    spark = get_spark(app_name="bench")
    queries = registry.queries()

    # Warm the JVM + file listing with a trivial action so the first timed
    # query doesn't absorb session startup.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    # Headline queries run (and report) first so the headline metric stays
    # comparable round over round; unless --headline-only, every remaining
    # registered query is also timed for per-query regression tracking.
    timings: dict[str, float] = {}
    headline_samples: dict[str, list[float]] = {}
    sample_counts: dict[str, int] = {}
    # r12 (VERDICT r11 item 5): per-gate OUTPUT ROWS in the artifact, so
    # a gate that grew (new branch, new tier — rows jump) declares
    # itself machine-readably instead of requiring commit archaeology to
    # distinguish gate-growth from regression (the r11
    # streaming_discarding_panes 2.2x adjudication).
    query_rows: dict[str, int] = {}

    def cleanup() -> None:
        """Release per-run session residue, outside the timed window.

        Gates legitimately leave two kinds of state behind for their
        caller: persisted result DataFrames (`_materialize_and_release`)
        and streaming memory-sink tables (`run_stream_to_memory`). A
        single bench session runs ~150 query executions; without draining
        these between runs the pinned storage and sink rows accumulate
        into driver memory/GC pressure that inflates later queries —
        observed as 2x sweep times on the streaming family.
        """
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.name.startswith("replay_"):
                spark.catalog.dropTempView(t.name)

    def run(names: list[str], repeats: int = 1, stat: str = "min") -> None:
        for name in names:
            fn = queries[name]
            samples = []

            def one_sample() -> None:
                t0 = time.monotonic()
                n = fn(spark, SF_DIR).count()
                samples.append(time.monotonic() - t0)
                query_rows[name] = n
                cleanup()

            for _ in range(repeats):
                one_sample()
            # Adaptive signal floor (r10, VERDICT r9 item 7): a recorded
            # min is only claimable if it is REPRODUCED — the two
            # smallest samples must agree within ADAPT_TOL, else keep
            # sampling up to ADAPT_MAX. 23 of 50 gates run <1 s at
            # sf0.1, where a single scheduler hiccup IS the measurement
            # (r9's phantom 2.9x on a 0.6 s gate); with the reported
            # min corroborated to within 15% inside each run, a
            # round-over-round min ratio >1.5x cannot be produced by
            # one-sided timer noise alone — both rounds' numbers were
            # each hit twice. Cost is bounded: extra samples happen
            # only while the two best disagree, i.e. on noisy draws.
            while _needs_more_samples(samples):
                one_sample()
            # MIN over repeats, everywhere, since r6. The headline used
            # median-of-3 through r5 to stay conservative, but the sandbox
            # shares hardware and ambient neighbor load proved to be the
            # dominant error term: three consecutive same-code full runs
            # measured all-queries totals of 76 -> 112 -> 90 -> 103 s, and
            # one sustained spike held a gate's MEDIAN at 44 s vs 5 s
            # reproduced in isolation minutes later. Min-of-N is the
            # achievable time (the sweep's convention all along); the raw
            # sorted samples are recorded in extra.headline_samples so the
            # spread — and any ambient poisoning — stays visible.
            ordered = sorted(samples)
            pick = (
                ordered[(len(ordered) - 1) // 2]
                if stat == "median"
                else ordered[0]
            )
            timings[name] = round(pick, 3)
            sample_counts[name] = len(samples)
            if stat == "headline":
                # Raw samples in EXECUTION order (r7 — they were sorted
                # through r6, which made "samples degrade monotonically"
                # vacuously true of every run): the spread and ordering
                # are what distinguish "this gate regressed" from "the
                # machine was busy" without a re-run.
                headline_samples[name] = [round(s, 3) for s in samples]

    run(HEADLINE, repeats=HEADLINE_REPEATS, stat="headline")
    cal_samples.append(round(_cal_probe(), 3))  # mid-run calibration
    jiffy_snaps.append(_cpu_jiffies())

    # Demo2-equivalent sustained streaming throughput (MiB/s drained over a
    # 16x-replicated source, amortizing fixed query-startup cost). Measured
    # right after the headline set — before the full sweep's GC/codegen
    # pressure — so the figure is comparable round over round.
    mib_per_s, stream_mib = _sustained_stream_mib_per_s(spark)

    if "--headline-only" not in sys.argv:
        run(
            [n for n in sorted(queries) if n not in HEADLINE],
            repeats=SWEEP_REPEATS,
            stat="min",
        )

    # sf-scaling check (VERDICT r3 item 1): the LLM dedup/ANN/pipeline
    # family timed at the base SF and at a generated 10x fixture — each
    # gate's time_ratio should stay well under ~10 (sub-linear is expected:
    # fixed per-query overhead amortizes). Disable: SPARK_GRAFT_SCALE_CHECK=0.
    sf_scaling = None
    if os.environ.get("SPARK_GRAFT_SCALE_CHECK", "1") != "0":
        # Each section gets its OWN guard: a failure in the streaming
        # drains must not discard the minutes of batch-family numbers
        # already computed (and vice versa).
        try:
            from tools.scale_stress import sf_scaling_section

            # min-of-2 like the sweep (r6): the scale sections were the
            # last min-of-1 numbers in the artifact, and both r5→r6
            # "ratio moved with no code change" hunts (text_fingerprint,
            # lexical x10) traced to single-sample ambient outliers.
            sf_scaling = sf_scaling_section(spark, runs=SWEEP_REPEATS)
        except Exception as exc:  # never fail the bench over the extra check
            sf_scaling = {"error": f"{type(exc).__name__}: {exc}"}
        # r5: the stateful-streaming family at 10x events (disjoint
        # key spaces, same time axis) — wall must grow ~linearly and
        # state_ratio must equal the key multiplier (watermark-
        # bounded state), VERDICT r4 item 3.
        try:
            from tools.scale_stress import streaming_scaling_section

            sf_scaling.update(
                streaming_scaling_section(spark, runs=SWEEP_REPEATS)
            )
        except Exception as exc:
            sf_scaling["streaming_error"] = f"{type(exc).__name__}: {exc}"

    # The pane operator's key-count curve (VERDICT r5 item 6): its wall
    # tracks distinct keys per micro-batch, not event volume.
    try:
        from tools.pane_attrib import pane_key_curve_section

        # min-of-SWEEP_REPEATS like every other recorded number (r6):
        # single-sample curve points drifted 4.4->6.1 s run-to-run.
        pane_key_curve = pane_key_curve_section(spark, runs=SWEEP_REPEATS)
    except Exception as exc:  # never fail the bench over the extra check
        pane_key_curve = {"error": f"{type(exc).__name__}: {exc}"}

    # Self-adjudication (VERDICT r6 #2): stamp the artifact contaminated
    # when either the gate gave up (run started into ambient load anyway)
    # or the per-gate sample spread betrays interference MID-run. The
    # spread statistic is the median over headline gates of max/min
    # sample time — calibrated on the two same-HEAD r6 full runs (clean
    # 1.59 vs loaded 2.38, SPREAD_MAX=2.0 between them). Robust to the
    # first-gate codegen-warmup outlier by construction (median).
    spreads = sorted(
        max(v) / min(v) for v in headline_samples.values() if min(v) > 0
    )
    spread_median = (
        round(spreads[(len(spreads) - 1) // 2], 2) if spreads else None
    )
    # End-of-run calibration, then the contamination verdict uses the
    # WORST (max) probe time across start/mid/end: contamination at any
    # phase of the run inflates the walls measured during that phase.
    cal_samples.append(round(_cal_probe(), 3))
    jiffy_snaps.append(_cpu_jiffies())
    cal_ratio = round(max(cal_samples) / CAL_REF_S, 2)
    steal_pct = _max_phase_steal(jiffy_snaps)
    load_contaminated = _contamination_stamp(
        load_gate["gave_up"], spread_median, cal_ratio, steal_pct
    )

    total = round(sum(timings[n] for n in HEADLINE), 3)
    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = _family_of(name)
        families[fam] = round(families.get(fam, 0.0) + sec, 3)

    # Per-leg stamps for the multi-leg sink gate (r13, VERDICT r12
    # item 2): the gate records each leg's wall into
    # queries.sinks.LAST_LEG_TIMINGS; the dict here is from the gate's
    # LAST sample this run (legs are stable across samples; the
    # caller-side residual — gate min minus sum of legs — is the
    # DataSource read execution).
    from tutorial_apache_beam_spark.queries import sinks as _sinks

    sink_legs = dict(_sinks.LAST_LEG_TIMINGS) or None

    result = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extra": {
            "sink_legs": sink_legs,
            "headline_min_of": HEADLINE_REPEATS,
            "sweep_min_of": SWEEP_REPEATS,
            # r10 adaptive signal floor: mins are corroborated within
            # adapt_tol or re-sampled up to adapt_max draws; per-gate
            # draw counts in sample_counts (gates needing >base draws
            # were noisy, visible from the artifact alone).
            "adapt_tol": ADAPT_TOL,
            "adapt_max": ADAPT_MAX_SAMPLES,
            "sample_counts": sample_counts,
            "query_rows": query_rows,
            "demo2_stream_mib_per_s": mib_per_s,
            "demo2_stream_input_mib": stream_mib,
            "all_queries_total": round(sum(timings.values()), 3),
            "family_totals": families,
            "sf_scaling": sf_scaling,
            "pane_key_curve": pane_key_curve,
            "headline_samples": headline_samples,
            "loadavg_start": load_start,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "load_gate": load_gate,
            "headline_spread_median": spread_median,
            "cal_samples": cal_samples,
            "cal_ref_s": CAL_REF_S,
            "cal_ref_host": CAL_REF_HOST,
            "cal_host": _host_fingerprint(),
            "cal_host_matches_ref": _host_fingerprint() == CAL_REF_HOST,
            "cal_ratio": cal_ratio,
            "steal_pct": steal_pct,
            "load_contaminated": load_contaminated,
        },
    }
    return result


def _emit(result: dict) -> None:
    """Write the durable artifact(s) and print the slim driver line for
    the final measurement attempt."""
    timings = result["queries"]
    load_contaminated = result["extra"]["load_contaminated"]
    spread_median = result["extra"]["headline_spread_median"]
    cal_ratio = result["extra"]["cal_ratio"]
    steal_pct = result["extra"]["steal_pct"]
    mib_per_s = result["extra"]["demo2_stream_mib_per_s"]
    # Durable FULL copy first (VERDICT r4 item 1a): the driver artifact
    # keeps only a ~2000-char tail of stdout and the full result outgrew
    # it — the repo file can never be truncated that way. A
    # --headline-only run writes a SEPARATE file: letting the quick mode
    # overwrite bench_last.json would silently replace the durable
    # 50-query snapshot with an 11-query partial (bitten live in r6).
    fname = (
        "bench_headline.json"
        if "--headline-only" in sys.argv
        else "bench_last.json"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, fname), "w") as fh:
        fh.write(json.dumps(result) + "\n")
    # Durable CLEAN record (r11, VERDICT r10 item 6): refreshed only by
    # a full run that is uncontaminated, host-matched, and inside the
    # tight calibration band — so the driver's noisy-hour bench_last
    # overwrites can never clobber the committed clean measurement.
    # Two-sided band (ADVICE r11): cal_ratio well BELOW 1 means the
    # committed CAL_REF_S no longer describes this host (recalibration
    # drift, or a probe anomaly) — an implausibly fast calibration is
    # suspect, not clean, so it must not stamp the durable record.
    # A retried measurement ran on a warm JVM (VERDICT r13 item 4):
    # comparing it against cold-JVM rounds carries a fast bias, so a
    # second-attempt read may ship as bench_last.json (visibly, via
    # extra.attempts) but must never stamp the durable clean record.
    clean_eligible = (
        fname == "bench_last.json"
        and not load_contaminated
        and result["extra"].get("attempts", 1) == 1
        and result["extra"]["cal_host_matches_ref"]
        and cal_ratio is not None
        and (1.0 / CLEAN_MAX_CAL_RATIO) <= cal_ratio <= CLEAN_MAX_CAL_RATIO
    )
    if clean_eligible:
        clean = dict(result)
        clean["extra"] = dict(result["extra"])
        clean["extra"]["clean_stamp"] = {
            "cal_ratio": cal_ratio,
            "clean_max_cal_ratio": CLEAN_MAX_CAL_RATIO,
            "steal_pct": steal_pct,
            "written_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
        }
        with open(os.path.join(here, "bench_clean.json"), "w") as fh:
            fh.write(json.dumps(clean) + "\n")
    # stdout gets a COMPACT line that FITS the driver's tail budget
    # (VERDICT r5 item 3): headline metric + all 50 per-query numbers +
    # the two scalar extras, minimal whitespace (~1.7k chars). The bulky
    # extras (sf_scaling, pane_key_curve, family_totals) live in
    # bench_last.json, pointed to by "full".
    slim = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": timings,
        "sf": result["sf"],
        "extra": {
            "demo2_stream_mib_per_s": mib_per_s,
            "all_queries_total": result["extra"]["all_queries_total"],
            "load_contaminated": load_contaminated,
            "headline_spread_median": spread_median,
            "cal_ratio": cal_ratio,
            "cal_host_matches_ref": result["extra"]["cal_host_matches_ref"],
            "steal_pct": steal_pct,
            "clean_record_written": clean_eligible,
            "full": fname,
        },
    }
    # Stop Spark BEFORE printing so the JSON is the LAST thing on
    # stdout: JVM shutdown occasionally emits a stack trace (e.g. a
    # lingering streaming-query thread), and a trace landing AFTER the
    # JSON would push it out of the driver's stdout-tail capture — the
    # exact truncation failure the slim line exists to prevent.
    try:
        get_spark(app_name="bench").stop()
    except Exception:
        pass
    sys.stderr.flush()
    print(json.dumps(slim, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
