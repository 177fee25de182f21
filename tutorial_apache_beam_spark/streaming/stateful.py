"""Custom stateful streaming operators (applyInPandasWithState).

`discarding_pane_aggregate` (and its single-key count view
`discarding_pane_counts`) reproduces Beam's `discardingFiredPanes()`
semantics bit-exactly (reference Demo2.java:157, SURVEY W5) — the one
behavior Spark's output modes don't express:

- Beam discarding mode: each firing of a (key, window) pane emits only the
  delta accumulated since the previous firing (the combine accumulator is
  reset after every firing).
- Spark `update` mode: re-emits the accumulated total per trigger — Beam's
  `accumulatingFiredPanes()`, served by `accumulating_pane_aggregate`
  (JVM incremental aggregation, no Python). The two modes emit
  different values, so the caller picks the one it means.

Here each micro-batch's new rows for a (window, key) group ARE the pane
content, so the per-trigger emission is the batch-local aggregate, with a
monotonically increasing `pane_index` carried in the state store (Beam's
PaneInfo.index analog). Every combiner takes the same path: raw
(window_start, keys[, value]) rows go straight into the per-bucket
emitter. For the summable combiners (count/sum) combining a key's panes
reproduces the accumulated result; for min/max the running min/max over
panes equals the final; for mean each pane carries the pane-local mean
(Beam's discarding mean is likewise pane-local — the firings do not
compose into the global mean, by design).

r11 generalization (VERDICT r10 items 1 and 5): the pane machinery is
combiner-generic (count/sum/min/max/mean over a numeric value column),
multi-key (composite grouping keys, integral or string), and
window-generic (FixedWindows and SlidingWindows — a sliding bucket just
yields several window_start rows per event, which the per-window state
dict already handles).

r12 closes the last pane-surface refusal: SESSION windows
(`session_gap=`), Beam's `Sessions.withGapDuration` composed with
`discardingFiredPanes` (reference bar: Demo2.java:149-157 — Beam
composes any WindowFn with any pane mode). Merging windows have no
plan-time window identity, so each key's state tracks SESSION
INTERVALS (start, end, next pane ordinal) instead of fixed window
starts, merging on overlap-or-touch (new ts within gap of a session's
last event — `start2 <= end1`, Spark's own session rule). PANE-IDENTITY
RULE under merges, documented contract: the merged session inherits the
pane ordinal of the EARLIEST-START pre-existing session among those
merged (a session formed entirely from new rows starts at ordinal 0).
Consequences, both Beam-faithful for merging windows: a session's
`window_start` can move EARLIER across firings (late-but-admissible
rows extend it backwards — window identity lives in state, not in the
start value), and a merge of two fired sessions continues the earliest
constituent's ordinal (the other's firings remain in the output as
panes of a window that later merged away, exactly Beam's
`mergedWindows` behavior). Boundary convention: a session whose end
equals the current watermark is closed (keep rule `end > watermark`,
same as the fixed-window path), so an event landing exactly on both
boundaries starts a new session.

Scale / performance design — state is keyed by a HASH BUCKET of the
grouping keys, `pmod(hash(keys), PANE_BUCKETS)`, not by the key and not
by (window, key). applyInPandasWithState pays a Python invocation, an
Arrow state row and an output frame per group per micro-batch, so the
group count is the cost driver: r8 measured 66x more (window, key)
groups than users (99,921 vs 1,500 at sf0.1, a 53 s drain) and moved
state to the key; a per-key group still paid one call per key per
micro-batch, so wall rose with key count (SCALING.md "Key-bucketed
pane state"). A bucket's state row holds its keys' open windows (or
sessions) and pane ordinals as parallel arrays — one array per key
column plus the window arrays — and one call aggregates all of the
bucket's (keys, window) groups in a single vectorized pass, so calls per
micro-batch are at most PANE_BUCKETS whatever the key count. Closed
windows (end at or below the watermark) are pruned inline on every
call, and ONE event-time timer per bucket (re-armed at the newest open
end across its keys) removes the whole row once every key in it is
idle — state stays bounded on unbounded streams without per-window or
per-key timers. Murmur3 `hash` has a fixed seed, so a key lands in the
same bucket after a restart; the state store shards buckets exactly like
the built-in streaming aggregation shards keys (HDFS/RocksDB-backed at
cluster scale). The trade-off: the stateful stage runs at most
PANE_BUCKETS non-empty state tasks, whatever
`spark.sql.shuffle.partitions` says.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "window_start TIMESTAMP, user_id BIGINT, pane_count BIGINT, pane_index INT"
)
# Hash buckets the pane state is grouped by (module docstring, "Scale /
# performance design"); chosen from the key-count curve in SCALING.md
# "Key-bucketed pane state". A constant, not an option: changing it moves
# keys between buckets, so a checkpoint only restarts under the value it
# was written with.
PANE_BUCKETS = 64
BUCKET_COL = "_pane_bucket"
# Per-bucket state tails after the one ARRAY column per key column:
# fixed/sliding windows carry window starts (epoch ms) + next pane
# ordinal; sessions carry start and end in epoch MICROSECONDS (session
# starts are raw event times, so an epoch-ms view would truncate
# `window_start` by up to 999 µs — caught live against the DuckDB
# oracle's min(ts)) + next pane ordinal. Entry i of every array is one
# open (keys, window) or (keys, session).
_WINDOW_STATE_TAIL = "win_ms ARRAY<BIGINT>, pane_idx ARRAY<INT>"
_SESSION_STATE_TAIL = (
    "sess_start ARRAY<BIGINT>, sess_end ARRAY<BIGINT>, pane_idx ARRAY<INT>"
)

# Output columns every pane emission owns, plus the bucket column the
# plan adds — a grouping key with one of these names would collide with
# the emitted schema or the bucket (Spark only errors later, on the first
# ambiguous reference), so the plan refuses them up front (ADVICE r10
# item 1).
RESERVED_PANE_COLS = frozenset(
    {"window_start", "pane_count", "pane_value", "pane_index", BUCKET_COL}
)

# Combiners with a per-firing delta form: the batch-local aggregate IS
# Beam's discarding pane (accumulator reset after each firing), and the
# JVM incremental aggregation under update mode IS the accumulating pane.
PANE_AGGS = ("count", "sum", "min", "max", "mean")

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def _duration_ms(duration: str, allow_zero: bool = False) -> int:
    """Parse a Spark interval string to milliseconds — the same grammar
    `F.window` accepts for the calendar-free units: one or more
    '<n> <unit>' pairs ('1 minute 30 seconds'), case-insensitive,
    singular or plural, weeks included. The two consumers of a window
    string (F.window and this parser) must agree on what's valid, or a
    plan-time string crashes one layer but not the other.

    Validity is judged on the signed TOTAL, matching F.window's grammar
    (which accepts negative components like '1 minute -30 seconds' as
    long as the sum is positive — per-component rejection here would be
    exactly the one-layer-crashes divergence this docstring warns
    about): a non-positive total raises, except that `allow_zero`
    permits exactly zero — window durations and state TTLs need a
    strictly positive interval, while watermark components (allowed
    skew / lateness) legitimately accept '0 seconds'."""
    unit_ms = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
        "week": 604_800_000,
    }
    tokens = duration.split()
    if not tokens or len(tokens) % 2:
        raise ValueError(f"cannot parse interval string {duration!r}")
    total = 0
    for qty, unit in zip(tokens[::2], tokens[1::2]):
        key = unit.lower().rstrip("s")
        if key not in unit_ms:
            raise ValueError(
                f"unsupported interval unit {unit!r} in {duration!r}"
            )
        total += int(qty) * unit_ms[key]
    if total < 0 or (total == 0 and not allow_zero):
        # Match F.window's rejection of non-positive intervals: a
        # negative or 0-ms window/TTL would silently break pane math and
        # state expiry downstream — fail loudly at plan time instead.
        # (allow_zero admits exactly zero for watermark components,
        # never a negative total.)
        raise ValueError(
            f"interval {duration!r} must be strictly positive"
        )
    return total


def _require_utc_session(df: DataFrame, operator: str) -> None:
    """The pane operators derive window epoch-ms from pandas timestamps,
    which Arrow delivers SESSION-TIMEZONE-naive, and compare them to the
    watermark (true UTC epoch ms). In a non-UTC session every comparison
    is offset by the zone offset — open windows get pruned as expired and
    pane ordinals silently reset. The engine session pins UTC
    (session.get_spark); refuse to build the plan elsewhere."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz.upper() not in ("UTC", "GMT", "Z", "ETC/UTC"):
        raise ValueError(
            f"{operator} requires spark.sql.session.timeZone=UTC (got "
            f"{tz!r}): pane state compares session-naive pandas "
            "timestamps against the UTC watermark, which is only correct "
            "when the session timezone is UTC"
        )


def _key_value(v, kind: str):
    """One grouping-key cell as its Python state/output value: None for
    null (Arrow delivers a null integral cell as NaN in a float64 column,
    a null string as None or NaN), int for integral keys, str otherwise.

    A float64 view of an integral key is exact only below 2^53 — the
    same bound Spark's own Arrow transfer has for nullable longs — so a
    key at or beyond it raises instead of being emitted rounded."""
    if v is None or v != v:
        return None
    if kind == "int":
        if isinstance(v, float) and abs(v) >= 2**53:
            raise ValueError(
                f"integral pane key {v!r} arrived as float64 beside a null "
                "key in its batch and is not exact at or beyond 2^53"
            )
        return int(v)
    return v


def _bucket_panes(
    pdf: pd.DataFrame,
    open_panes: dict,
    key_specs: tuple[tuple[str, str], ...],
    agg: str = "count",
    value_col: str | None = None,
    value_kind: str = "int",
    value_name: str = "pane_count",
) -> pd.DataFrame:
    """Aggregate one hash bucket's micro-batch rows per (keys, window)
    and assign pane ordinals — the body of the fixed/sliding-window pane
    emitter (`_make_bucket_pane_emitter`), run once per bucket per
    micro-batch.

    One vectorized pass for all the bucket's keys: each key column is
    factorized (null is its own code), the rows are lexsorted by
    (key codes..., window epoch ms) and cut where any of them changes,
    and every group is aggregated at once with ufunc.reduceat. Output
    is ordered by key code, then ascending window. window_start is
    already window-truncated, so the ms view is lossless. Null rules,
    exact for every combiner:

    - null window_start rows are DROPPED (a null event time has no
      window);
    - null grouping-key cells group together and emit null key cells
      (an object column, like any key column holding a null);
    - null VALUE rows are ignored (Spark's sum/min/max/avg skip nulls);
      a group whose batch rows are all-null-valued emits no pane row
      for that firing (Beam combiners never see nulls at all). Float
      NaN is treated as missing too, BY CONTRACT on both pane paths
      (the plan normalizes NaN → NULL before aggregating): this
      float64 view cannot distinguish Arrow-delivered NULL from NaN,
      so the normalization turns that limitation into a defined,
      mode-stable semantic.

    Integral values ride Arrow's nullable-long representation (float64 +
    NaN) and are cast back to int64 after the null drop — exact for
    |v| < 2^53, the same bound Spark's own Arrow transfer has.

    `open_panes` maps (key values..., window epoch ms) to the next pane
    ordinal and is MUTATED in place: each emitted group's ordinal is
    bumped. Returns the output frame (possibly empty), dtypes matching
    the plan-time output schema exactly.
    """
    w_all = pdf["window_start"].to_numpy().astype("datetime64[ms]")
    valid = ~np.isnat(w_all)
    if agg != "count":
        v_series = pdf[value_col]
        valid &= v_series.notna().to_numpy()
    w_ms = w_all[valid].astype("int64")
    codes, key_uniques = [], []
    for name, kind in key_specs:
        c, u = pd.factorize(pdf[name].to_numpy()[valid], use_na_sentinel=False)
        codes.append(c)
        key_uniques.append([_key_value(v, kind) for v in u.tolist()])
    # np.lexsort's LAST key is the primary one: keys first, window last.
    order = np.lexsort((w_ms, *codes[::-1]))
    w_sorted = w_ms[order]
    codes_sorted = [c[order] for c in codes]
    n = len(w_sorted)
    brk = np.ones(n, dtype=bool)
    if n:
        brk[1:] = w_sorted[1:] != w_sorted[:-1]
        for c in codes_sorted:
            brk[1:] |= c[1:] != c[:-1]
    starts = np.flatnonzero(brk)
    counts = np.diff(np.append(starts, n))
    if agg == "count":
        values = counts.astype("int64")
    else:
        v_sorted = v_series.to_numpy()[valid].astype(
            "int64" if value_kind == "int" else "float64"
        )[order]
        if n == 0:
            values = v_sorted[:0]
        elif agg == "sum":
            values = np.add.reduceat(v_sorted, starts)
        elif agg == "min":
            values = np.minimum.reduceat(v_sorted, starts)
        elif agg == "max":
            values = np.maximum.reduceat(v_sorted, starts)
        elif agg == "mean":
            values = np.add.reduceat(v_sorted, starts).astype("float64") / counts
        else:  # pragma: no cover — validated at plan time
            raise ValueError(f"unknown pane agg {agg!r}")
    g_ms = w_sorted[starts]
    key_columns: list[np.ndarray] = []
    group_keys: list[list] = []
    for (_, kind), c, uniq in zip(key_specs, codes_sorted, key_uniques):
        g_codes = c[starts]
        # Null key cells ride an object column; otherwise the schema's
        # int64 (integral) or object (string) column.
        dtype = "int64" if kind == "int" and None not in uniq else object
        col = np.array(uniq, dtype=dtype)[g_codes]
        key_columns.append(col)
        group_keys.append(col.tolist())
    pane_indexes = np.empty(len(starts), dtype="int32")
    for j, pane in enumerate(zip(*group_keys, g_ms.tolist())):
        idx = open_panes.get(pane, 0)
        pane_indexes[j] = idx
        open_panes[pane] = idx + 1
    # _pane_frame takes epoch µs — window starts are ms-truncated so the
    # x1000 view is lossless and exact within int64 range.
    return _pane_frame(
        g_ms * 1000, values, pane_indexes, key_columns, key_specs, value_name,
    )


def _pane_frame(
    starts_us,
    values,
    pane_indexes,
    key_values,
    key_specs: tuple[tuple[str, str], ...],
    value_name: str,
) -> pd.DataFrame:
    """Output-frame construction shared by both pane bodies (fixed/sliding
    `_bucket_panes` and session `_session_panes`; starts in epoch
    MICROSECONDS — Spark timestamp precision): dtypes match the
    plan-time output schema exactly (datetime64[ns] window_start, int64
    key/value columns, int32 pane_index; null key cells ride an object
    column). Each entry of `key_values` is either a per-row ndarray or
    one key's scalar value, broadcast to every row."""
    n = len(starts_us)
    data: dict[str, Any] = {
        "window_start": np.asarray(starts_us, dtype="int64")
        .astype("datetime64[us]")
        .astype("datetime64[ns]")
    }
    for (name, kind), kv in zip(key_specs, key_values):
        if isinstance(kv, np.ndarray):
            data[name] = kv
        elif kind == "int" and kv is not None:
            data[name] = np.full(n, kv, dtype="int64")
        else:
            # Plain object ndarray, NOT pd.Series([kv]*n): a Series in
            # the DataFrame dict pays index alignment on every frame.
            data[name] = np.full(n, kv, dtype=object)
    data[value_name] = values
    data["pane_index"] = np.asarray(pane_indexes, dtype="int32")
    # copy=False: every array above is freshly built per call and never
    # mutated after this return, so the zero-copy wrap is safe and
    # skips a copy of each column.
    return pd.DataFrame(data, copy=False)


def _session_panes(
    pdf: pd.DataFrame,
    sessions: list[list],
    key_values: tuple,
    key_specs: tuple[tuple[str, str], ...],
    agg: str,
    value_col: str | None,
    value_kind: str,
    value_name: str,
    gap_us: int,
    ts_col: str,
) -> pd.DataFrame:
    """Session-window counterpart of `_bucket_panes` — run by the
    session-pane emitter (`_make_bucket_session_emitter`) once per key
    present in a bucket's micro-batch rows. All interval arithmetic is in
    epoch MICROSECONDS (Spark timestamp precision — session starts are
    raw event times, so a coarser view would truncate `window_start`).

    `sessions` is the key's open-session list, each entry
    [start_us, end_us, next_pane_idx] — MUTATED in place to the merged
    post-batch state (emitted sessions get their ordinal bumped).

    Algorithm: (1) batch-local sessionization is vectorized — sort the
    valid event times, break groups where the gap is exceeded
    (diff > gap_us, i.e. events exactly `gap` apart share a session,
    Spark's own rule), and aggregate per group with ufunc.reduceat like
    the fixed-window body; (2) the handful of batch groups then merges
    with the handful of open sessions in one sorted linear sweep
    (overlap-or-touch: next.start <= cur.end) — O(groups + sessions)
    Python on top of the vectorized row work, so per-row cost stays
    numpy-side. Null semantics carried over from `_bucket_panes`, by
    contract on both pane paths: null event times are dropped, null (or
    NaN-normalized) VALUE rows are ignored entirely — they neither
    aggregate NOR extend a session's extent — and a batch whose rows
    for a key are all invalid emits nothing and leaves state untouched.

    Pane identity under merges (the documented r12 rule): the merged
    session inherits the pane ordinal of the EARLIEST-START
    pre-existing session among those merged; a session formed entirely
    from new rows starts at 0. Mean panes carry the pane-local mean
    (sum/count combined across the merged batch groups).
    """
    t_all = pdf[ts_col].to_numpy().astype("datetime64[us]")
    valid = ~np.isnat(t_all)
    if agg == "count":
        t_us = t_all[valid].astype("int64")
        vals = None
    else:
        v_series = pdf[value_col]
        valid &= v_series.notna().to_numpy()
        t_us = t_all[valid].astype("int64")
        vals = v_series.to_numpy()[valid].astype(
            "int64" if value_kind == "int" else "float64"
        )
    out_dtype = "int64" if value_kind == "int" else "float64"
    if len(t_us) == 0:
        return _pane_frame(
            [], np.empty(0, dtype=out_dtype), [], key_values, key_specs,
            value_name,
        )
    order = np.argsort(t_us, kind="stable")
    t_sorted = t_us[order]
    v_sorted = vals[order] if vals is not None else None
    brk = np.empty(len(t_sorted), dtype=bool)
    brk[0] = True
    np.greater(t_sorted[1:] - t_sorted[:-1], gap_us, out=brk[1:])
    starts_idx = np.flatnonzero(brk)
    bounds = np.append(starts_idx, len(t_sorted))
    counts = np.diff(bounds).astype("int64")
    g_start = t_sorted[starts_idx]
    g_end = t_sorted[bounds[1:] - 1] + gap_us
    # Per-group (sum_or_value, count) accumulators — a uniform pair so
    # the merge sweep combines any agg the same way.
    if agg == "count":
        g_acc = counts
    elif agg in ("sum", "mean"):
        g_acc = np.add.reduceat(v_sorted, starts_idx)
    elif agg == "min":
        g_acc = np.minimum.reduceat(v_sorted, starts_idx)
    else:  # max — _pane_plan validated the combiner
        g_acc = np.maximum.reduceat(v_sorted, starts_idx)

    # Merge sweep over (open sessions ∪ batch groups), sorted by start;
    # ties order old-before-new so the inherited ordinal is the old one.
    items: list[tuple] = [
        (s[0], 0, s[1], s[2], None, 0) for s in sessions
    ] + [
        (int(g_start[j]), 1, int(g_end[j]), None, g_acc[j], int(counts[j]))
        for j in range(len(g_start))
    ]
    items.sort(key=lambda it: (it[0], it[1]))
    # merged entry: [start, end, inherited_idx|None, acc|None, cnt]
    merged: list[list] = []
    for start, kind, end, old_idx, acc, cnt in items:
        if merged and start <= merged[-1][1]:
            m = merged[-1]
            m[1] = max(m[1], end)
            if kind == 0:
                if m[2] is None:
                    m[2] = old_idx
            else:
                if m[3] is None:
                    m[3] = acc
                elif agg in ("count", "sum", "mean"):
                    m[3] = m[3] + acc
                elif agg == "min":
                    m[3] = min(m[3], acc)
                else:
                    m[3] = max(m[3], acc)
                m[4] += cnt
        else:
            # Uniform shape: old entries carry acc=None/cnt=0, new ones
            # old_idx=None — the loop above fills whichever is missing.
            merged.append([start, end, old_idx, acc, cnt])
    out_starts: list[int] = []
    out_values: list = []
    out_idx: list[int] = []
    sessions.clear()
    for start, end, old_idx, acc, cnt in merged:
        idx = 0 if old_idx is None else old_idx
        if acc is not None:  # touched by this batch → fire a pane
            out_starts.append(start)
            out_values.append(acc / cnt if agg == "mean" else acc)
            out_idx.append(idx)
            sessions.append([start, end, idx + 1])
        else:
            sessions.append([start, end, idx])
    return _pane_frame(
        out_starts,
        np.asarray(out_values, dtype=out_dtype),
        out_idx,
        key_values,
        key_specs,
        value_name,
    )


def _bucket_state(state: GroupState, n_keys: int, n_tail: int) -> list:
    """A bucket's state row as its parallel arrays (key columns first,
    then the window or session tail), or empty arrays for a new bucket."""
    return list(state.get) if state.exists else [[]] * (n_keys + n_tail)


def _store_bucket_state(state: GroupState, entries, n_cols: int) -> None:
    """Write a bucket's open entries (tuples, one per (keys, window) or
    (keys, session)) back as its parallel-array state row."""
    cols = list(zip(*entries)) if entries else [()] * n_cols
    state.update(tuple(list(c) for c in cols))


def _concat_batches(batches: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    frames = [b for b in batches if len(b)]
    if not frames:
        return None
    return pd.concat(frames) if len(frames) > 1 else frames[0]


def _make_bucket_session_emitter(
    gap_us: int,
    key_specs: tuple[tuple[str, str], ...],
    agg: str,
    value_col: str | None,
    value_kind: str,
    value_name: str,
    ts_col: str,
):
    """Per-BUCKET session-pane emitter: the bucket's open sessions as
    parallel arrays (one per key column, then start, end in epoch µs and
    next pane ordinal); inline pruning of sessions the watermark closed;
    the bucket's rows split by key (nulls form their own key) and each
    key's rows sessionized by `_session_panes` against that key's open
    sessions; ONE re-armed event-time timer per bucket at the newest
    session end across its keys. Watermark and timer ride Spark's
    millisecond API: the prune compares in µs (wm_ms * 1000), the timer
    target rounds the newest end UP to the next ms so the cleanup can
    never fire before a session truly closes."""
    n_keys = len(key_specs)
    key_names = [name for name, _ in key_specs]
    kinds = [kind for _, kind in key_specs]

    def _emit_session_bucket(
        bucket: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark passed every session of every key in the bucket.
            state.remove()
            return
        pdf = _concat_batches(batches)
        if pdf is None:
            return
        *key_lists, starts, ends, idxs = _bucket_state(state, n_keys, 3)
        watermark_ms = state.getCurrentWatermarkMs()
        wm_us = watermark_ms * 1000
        sessions_by_key: dict[tuple, list[list]] = {}
        for *keys, s, e, i in zip(*key_lists, starts, ends, idxs):
            if e > wm_us:  # closed sessions cannot be extended
                sessions_by_key.setdefault(tuple(keys), []).append([s, e, i])

        outs = []
        for raw_key, rows in pdf.groupby(key_names, dropna=False, sort=False):
            keys = tuple(_key_value(v, k) for v, k in zip(raw_key, kinds))
            outs.append(
                _session_panes(
                    rows, sessions_by_key.setdefault(keys, []), keys,
                    key_specs, agg, value_col, value_kind, value_name,
                    gap_us, ts_col,
                )
            )
        yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

        entries = [
            (*keys, *session)
            for keys, sessions in sessions_by_key.items()
            for session in sessions
        ]
        _store_bucket_state(state, entries, n_keys + 3)
        newest_end_ms = (
            -(-max(e[-2] for e in entries) // 1000) if entries else 0
        )
        state.setTimeoutTimestamp(max(newest_end_ms, watermark_ms + 1))

    return _emit_session_bucket


def _make_bucket_pane_emitter(
    window_ms: int,
    key_specs: tuple[tuple[str, str], ...],
    agg: str,
    value_col: str | None,
    value_kind: str,
    value_name: str,
):
    """Per-BUCKET fixed/sliding pane emitter with the combiner and window
    length baked in: the bucket's open (keys, window) entries as parallel
    arrays (one per key column, then window start epoch ms and next pane
    ordinal), pruned inline once the window's end passes the watermark;
    `_bucket_panes` aggregates all of the bucket's keys at once; ONE
    re-armed event-time timer per bucket at the newest open window end
    across its keys."""
    n_keys = len(key_specs)

    def _emit_pane_bucket(
        bucket: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark passed every window of every key in the bucket.
            state.remove()
            return
        pdf = _concat_batches(batches)
        if pdf is None:
            return
        *key_lists, win_ms, pane_idx = _bucket_state(state, n_keys, 2)
        # Inline cleanup: drop windows whose end passed the watermark
        # (their rows can no longer arrive — Spark filters them upstream).
        watermark_ms = state.getCurrentWatermarkMs()
        open_panes = {
            pane: i
            for pane, i in zip(zip(*key_lists, win_ms), pane_idx)
            if not watermark_ms or pane[-1] + window_ms > watermark_ms
        }

        yield _bucket_panes(
            pdf, open_panes, key_specs, agg, value_col, value_kind,
            value_name,
        )

        _store_bucket_state(
            state,
            [(*pane, i) for pane, i in open_panes.items()],
            n_keys + 2,
        )
        # Fire once the watermark passes the NEWEST open window's end
        # across the bucket's keys (re-armed every batch). Spark requires
        # a timestamp beyond the current watermark; clamp defensively.
        newest_end = (
            max(pane[-1] for pane in open_panes) + window_ms
            if open_panes
            else 0
        )
        state.setTimeoutTimestamp(max(newest_end, watermark_ms + 1))

    return _emit_pane_bucket


def _bucket_state_schema(
    key_specs: tuple[tuple[str, str], ...], tail: str
) -> str:
    """DDL of a bucket's state row: one nullable ARRAY per key column
    (`key0`, `key1`, ... — positional, so no key name can collide with
    the tail), then the window or session tail."""
    keys = ", ".join(
        f"key{i} ARRAY<{'BIGINT' if kind == 'int' else 'STRING'}>"
        for i, (_, kind) in enumerate(key_specs)
    )
    return f"{keys}, {tail}"


def _with_pane_bucket(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Add the hash-bucket column both pane branches group by:
    applyInPandasWithState groups by columns only, not expressions."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash(*key_cols), F.lit(PANE_BUCKETS))
    )


def _bucketed_pane_state(
    rows: DataFrame,
    key_cols: list[str],
    watermark_delay: str,
    emitter,
    out_schema: T.StructType,
    state_schema: str,
) -> DataFrame:
    """The stateful stage both pane branches share: bucket `rows` by
    their keys, watermark the `window_start` column, and run `emitter`
    once per bucket per micro-batch with an event-time timeout."""
    return (
        _with_pane_bucket(rows, key_cols)
        .withWatermark("window_start", watermark_delay)
        .groupBy(BUCKET_COL)
        .applyInPandasWithState(
            emitter,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _pane_plan(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    window_duration: str,
    slide_duration: str | None,
    agg: str,
    value_col: str | None,
    operator: str,
    session_gap: str | None = None,
):
    """Shared plan-time validation for both pane paths: combiner, key and
    value typing, reserved-name collisions, window bucketing. Returns
    (key_specs, value_kind, value_name, out_schema, bucket_col) —
    bucket_col is None for session windows (r12: merging windows have no
    plan-time bucket; session extent is computed in the keyed state)."""
    if session_gap is not None and slide_duration is not None:
        raise ValueError(
            f"{operator}: session_gap and slide_duration are mutually "
            "exclusive — a session window has no slide"
        )
    if agg not in PANE_AGGS:
        raise ValueError(
            f"{operator}: unknown pane combiner {agg!r}; the per-firing "
            f"delta form exists for {list(PANE_AGGS)}"
        )
    if agg == "count":
        if value_col is not None:
            raise ValueError(
                f"{operator}: agg='count' takes no value column "
                f"(got {value_col!r})"
            )
        value_kind, value_name = "int", "pane_count"
    else:
        if value_col is None:
            raise ValueError(f"{operator}: agg={agg!r} requires value_col")
        vtype = events.schema[value_col].dataType
        if isinstance(vtype, _INTEGRAL_TYPES):
            value_kind = "int"
        elif isinstance(vtype, _FLOAT_TYPES):
            value_kind = "float"
        else:
            raise ValueError(
                f"{operator}: value column {value_col!r} must be integral "
                f"or float/double (got {vtype.simpleString()}) — cast it "
                "first (decimal panes would need exact decimal pane "
                "state, which this operator does not carry)"
            )
        if agg == "mean":
            value_kind = "float"
        value_name = "pane_value"
    if not key_cols:
        raise ValueError(f"{operator}: at least one key column is required")
    if len(set(key_cols)) != len(key_cols):
        raise ValueError(f"{operator}: duplicate key columns {key_cols!r}")
    key_specs: list[tuple[str, str]] = []
    fields = [T.StructField("window_start", T.TimestampType())]
    for kc in key_cols:
        if kc in RESERVED_PANE_COLS:
            raise ValueError(
                f"{operator}: key column {kc!r} collides with a pane "
                f"output column ({sorted(RESERVED_PANE_COLS)}) — rename "
                "it before windowing (ADVICE r10)"
            )
        ktype = events.schema[kc].dataType
        if isinstance(ktype, _INTEGRAL_TYPES):
            key_specs.append((kc, "int"))
            fields.append(T.StructField(kc, T.LongType()))
        elif isinstance(ktype, T.StringType):
            key_specs.append((kc, "str"))
            fields.append(T.StructField(kc, T.StringType()))
        else:
            raise ValueError(
                f"{operator}: key column {kc!r} must be integral or "
                f"string (state key construction pins those); got "
                f"{ktype.simpleString()} — map it to an id first"
            )
    fields.append(
        T.StructField(
            value_name,
            T.LongType() if value_kind == "int" else T.DoubleType(),
        )
    )
    fields.append(T.StructField("pane_index", T.IntegerType()))
    if session_gap is not None:
        _duration_ms(session_gap)  # validate the gap grammar at plan time
        bucket = None
    elif slide_duration is None:
        bucket = F.window(F.col(ts_col), window_duration)
    else:
        # Sliding: F.window with a slide expands each event into every
        # window it falls in (analyzer Expand), so the downstream
        # per-window pane state needs no slide awareness at all.
        bucket = F.window(F.col(ts_col), window_duration, slide_duration)
    return tuple(key_specs), value_kind, value_name, T.StructType(fields), bucket


def discarding_pane_aggregate(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | tuple[str, ...] = ("user_id",),
    value_col: str | None = None,
    agg: str = "count",
    window_duration: str = "1 minute",
    slide_duration: str | None = None,
    watermark_delay: str = "2 minutes",
    session_gap: str | None = None,
) -> DataFrame:
    """Per-(window, keys) combiner firings with Beam discarding-pane
    semantics, combiner-generic (r11; count/sum/min/max/mean).

    Input: a streaming DataFrame with an event-time column. Output: one
    row per (window, keys, firing) whose `pane_count`/`pane_value` is the
    combiner applied to ONLY the rows that arrived since the previous
    firing (Beam resets the accumulator after each firing), and
    `pane_index` counts firings — Beam's `.discardingFiredPanes()` +
    `Combine.perKey` on a fixed, sliding, or (r12) SESSION window,
    expressed as a keyed state-store operator. Composition invariants:
    count/sum panes sum to the accumulated total; running min/max over
    panes equals the final min/max; mean panes are pane-local (as in
    Beam).

    `session_gap` selects merging session windows
    (Beam `Sessions.withGapDuration`): `window_duration` is then unused
    and `window_start` is the session's start, which can move EARLIER
    across firings as admissible rows extend the session backwards; the
    pane-identity rule under merges is documented in the module
    docstring (merged session inherits the earliest-start constituent's
    ordinal).
    """
    key_cols = list(key_cols)
    _require_utc_session(events, "discarding_pane_aggregate")
    key_specs, value_kind, value_name, out_schema, bucket = _pane_plan(
        events, ts_col, key_cols, window_duration, slide_duration,
        agg, value_col, "discarding_pane_aggregate", session_gap,
    )
    if session_gap is not None:
        # No plan-time bucketing for merging windows: the watermark
        # rides the RAW event time and the keyed state computes session
        # extents. Late rows (ts below the watermark) are dropped by
        # Spark upstream, exactly like the bucketed paths. The raw time
        # is ALIASED to window_start before the watermark — a fresh
        # attribute, like the fixed path's derived bucket — so composing
        # under an upstream watermark on ts_col (the Pipeline API's
        # WindowInto) doesn't trip Spark's redefining-watermark check.
        keep = [value_col] if value_col is not None else []
        # timestamp_micros(unix_micros(ts)) is an EXACT identity for
        # Spark's µs timestamps whose sole job is to be a COMPUTED
        # expression: a plain alias inherits the upstream column's
        # watermark metadata and re-watermarking it is 'redefining'
        # (measured under the Pipeline API's WindowInto); a computed
        # column starts metadata-free, like the fixed path's
        # window().start.
        sessions_in = events.select(
            F.timestamp_micros(F.unix_micros(F.col(ts_col))).alias(
                "window_start"
            ),
            *key_cols,
            *keep,
        )
        if value_col is not None and isinstance(
            events.schema[value_col].dataType, _FLOAT_TYPES
        ):
            sessions_in = sessions_in.withColumn(
                value_col,
                F.nanvl(F.col(value_col), F.lit(None).cast("double")),
            )
        return _bucketed_pane_state(
            sessions_in, key_cols, watermark_delay,
            _make_bucket_session_emitter(
                _duration_ms(session_gap) * 1000,  # interval math in µs
                key_specs, agg, value_col,
                value_kind, value_name, "window_start",
            ),
            out_schema,
            _bucket_state_schema(key_specs, _SESSION_STATE_TAIL),
        )
    # The watermark must ride on a column that survives the projection, so
    # it is declared on the derived window_start (event-time truncated to
    # the window) rather than the raw timestamp. For sliding windows one
    # event yields several window_start rows spanning (ts - size, ts];
    # the watermark advances on the max, so the declared delay is
    # WIDENED by (size - period) — without that, an ON-TIME event's
    # older window instances would be dropped as late the moment
    # size - period exceeds the delay (r11 review), silently
    # undercounting panes. The widening restores an effective lateness
    # tolerance of `watermark_delay` in event-time terms, matching the
    # accumulating path's raw-ts watermark.
    keep = [value_col] if value_col is not None else []
    effective_delay = watermark_delay
    if slide_duration is not None:
        span_ms = max(
            _duration_ms(window_duration) - _duration_ms(slide_duration), 0
        )
        effective_delay = (
            f"{_duration_ms(watermark_delay, allow_zero=True) + span_ms}"
            " milliseconds"
        )
    bucketed = events.withColumn("window_start", bucket.start).select(
        "window_start", *key_cols, *keep
    )
    if value_col is not None and isinstance(
        events.schema[value_col].dataType, _FLOAT_TYPES
    ):
        # NaN → NULL before the emitter: after Arrow transfer the
        # pandas float64 view cannot distinguish NULL from NaN, so the
        # Python path inherently treats both as missing — normalizing
        # HERE (and identically on the accumulating path) makes that a
        # defined, mode-stable semantic instead of a silent
        # discarding-vs-accumulating divergence (r11 review).
        bucketed = bucketed.withColumn(
            value_col,
            F.nanvl(F.col(value_col), F.lit(None).cast("double")),
        )
    return _bucketed_pane_state(
        bucketed, key_cols, effective_delay,
        _make_bucket_pane_emitter(
            _duration_ms(window_duration), key_specs, agg, value_col,
            value_kind, value_name,
        ),
        out_schema,
        _bucket_state_schema(key_specs, _WINDOW_STATE_TAIL),
    )


def accumulating_pane_aggregate(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | tuple[str, ...] = ("user_id",),
    value_col: str | None = None,
    agg: str = "count",
    window_duration: str = "1 minute",
    slide_duration: str | None = None,
    watermark_delay: str = "2 minutes",
    session_gap: str | None = None,
) -> DataFrame:
    """Beam's `.accumulatingFiredPanes()`, combiner-generic: JVM
    incremental windowed aggregation with the pane output schema. Run
    under UPDATE output mode each trigger re-emits the ACCUMULATED
    aggregate for keys the batch touched — Beam's
    `.accumulatingFiredPanes()` — entirely inside the JVM
    streaming-aggregation operator: partial map-side combine, state
    bounded at one row per open (window, key), no per-key Python
    invocation, so wall scales with DATA, not keys x micro-batches.
    `session_gap` (r12) swaps the bucket for `F.session_window` — the
    JVM's native merging-session aggregation, same output shape — with
    one mode caveat: Spark refuses UPDATE output for merging-window
    aggregations (a session's identity changes under merges, measured:
    STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION), so session
    accumulating panes drain in APPEND mode and fire ONCE per session,
    at close, with the final accumulated value — exactly Beam's
    `accumulatingFiredPanes` under the default AfterWatermark trigger
    on Sessions. Callers needing per-trigger session firings asked for
    'discarding' (which emits every touched session every batch).

    pane_index is NULL by contract: firing ordinals require per-key state
    the JVM aggregation doesn't track; callers who need them use
    `discarding_pane_aggregate`. The aggregate column is cast to the
    discarding path's type (BIGINT for integral sum/min/max and count,
    DOUBLE otherwise) so both pane modes share one output schema.
    """
    key_cols = list(key_cols)
    key_specs, value_kind, value_name, _schema, bucket = _pane_plan(
        events, ts_col, key_cols, window_duration, slide_duration,
        agg, value_col, "accumulating_pane_aggregate", session_gap,
    )
    if session_gap is not None:
        bucket = F.session_window(F.col(ts_col), session_gap)
    del key_specs  # accumulating keeps caller types; specs validate only
    if agg == "count":
        expr = F.count(F.lit(1))
    else:
        src = F.col(value_col)
        if isinstance(events.schema[value_col].dataType, _FLOAT_TYPES):
            # NaN → NULL, mirroring the discarding path (whose pandas
            # float64 view cannot tell them apart): both pane modes
            # treat NaN as missing, by contract (r11 review).
            src = F.nanvl(src, F.lit(None).cast("double"))
        expr = {"sum": F.sum, "min": F.min, "max": F.max, "mean": F.avg}[
            agg
        ](src)
    out_type = "bigint" if value_kind == "int" else "double"
    bucket_name = "session_window" if session_gap is not None else "window"
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(bucket, *key_cols)
        .agg(expr.cast(out_type).alias(value_name))
        .select(
            F.col(f"{bucket_name}.start").alias("window_start"),
            *key_cols,
            value_name,
            F.lit(None).cast("int").alias("pane_index"),
        )
    )


def discarding_pane_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Per-(window, key) click counts with Beam discarding-pane firings —
    the historical single-key count form, now a view over the
    combiner-generic `discarding_pane_aggregate` (which also lifted the
    r10 integral-key-only restriction: string keys build real plans)."""
    return discarding_pane_aggregate(
        events,
        ts_col=ts_col,
        key_cols=[key_col],
        agg="count",
        window_duration=window_duration,
        watermark_delay=watermark_delay,
    )
