"""Beam-equivalent pipeline API compiling to Spark DataFrame plans.

The reference builds pipelines as `Pipeline.create(options)` followed by
chained `.apply(name, transform)` calls (Demo1.java:79-100,
Demo2.java:115-177). This module mirrors that construction surface so the
two demo programs can be written nearly verbatim — but every transform just
extends a lazy DataFrame logical plan; Catalyst/Tungsten own optimization
and execution (SURVEY §2.5 P1-P4).

Semantics mapping (SURVEY §2.3):
- `WithTimestamps(col).with_allowed_skew(d)` — in Spark the event-time
  column IS the timestamp; skew folds into the watermark delay (W1).
- `WindowInto(FixedWindows(...)).with_allowed_lateness(d)` — tumbling
  window bucketing; on a streaming input, skew + lateness compose into one
  `withWatermark` delay (W2, W4 — Beam separates them, Spark sums them).
- `Count.perKey()` after a WindowInto — `groupBy(window(ts, ...), key)`
  (W6), the incremental state-store aggregation in streaming.
- Triggers/panes (W3/W5) map to output modes at the sink: "append" =
  emit once when the watermark passes the window (AfterWatermark);
  "update" = re-emit changed accumulated counts per micro-batch
  (≈ late firings, accumulating panes). Bit-exact per-pane *deltas*
  (discardingFiredPanes) are the one behavior output modes can't express;
  they live in `streaming.stateful.discarding_pane_aggregate`
  (applyInPandasWithState, SURVEY W5/§4.2).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
import dataclasses
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _temp_col_name(stem: str, existing: list[str]) -> str:
    """A working-column name guaranteed absent from ``existing`` (user
    frames may legitimately contain `_rn`/`_rk`-style names)."""
    name = f"_{stem}"
    while name in existing:
        name = f"_{name}"
    return name


# ---------------------------------------------------------------------------
# Window functions (Beam WindowFn equivalents)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FixedWindows:
    """Tumbling windows (Beam FixedWindows; reference Demo2.java:151-152)."""

    duration: str

    def bucket(self, ts: Column) -> Column:
        return F.window(ts, self.duration)


@dataclass(frozen=True)
class SlidingWindows:
    """Hopping windows (Beam SlidingWindows)."""

    size: str
    period: str

    def bucket(self, ts: Column) -> Column:
        return F.window(ts, self.size, self.period)


@dataclass(frozen=True)
class Sessions:
    """Gap-merged session windows (Beam Sessions)."""

    gap: str

    def bucket(self, ts: Column) -> Column:
        return F.session_window(ts, self.gap)


WindowFn = FixedWindows | SlidingWindows | Sessions


# ---------------------------------------------------------------------------
# PCollection: a DataFrame + event-time/windowing context
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class WindowingSpec:
    window_fn: WindowFn | None = None
    ts_col: str | None = None
    allowed_skew: str | None = None
    allowed_lateness: str | None = None
    # Beam pane accumulation (r10, VERDICT r9 item 5): None = final
    # result per window (the default append/complete mapping);
    # "discarding" / "accumulating" select per-firing pane semantics
    # for a downstream per-key combine (see WindowInto).
    accumulation: str | None = None

    def watermark_delay_ms(self) -> int:
        """Beam keeps skew and lateness separate; Spark has one watermark
        delay — the faithful composition is their sum (SURVEY §7.4.2).
        Milliseconds, NOT floored to seconds: a declared tolerance of
        '500 milliseconds' must not truncate to a 0-second watermark
        that drops every event inside it."""
        total = 0
        for d in (self.allowed_skew, self.allowed_lateness):
            if d:
                total += _duration_to_ms(d)
        return total

    def watermark_delay_seconds(self) -> int:
        """Whole-second view of `watermark_delay_ms` (diagnostics)."""
        return self.watermark_delay_ms() // 1000


def _duration_to_ms(d: str) -> int:
    # One interval grammar across the engine (r5 review: two drifting
    # parsers for the same Spark interval strings): delegate to the
    # ms-based parser, which also accepts compound/week intervals.
    # allow_zero: this path feeds watermark-delay components, where
    # '0 seconds' (no skew / no lateness) is a legitimate value.
    from tutorial_apache_beam_spark.streaming.stateful import _duration_ms

    return _duration_ms(d.strip(), allow_zero=True)


class PCollection:
    """An immutable stream/table of rows flowing through the pipeline —
    Beam's PCollection<T>, realized as a DataFrame plus windowing context."""

    def __init__(
        self, df: DataFrame, pipeline: "Pipeline", spec: WindowingSpec | None = None
    ):
        self.df = df
        self.pipeline = pipeline
        self.spec = spec or WindowingSpec()

    def apply(self, name: str, transform: "PTransform | None" = None) -> "PCollection":
        """`pcoll.apply("Name", transform)` — the reference's chaining form
        (Demo2.java:115-175). Name is kept for plan readability only."""
        if transform is None:
            raise ValueError("apply() requires a transform")
        out = transform.expand(self)
        if isinstance(out.df, DataFrame) and name:
            out.df = out.df.alias(_sanitize(name))
        return out

    def _with(self, df: DataFrame, spec: WindowingSpec | None = None) -> "PCollection":
        return PCollection(df, self.pipeline, spec or self.spec)


def _sanitize(name: str) -> str:
    return "".join(c if c.isalnum() or c == "_" else "_" for c in name)


# ---------------------------------------------------------------------------
# Pipeline
# ---------------------------------------------------------------------------


class PipelineResult:
    """Handle over started streaming queries (Beam PipelineResult analog).

    For batch pipelines the plan already executed at the sink `apply`;
    `wait_until_finish` is a no-op then.
    """

    def __init__(self, queries: list[Any]):
        self.queries = queries

    def wait_until_finish(self) -> None:
        for q in self.queries:
            q.awaitTermination()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()


class Pipeline:
    """Pipeline.create equivalent: owns the SparkSession and root sources."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._streaming_queries: list[Any] = []

    # -- root sources -------------------------------------------------------

    def create(self, df: DataFrame) -> PCollection:
        """Root PCollection from an existing DataFrame (batch or stream)."""
        return PCollection(df, self)

    def read_parquet(self, path: str) -> PCollection:
        return PCollection(self.spark.read.parquet(path), self)

    def read_message_stream(self, path: str) -> PCollection:
        """Unbounded raw-message source: one payload per line in a watched
        directory, surfaced as a single `value STRING` column — the same
        shape a Kafka/Pub-Sub-Lite source delivers (payload bytes + metadata,
        SURVEY S1). Swap for `.readStream.format("kafka")` in production;
        downstream parse stages are unchanged."""
        df = self.spark.readStream.text(path)
        return PCollection(df, self)

    def read_parquet_stream(self, path: str, schema) -> PCollection:
        df = self.spark.readStream.schema(schema).parquet(path)
        return PCollection(df, self)

    def counter(self, name: str) -> "Counter":
        """Create a named metric counter (Beam Metrics.counter analog)."""
        return Counter(self.spark, name)

    def run(self) -> PipelineResult:
        return PipelineResult(list(self._streaming_queries))


# ---------------------------------------------------------------------------
# PTransforms
# ---------------------------------------------------------------------------


class PTransform:
    """Composite transform (Beam PTransform.expand — Demo1.java:54-71)."""

    def expand(self, pcoll: PCollection) -> PCollection:
        raise NotImplementedError


class Create(PTransform):
    """Wrap a fixed DataFrame into the pipeline (Beam Create analog)."""

    def __init__(self, df: DataFrame):
        self.df = df

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll._with(self.df)


class MapElements(PTransform):
    """Declarative element-wise transform: fn(DataFrame) -> DataFrame built
    from Column expressions (the fast path — stays in codegen).

    This is the engine's preferred ParDo form: the reference's
    MessageTransform drop-malformed parse (Demo1.java:52-72) is
    `MapElements(parse_click_messages)`.
    """

    def __init__(self, fn: Callable[[DataFrame], DataFrame]):
        self.fn = fn

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll._with(self.fn(pcoll.df))


class Filter(PTransform):
    def __init__(self, predicate: Column):
        self.predicate = predicate

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll._with(pcoll.df.filter(self.predicate))


class ParDo(PTransform):
    """Imperative per-batch DoFn via mapInPandas (the Beam-DoFn escape
    hatch; Arrow-vectorized, never row-at-a-time).

    `dofn` receives a pandas DataFrame batch and yields/returns transformed
    batches; `output_schema` is the DDL of the result. Use only when the
    logic genuinely can't be expressed as Column expressions — a Python
    stage breaks whole-stage codegen and costs a JVM<->Python hop.
    """

    def __init__(self, dofn: Callable, output_schema: str):
        self.dofn = dofn
        self.output_schema = output_schema

    def expand(self, pcoll: PCollection) -> PCollection:
        dofn = self.dofn

        def _map(batches: Iterator) -> Iterator:
            for batch in batches:
                out = dofn(batch)
                if out is None:
                    continue
                if hasattr(out, "__iter__") and not hasattr(out, "columns"):
                    yield from out
                else:
                    yield out

        return pcoll._with(pcoll.df.mapInPandas(_map, self.output_schema))


class WithTimestamps(PTransform):
    """Designate the event-time column (Beam WithTimestamps.of —
    Demo2.java:136-139). Skew tolerance folds into the watermark."""

    def __init__(self, ts_col: str, allowed_skew: str | None = None):
        self.ts_col = ts_col
        self.allowed_skew = allowed_skew

    def expand(self, pcoll: PCollection) -> PCollection:
        spec = dataclasses.replace(
            pcoll.spec, ts_col=self.ts_col, allowed_skew=self.allowed_skew
        )
        return pcoll._with(pcoll.df, spec)


class WindowInto(PTransform):
    """Assign event-time windows (Beam Window.into — Demo2.java:149-157).

    On a streaming DataFrame this applies `withWatermark(ts, skew+lateness)`
    immediately; the window bucketing itself happens at the next keyed
    aggregation (Spark groups by a window expression rather than re-keying
    elements).

    `accumulation` maps Beam's pane modes (r10, VERDICT r9 item 5):
    `.discardingFiredPanes()` → "discarding" (per-firing deltas with
    pane ordinals, streaming/stateful.discarding_pane_aggregate),
    `.accumulatingFiredPanes()` → "accumulating" (JVM incremental
    aggregation, accumulated values, NULL ordinals). The mode is the
    caller's statement of meaning — the two emit different values, so
    nothing picks between them on the caller's behalf. A downstream
    `Count.per_key` then emits per-FIRING panes
    (window_start, key, pane_count, pane_index) instead of one final
    row per window; leaving `accumulation=None` keeps the final-result
    mapping (Demo2.java:151-157 routes "discarding" here). Any other
    value is refused here, at construction.
    """

    def __init__(
        self,
        window_fn: WindowFn,
        allowed_lateness: str | None = None,
        accumulation: str | None = None,
    ):
        if accumulation not in (None, "discarding", "accumulating"):
            raise ValueError(
                f"unknown pane accumulation {accumulation!r}: expected "
                "None, 'discarding' or 'accumulating'"
            )
        self.window_fn = window_fn
        self.allowed_lateness = allowed_lateness
        self.accumulation = accumulation

    def expand(self, pcoll: PCollection) -> PCollection:
        if pcoll.spec.ts_col is None:
            raise ValueError("WindowInto requires WithTimestamps first")
        spec = WindowingSpec(
            window_fn=self.window_fn,
            ts_col=pcoll.spec.ts_col,
            allowed_skew=pcoll.spec.allowed_skew,
            allowed_lateness=self.allowed_lateness,
            accumulation=self.accumulation,
        )
        df = pcoll.df
        if df.isStreaming:
            delay_ms = spec.watermark_delay_ms()
            df = df.withWatermark(
                spec.ts_col, f"{max(delay_ms, 0)} milliseconds"
            )
        out = pcoll._with(df, spec)
        # Pane-accumulation consumers rebuild the watermark on their own
        # derived event-time column (streaming/stateful), and Spark
        # forbids a second EventTimeWatermark node downstream of this
        # one ("Redefining watermark is disallowed", measured at query
        # start — r12). Hand them the PRE-watermark frame so the final
        # plan carries exactly one watermark: the operator's.
        out.pre_watermark_df = pcoll.df
        return out


class _PerKeyAgg(PTransform):
    """Shared machinery for Count/Sum/Mean.perKey over optional windows."""

    def __init__(self, key_cols: list[str]):
        self.key_cols = key_cols

    def agg_exprs(self) -> list[Column]:
        raise NotImplementedError

    def pane_agg(self) -> tuple[str, str | None] | None:
        """(combiner_name, value_col) when this combiner has a per-firing
        delta form for WindowInto(accumulation=...) — the incremental
        combiners count/sum/min/max/mean do (r11, VERDICT r10 item 1).
        None refuses pane accumulation."""
        return None

    def expand(self, pcoll: PCollection) -> PCollection:
        if pcoll.spec.accumulation is not None:
            pane = self.pane_agg()
            if pane is None:
                # Silently emitting final results downstream of
                # WindowInto(accumulation=...) would look like panes and
                # not be — refuse instead. (r10 refused everything but
                # Count; r11 narrowed this to combiners with no
                # incremental per-firing form.)
                raise NotImplementedError(
                    "pane accumulation (WindowInto accumulation=...) is "
                    "implemented for the incremental combiners "
                    "(Count/Sum/Mean/Min/Max per key); "
                    f"{type(self).__name__} has no per-firing delta form "
                    "— drop the accumulation argument for final "
                    "per-window results"
                )
            return self._expand_panes(pcoll, pane)
        return pcoll._with(
            _windowed_group_agg(pcoll, self.key_cols, self.agg_exprs())
        )

    def _expand_panes(
        self, pcoll: PCollection, pane: tuple[str, str | None]
    ) -> PCollection:
        """Route a pane-accumulation combine to the operator its mode
        names (streaming/stateful.discarding_pane_aggregate or
        accumulating_pane_aggregate). Emits per-firing rows
        (window_start, *keys, pane_count|pane_value, pane_index). r11:
        combiner-generic, multi-key, fixed AND sliding windows (VERDICT
        r10 items 1+5)."""
        spec = pcoll.spec
        session_gap = None
        if isinstance(spec.window_fn, FixedWindows):
            duration, slide = spec.window_fn.duration, None
        elif isinstance(spec.window_fn, SlidingWindows):
            duration, slide = spec.window_fn.size, spec.window_fn.period
        else:
            # Sessions compose with pane accumulation since r12 (the
            # last pane-surface refusal): the operator layer tracks
            # per-key session intervals, with the merged-session
            # pane-identity rule documented in streaming/stateful.py.
            # window_duration is unused on the session path; pass a
            # valid placeholder.
            duration, slide = "1 minute", None
            session_gap = spec.window_fn.gap
        agg, value_col = pane
        from tutorial_apache_beam_spark.streaming.stateful import (
            accumulating_pane_aggregate,
            discarding_pane_aggregate,
        )

        # The pane operators apply their OWN watermark (on a derived
        # event-time column); building from the WindowInto-watermarked
        # frame would put two EventTimeWatermark nodes in one plan,
        # which Spark rejects at query start. WindowInto stashes the
        # pre-watermark frame for exactly this route; a transform
        # INSERTED between WindowInto and the pane combine drops the
        # stash, so refuse with the remediation rather than let the
        # query die with an opaque STREAM_FAILED.
        src = getattr(pcoll, "pre_watermark_df", None)
        if src is None:
            if pcoll.df.isStreaming:
                raise ValueError(
                    "pane accumulation must be applied DIRECTLY after "
                    "WindowInto (the pane operator rebuilds the "
                    "watermark itself; an intermediate transform "
                    "discarded the pre-watermark frame) — move the "
                    "transform before WindowInto or after the combine"
                )
            src = pcoll.df
        pane_fn = (
            discarding_pane_aggregate
            if spec.accumulation == "discarding"
            else accumulating_pane_aggregate
        )
        out = pane_fn(
            src,
            ts_col=spec.ts_col,
            key_cols=self.key_cols,
            value_col=value_col,
            agg=agg,
            window_duration=duration,
            slide_duration=slide,
            watermark_delay=f"{spec.watermark_delay_ms()} milliseconds",
            session_gap=session_gap,
        )
        return pcoll._with(out)


def _windowed_group_agg(
    pcoll: PCollection, key_cols: list[str], agg_exprs: list[Column]
) -> DataFrame:
    """Group by (window bucket if a windowing context is active, plus any
    key columns) and unwrap the window struct to flat
    window_start/window_end columns — the ONE place in the pipeline API
    that maps a WindowFn to the struct name (`window` vs
    `session_window`) Spark emits; the unwrap itself is shared with the
    operator layer (`operators.windowing._flatten_window`) so the
    struct-shape knowledge is not duplicated. Every windowed combiner
    (Count/Sum/Mean.perKey, CombinePerKey, GroupByKey, CombineGlobally,
    CoGroupByKey) routes through here."""
    from tutorial_apache_beam_spark.operators.windowing import (
        _flatten_window,
    )

    spec = pcoll.spec
    if spec.accumulation is not None:
        # Reachable from the transforms with no per-firing delta form
        # (GroupByKey/CoGroupByKey/CombineGlobally): emitting final
        # per-window results under WindowInto(accumulation=...) would
        # masquerade as panes — refuse loudly (the incremental
        # combiners route through _PerKeyAgg._expand_panes instead).
        raise NotImplementedError(
            "pane accumulation (WindowInto accumulation=...) has no "
            "per-firing form for this transform — use an incremental "
            "combiner (Count/Sum/Mean/Min/Max per key) or drop the "
            "accumulation argument"
        )
    if spec.window_fn is None:
        return pcoll.df.groupBy(*key_cols).agg(*agg_exprs)
    bucket = spec.window_fn.bucket(F.col(spec.ts_col))
    out = pcoll.df.groupBy(bucket, *key_cols).agg(*agg_exprs)
    struct_col = (
        "session_window" if isinstance(spec.window_fn, Sessions) else "window"
    )
    return _flatten_window(out, key_cols, struct_col=struct_col)


class Count:
    """Count.perKey() (reference Demo2.java:158-160)."""

    @staticmethod
    def per_key(*key_cols: str) -> PTransform:
        class _Count(_PerKeyAgg):
            def agg_exprs(self) -> list[Column]:
                return [F.count(F.lit(1)).alias("count")]

            def pane_agg(self):
                return ("count", None)

        return _Count(list(key_cols))


class Sum:
    @staticmethod
    def per_key(value_col: str, *key_cols: str) -> PTransform:
        class _Sum(_PerKeyAgg):
            def agg_exprs(self) -> list[Column]:
                return [F.sum(value_col).alias("sum")]

            def pane_agg(self):
                return ("sum", value_col)

        return _Sum(list(key_cols))


class Mean:
    @staticmethod
    def per_key(value_col: str, *key_cols: str) -> PTransform:
        class _Mean(_PerKeyAgg):
            def agg_exprs(self) -> list[Column]:
                return [F.avg(value_col).alias("mean")]

            def pane_agg(self):
                return ("mean", value_col)

        return _Mean(list(key_cols))


class Top:
    """Beam Top: largest/smallest n (globally or per key).

    Global top-n plans as TakeOrderedAndProject (per-partition top-n then
    a single-reduce merge — no full sort); per-key top-n is the
    row_number-over-window pattern, one shuffle on the keys (Spark 3.5+
    prunes it to per-partition heaps via WindowGroupLimit).
    """

    @staticmethod
    def of(n: int, *order: Column) -> PTransform:
        class _Top(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                return pcoll._with(pcoll.df.orderBy(*order).limit(n))

        return _Top()

    @staticmethod
    def per_key(n: int, key_cols: list[str], *order: Column) -> PTransform:
        class _TopPerKey(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                w = Window.partitionBy(*key_cols).orderBy(*order)
                rn = _temp_col_name("rn", pcoll.df.columns)
                out = (
                    pcoll.df.withColumn(rn, F.row_number().over(w))
                    .filter(F.col(rn) <= n)
                    .drop(rn)
                )
                return pcoll._with(out)

        return _TopPerKey()


class Sample:
    """Beam Sample.fixedSizeGlobally — but DETERMINISTIC: rows are ranked
    by the portable hash of a caller-named id column (salted), not rand(),
    so retries/re-runs pick identical samples (the repo-wide sampling
    rule, operators/sampling.py). Plans as TakeOrdered — no full sort.
    """

    @staticmethod
    def fixed_size_globally(
        n: int, id_col: str, salt: str = "sample"
    ) -> PTransform:
        from tutorial_apache_beam_spark.functions.hashing import (
            portable_hash64,
        )

        class _Sample(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                rank = portable_hash64(
                    F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
                )
                rk = _temp_col_name("rk", pcoll.df.columns)
                out = (
                    pcoll.df.withColumn(rk, rank)
                    .orderBy(rk)
                    .limit(n)
                    .drop(rk)
                )
                return pcoll._with(out)

        return _Sample()


class Latest:
    """Beam Latest.perKey: the row with the max timestamp per key.

    All non-key columns are aggregated ATOMICALLY through one
    ``max_by(struct(*others), ts)`` so the output is always a single real
    input row — independent per-column max_by calls could stitch together
    columns from different timestamp-tied rows. Which tied row wins is
    still engine-chosen, but it is one row. One hash aggregation with
    map-side partial maxima."""

    @staticmethod
    def per_key(ts_col: str, *key_cols: str) -> PTransform:
        class _Latest(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                others = [
                    c
                    for c in pcoll.df.columns
                    if c not in key_cols and c != ts_col
                ]
                if not others:
                    return pcoll._with(
                        pcoll.df.groupBy(*key_cols).agg(
                            F.max(ts_col).alias(ts_col)
                        )
                    )
                tmp = _temp_col_name("latest", pcoll.df.columns)
                packed = pcoll.df.groupBy(*key_cols).agg(
                    F.max(ts_col).alias(ts_col),
                    F.max_by(
                        F.struct(*[F.col(c) for c in others]), F.col(ts_col)
                    ).alias(tmp),
                )
                out = packed.select(
                    *key_cols,
                    ts_col,
                    *[F.col(f"{tmp}.{c}").alias(c) for c in others],
                )
                return pcoll._with(out)

        return _Latest()


class CombineGlobally(PTransform):
    """Beam CombineGlobally: aggregate the whole PCollection to one row.

    Two-phase automatically (partial per partition, final single-reduce);
    with a windowing context active, combines per window instead —
    mirroring Beam's windowed global combine.
    """

    def __init__(self, *agg_exprs: Column):
        self.agg_exprs = list(agg_exprs)

    def expand(self, pcoll: PCollection) -> PCollection:
        if pcoll.spec.window_fn is None:
            return pcoll._with(pcoll.df.agg(*self.agg_exprs))
        return pcoll._with(_windowed_group_agg(pcoll, [], self.agg_exprs))


class Flatten(PTransform):
    """Union of PCollections (Beam Flatten)."""

    def __init__(self, *others: PCollection):
        self.others = others

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df
        for o in self.others:
            df = df.unionByName(o.df)
        return pcoll._with(df)


class Distinct(PTransform):
    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll._with(pcoll.df.distinct())


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


# Failure-injection hook for the exactly-once commit protocol (tests
# only, mirroring sources/avro_fallback's injectable task commit): when
# set, called as _EO_TEST_FAULT(stage, detail) at each named crash
# window. Raising inside foreachBatch fails the epoch BEFORE its
# checkpoint commit — byte-for-byte the on-disk state a driver death at
# that point leaves behind, and the only way to exercise the windows
# deterministically (local mode never retries, and a real kill -9 can't
# be aimed between two renames).
_EO_TEST_FAULT = None


def _eo_fault(stage: str, detail=None) -> None:
    if _EO_TEST_FAULT is not None:
        _EO_TEST_FAULT(stage, detail)


def _commit_batch_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    partition_by: list[str] | None,
) -> None:
    """Idempotent per-batch commit: stage → self-clean → prefixed rename.

    Stages the batch under `<path>/_staging-<id>` (leading underscore =
    invisible to Spark/Hive readers of `path`), deletes any `bid<id>-*`
    files a previous PARTIAL attempt of this batch left in the table,
    then renames the staged files in under that prefix (preserving
    partition subdirs). Every crash window replays safely:

    - during staging: the retry's overwrite rebuilds the staging dir;
    - between delete and the last rename, or after rename but before the
      epoch's checkpoint commit: the retry deletes exactly this batch's
      files (never another batch's — `bid1-` is not a prefix of
      `bid10-`'s name) and renames identical content again.

    Renames are per-file metadata ops on HDFS-like stores; on object
    stores they are copies, where a transactional table format is the
    production-grade alternative. All FS access goes through Hadoop's
    FileSystem API so the sink works on any supported scheme.
    """
    spark = batch_df.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(path)
    fs = root.getFileSystem(hconf)

    staging = HPath(f"{path}/_staging-{batch_id}")
    w = batch_df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{path}/_staging-{batch_id}")
    _eo_fault("staged", batch_id)

    prefix = f"bid{batch_id}-"
    # Stale `bid<id>-` files can only exist when THIS batch id already
    # attempted a commit (a crash-replay). Detecting that with the
    # recursive full-table listing on EVERY batch makes commit latency
    # grow with table size (thousands of LIST calls per micro-batch on
    # object stores, sweeping for files that almost never exist).
    # Instead each attempt drops a zero-byte `_eo-attempt-<id>` marker
    # at the root BEFORE any rename: replay detection is one exists()
    # call, and the sweep runs only then. Markers of other batch ids are
    # superseded (their epochs are committed — structured streaming only
    # ever replays the LATEST uncommitted batch), removed with one
    # non-recursive glob of the root.
    marker = HPath(f"{path}/_eo-attempt-{batch_id}")
    replay = fs.exists(marker)
    old_markers = fs.globStatus(HPath(f"{path}/_eo-attempt-*"))
    if old_markers is not None:
        for st in old_markers:
            if st.getPath().getName() != marker.getName():
                fs.delete(st.getPath(), False)
    fs.create(marker, True).close()
    if replay and fs.exists(root):
        stale = []
        it = fs.listFiles(root, True)
        while it.hasNext():
            p = it.next().getPath()
            if p.getName().startswith(prefix):
                stale.append(p)
        for p in stale:
            fs.delete(p, False)
    _eo_fault("marker", batch_id)

    qual_staging = fs.makeQualified(staging).toString()
    moves = []
    it = fs.listFiles(staging, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS and friends
        rel = fs.makeQualified(p).toString()[len(qual_staging) + 1 :]
        moves.append((p, rel[: -len(name)].rstrip("/"), name))
    for i, (p, rel_dir, name) in enumerate(moves):
        dest_dir = root if not rel_dir else HPath(f"{path}/{rel_dir}")
        fs.mkdirs(dest_dir)
        fs.rename(p, HPath(dest_dir, prefix + name))
        _eo_fault("renamed", i)
    _eo_fault("moved", batch_id)
    fs.delete(staging, True)


class WriteParquet(PTransform):
    """Append sink (reference BigQuery WRITE_APPEND analog — SURVEY K1/K2).

    Batch: immediate append write. Streaming: checkpointed foreachBatch
    append (replacing the reference's per-insert retry policy,
    Demo1.java:96-97). Two delivery grades:

    - default (`exactly_once=False`): plain per-batch append. Source
      progress is checkpointed per epoch, so a restarted query never
      re-reads processed input; only a crash BETWEEN the batch's append
      and its checkpoint commit can duplicate that one batch
      (at-least-once — the grade of the reference's BigQuery
      STREAMING_INSERTS + transient-retry).
    - `exactly_once=True`: each batch stages to a hidden `_staging-<id>`
      dir, then moves its files into the table prefixed `bid<id>-`; a
      replayed batch first deletes its own previous files. Batch replay
      is therefore a full self-replacement — exactly-once across
      crash/restart (a file source pins each batch's input in the
      checkpoint offsets log, so the replayed batch is bit-identical).

    `partition_by` reproduces the reference's day-partitioned target
    tables. The built-in streaming file sink is deliberately NOT used:
    its _spark_metadata transaction log makes Spark readers ignore any
    file not written through it, so the sink could never be compacted,
    retention-pruned, or batch-appended to (e.g. the demo2
    drain-finalize flush).
    """

    def __init__(
        self,
        path: str,
        checkpoint: str | None = None,
        partition_by: list[str] | None = None,
        output_mode: str = "append",
        available_now: bool = False,
        exactly_once: bool = False,
    ):
        self.path = path
        self.checkpoint = checkpoint
        self.partition_by = partition_by
        self.output_mode = output_mode
        self.available_now = available_now
        self.exactly_once = exactly_once

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df
        if df.isStreaming:
            path, partition_by = self.path, self.partition_by

            def _append_batch(batch_df: DataFrame, _batch_id: int) -> None:
                w = batch_df.write.mode("append")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.parquet(path)

            def _exactly_once_batch(batch_df: DataFrame, batch_id: int) -> None:
                _commit_batch_exactly_once(
                    batch_df, batch_id, path, partition_by
                )

            writer = df.writeStream.outputMode(self.output_mode).foreachBatch(
                _exactly_once_batch if self.exactly_once else _append_batch
            )
            if self.checkpoint is not None:
                # Passing None through would make start() throw an opaque
                # "Can not create a Path from a null string"; omitting the
                # option lets Spark fall back to a temp checkpoint (fine for
                # ad-hoc runs; production callers pass one for exactly-once
                # source progress across restarts).
                writer = writer.option("checkpointLocation", self.checkpoint)
            if self.available_now:
                writer = writer.trigger(availableNow=True)
            query = writer.start()
            pcoll.pipeline._streaming_queries.append(query)
        else:
            writer = df.write.mode("append")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(self.path)
        return pcoll


class WriteMemory(PTransform):
    """Named in-memory sink for deterministic streaming tests (the engine's
    DirectRunner-observability analog). `complete` mode re-emits full
    aggregation state per trigger; `append` emits watermark-closed rows."""

    def __init__(self, name: str, output_mode: str = "append", available_now: bool = True):
        self.name = name
        self.output_mode = output_mode
        self.available_now = available_now

    def expand(self, pcoll: PCollection) -> PCollection:
        writer = (
            pcoll.df.writeStream.outputMode(self.output_mode)
            .format("memory")
            .queryName(self.name)
        )
        if self.available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        pcoll.pipeline._streaming_queries.append(query)
        return pcoll


class FlatMap(PTransform):
    """Element-wise 0..n output transform (Beam FlatMap).

    `fn` builds an array Column from the input row; the array is exploded
    into output rows (codegen'd — the imperative escape hatch is ParDo).
    `outer=True` keeps rows whose array is empty/null as a single null row
    (Beam's FlatMap has no such mode; it mirrors explode_outer).
    """

    def __init__(self, fn: Callable[[DataFrame], Column], alias: str = "value",
                 keep: list[str] | None = None, outer: bool = False):
        self.fn = fn
        self.alias = alias
        self.keep = keep
        self.outer = outer

    def expand(self, pcoll: PCollection) -> PCollection:
        arr = self.fn(pcoll.df)
        exploder = F.explode_outer if self.outer else F.explode
        # Exclude the output alias from the default keep-set: exploding a
        # 'value' column into alias 'value' would otherwise emit TWO
        # 'value' columns, and the first downstream F.col('value') dies
        # with AMBIGUOUS_REFERENCE far from the cause.
        keep = (
            self.keep
            if self.keep is not None
            else [c for c in pcoll.df.columns if c != self.alias]
        )
        out = pcoll.df.select(*keep, exploder(arr).alias(self.alias))
        return pcoll._with(out)


class WithKeys(PTransform):
    """Attach a key column (Beam WithKeys): KV<key, row>."""

    def __init__(self, key_expr: Column, key_name: str = "key"):
        self.key_expr = key_expr
        self.key_name = key_name

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll._with(pcoll.df.withColumn(self.key_name, self.key_expr))


class Keys(PTransform):
    """Project to the key columns only (Beam Keys)."""

    def __init__(self, *key_cols: str):
        self.key_cols = list(key_cols)

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll._with(pcoll.df.select(*self.key_cols))


class Values(PTransform):
    """Drop the key columns (Beam Values)."""

    def __init__(self, *key_cols: str):
        self.key_cols = list(key_cols)

    def expand(self, pcoll: PCollection) -> PCollection:
        keep = [c for c in pcoll.df.columns if c not in self.key_cols]
        return pcoll._with(pcoll.df.select(*keep))


class GroupByKey(PTransform):
    """Beam GroupByKey: KV<K, V> → KV<K, Iterable<V>>.

    Materializes per-key value lists via collect_list — the literal Beam
    semantic. At scale prefer CombinePerKey (partial aggregation before the
    shuffle); GroupByKey ships every value to the reducer, exactly like
    Beam's GBK. Windowing context applies as in Count.perKey.
    """

    def __init__(self, value_col: str, *key_cols: str, sort_values: bool = False):
        self.value_col = value_col
        self.key_cols = list(key_cols)
        self.sort_values = sort_values

    def expand(self, pcoll: PCollection) -> PCollection:
        agg = F.collect_list(self.value_col)
        if self.sort_values:
            agg = F.array_sort(agg)
        return pcoll._with(
            _windowed_group_agg(pcoll, self.key_cols, [agg.alias("values")])
        )


class CombinePerKey(_PerKeyAgg):
    """Beam Combine.perKey with an associative built-in combiner.

    Unlike GroupByKey, the combine runs map-side first (partial
    aggregation) so the shuffle carries one accumulator per key per
    partition — the scalable default for key-wise reduction.
    """

    _COMBINERS = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "mean": F.avg,
        "count": lambda c: F.count(F.lit(1)),
    }

    def __init__(self, value_col: str, combiner: str, *key_cols: str):
        super().__init__(list(key_cols))
        if combiner not in self._COMBINERS:
            raise ValueError(
                f"unknown combiner {combiner!r}; use one of {sorted(self._COMBINERS)}"
            )
        self.value_col = value_col
        self.combiner = combiner

    def agg_exprs(self) -> list[Column]:
        return [self._COMBINERS[self.combiner](self.value_col).alias(self.combiner)]

    def pane_agg(self):
        # All five built-in combiners are incremental, so every
        # CombinePerKey composes with WindowInto(accumulation=...)
        # (count ignores the value column, matching F.count(lit(1))).
        return (
            self.combiner,
            None if self.combiner == "count" else self.value_col,
        )


class Partition(PTransform):
    """Beam Partition: split one PCollection into n by a partition fn.

    Returns no single output — call `.split(pcoll)` to get the list of
    PCollections. Each branch is a filter over the same parent plan
    (evaluated per branch; persist the parent first if it is expensive).
    """

    def __init__(self, n: int, partition_expr: Column):
        self.n = n
        self.partition_expr = partition_expr

    def expand(self, pcoll: PCollection) -> PCollection:
        raise TypeError("Partition produces multiple outputs; use .split(pcoll)")

    def split(self, pcoll: PCollection) -> list[PCollection]:
        # pmod, not %: Spark's % follows the dividend's sign, so a
        # negative partition expression (e.g. F.hash(...)) would land in
        # {-(n-1)..-1} and match NO branch — silent row loss. The working
        # column name also dodges caller columns instead of clobbering
        # an existing '_part'.
        part = _temp_col_name("part", pcoll.df.columns)
        tagged = pcoll.df.withColumn(
            part, F.pmod(self.partition_expr, F.lit(self.n))
        )
        return [
            pcoll._with(tagged.filter(F.col(part) == i).drop(part))
            for i in range(self.n)
        ]


class CoGroupByKey(PTransform):
    """Beam CoGroupByKey: two keyed PCollections → (key, values_a, values_b).

    Realized as per-side collect_list aggregation + full-outer join on the
    key (each side aggregates before the join, so the join carries one row
    per key per side). Missing sides yield empty arrays, matching Beam's
    empty iterables.
    """

    def __init__(self, other: PCollection, value_col: str, other_value_col: str,
                 *key_cols: str):
        self.other = other
        self.value_col = value_col
        self.other_value_col = other_value_col
        self.key_cols = list(key_cols)

    def expand(self, pcoll: PCollection) -> PCollection:
        # Beam's CoGroupByKey groups per WINDOW per key. When a windowing
        # context is active, each side aggregates through the shared
        # windowed-group helper (flat window_start/window_end columns)
        # and the join key gains the window bounds — fixed/sliding
        # windows bucket deterministically, so equal bounds align across
        # sides. Session windows are sessionized per input; Beam merges
        # sessions ACROSS inputs, which an independent per-side grouping
        # cannot reproduce — refuse rather than silently diverge.
        spec_a, spec_b = pcoll.spec, self.other.spec
        if (spec_a.window_fn is None) != (spec_b.window_fn is None):
            raise ValueError(
                "CoGroupByKey requires both sides unwindowed or both "
                "windowed (apply WindowInto to both inputs)"
            )
        if isinstance(spec_a.window_fn, Sessions) or isinstance(
            spec_b.window_fn, Sessions
        ):
            raise NotImplementedError(
                "CoGroupByKey over session windows: Beam merges sessions "
                "across inputs; per-side sessionization would diverge"
            )
        if spec_a.window_fn != spec_b.window_fn:
            # Beam raises on incompatible WindowFns; a silent full-outer
            # join on misaligned (window_start, window_end) bounds —
            # fixed 1-min vs fixed 5-min — would yield mostly-empty
            # co-groups instead. Frozen-dataclass equality covers
            # size/slide params.
            raise ValueError(
                "CoGroupByKey requires both sides windowed with the SAME "
                f"window fn and parameters; got {spec_a.window_fn!r} vs "
                f"{spec_b.window_fn!r} — apply the same WindowInto to "
                "both inputs"
            )
        join_cols = list(self.key_cols)
        if spec_a.window_fn is not None:
            join_cols = ["window_start", "window_end", *join_cols]
        left = _windowed_group_agg(
            pcoll,
            self.key_cols,
            [F.collect_list(self.value_col).alias("values_a")],
        )
        right = _windowed_group_agg(
            self.other,
            self.key_cols,
            [F.collect_list(self.other_value_col).alias("values_b")],
        )
        joined = left.join(right, join_cols, "full_outer")
        empties = {
            name: F.array().cast(joined.schema[name].dataType)
            for name in ("values_a", "values_b")
        }
        joined = joined.select(
            *join_cols,
            F.coalesce("values_a", empties["values_a"]).alias("values_a"),
            F.coalesce("values_b", empties["values_b"]).alias("values_b"),
        )
        return pcoll._with(joined)


class Reshuffle(PTransform):
    """Beam Reshuffle: redistribute rows (break fusion / rebalance).

    With `num_partitions` and no keys: round-robin repartition. With keys:
    hash-partition on them (co-locates later per-key work).
    """

    def __init__(self, num_partitions: int | None = None, *key_cols: str):
        self.num_partitions = num_partitions
        self.key_cols = list(key_cols)

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df
        if self.key_cols:
            args = ([self.num_partitions] if self.num_partitions else []) + [
                F.col(c) for c in self.key_cols
            ]
            out = df.repartition(*args)
        elif self.num_partitions:
            out = df.repartition(self.num_partitions)
        else:
            out = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        return pcoll._with(out)


class WithSingletonSideInput(PTransform):
    """Beam side input (AsSingleton): attach a 1-row computed value to
    every element.

    `side` must be a 1-row PCollection (e.g. a global aggregate); its
    columns join onto every main-input row via a broadcast cross join —
    the Spark realization of Beam's broadcast side input. The 1-row
    precondition is ENFORCED in the plan (Beam's AsSingleton fails
    loudly on a multi-element view; a silent cross join against 2 side
    rows would duplicate every main-input row): a window count over the
    side feeds assert_true, so a multi-row side fails the job at
    execution with a clear message instead of corrupting row counts.
    """

    def __init__(self, side: PCollection):
        self.side = side

    def expand(self, pcoll: PCollection) -> PCollection:
        side_df = self.side.df
        # The guard must live INSIDE the surviving output columns — an
        # assert in a dropped helper column is pruned away by Catalyst
        # (verified live). Every side column is wrapped: with exactly
        # one row the when-branch passes the value through; with more,
        # reading ANY side value raises at execution. Boundary: a plan
        # that never reads a side column (e.g. a bare count) prunes the
        # side entirely and cannot trip the guard — but then no side
        # VALUE can corrupt results either; only such value-blind row
        # counts see the multiplied cardinality unchecked.
        cnt = F.count(F.lit(1)).over(Window.partitionBy())
        err = F.raise_error(
            F.lit(
                "WithSingletonSideInput: side input has more than one "
                "row (Beam AsSingleton precondition)"
            )
        )
        checked = side_df.select(
            *[
                F.when(cnt == 1, F.col(c))
                .otherwise(err.cast(side_df.schema[c].dataType))
                .alias(c)
                for c in side_df.columns
            ]
        )
        return pcoll._with(pcoll.df.crossJoin(F.broadcast(checked)))


class Counter:
    """Beam Metrics.counter analog backed by a Spark accumulator.

    Increment from inside ParDo dofns (runs in Python workers); read
    `.value` on the driver after an action. Like Beam metrics, values are
    attempted-work counts — task retries may overcount.
    """

    def __init__(self, spark: SparkSession, name: str):
        self.name = name
        self._acc = spark.sparkContext.accumulator(0)

    def inc(self, n: int = 1) -> None:
        self._acc.add(n)

    @property
    def value(self) -> int:
        return self._acc.value
