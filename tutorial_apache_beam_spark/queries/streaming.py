"""Streaming queries for the correctness gate.

Each runs a Structured Streaming plan over a file-source replay of the
`events` fixture with `trigger(availableNow=True)` (deterministic: drain
everything, then stop) and returns the final sink table. This makes
streaming behavior — including watermark-driven append emission —
DuckDB-oracle-checkable:

- complete-mode output == the batch result of the same plan (Beam's
  unified-model property, SURVEY §5.2),
- append-mode output == batch result restricted to windows closed by the
  final watermark (max event time − delay), which the oracle computes
  with a scalar subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tutorial_apache_beam_spark.operators.etl import parse_click_messages
from tutorial_apache_beam_spark.operators.windowing import tumbling_counts
from tutorial_apache_beam_spark.registry import register
from tutorial_apache_beam_spark.streaming.replay import (
    run_stream_to_memory,
    run_streams_to_memory,
    stream_events,
)


@register(
    "streaming_demo2_modes",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 minute', ts)                       AS window_start,
             time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
             user_id,
             count(*)                                                   AS count
      FROM events
      GROUP BY 1, 2, 3),
    wm AS (SELECT max(ts) - INTERVAL '2 minutes' AS w FROM events),
    firings AS (
      SELECT time_bucket(INTERVAL '1 minute', ts)                       AS window_start,
             time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
             user_id,
             CAST(count(DISTINCT event_id % 3 = 0) AS BIGINT)           AS count
      FROM events
      GROUP BY 1, 2, 3)
    SELECT 'complete' AS mode, * FROM agg
    UNION ALL
    SELECT 'append' AS mode, * FROM agg
    WHERE window_end <= (SELECT w FROM wm)
    UNION ALL
    SELECT 'update' AS mode, * FROM agg
    UNION ALL
    SELECT 'update_firings' AS mode, * FROM firings
    """,
)
def streaming_demo2_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo2 as a real streaming job under ALL THREE output modes in one
    gate (round 2 merged `streaming_demo2_counts` + `streaming_demo2_append`;
    round 3 adds the update-mode late-firing half of W3):

    - complete mode: final state must equal the batch aggregation (the
      unified-model property);
    - append mode with a 2-minute watermark (1 m skew + 1 m lateness
      composed, SURVEY W1+W4): only windows the final watermark closed are
      emitted — Beam's AfterWatermark.pastEndOfWindow firing (W3);
    - update mode over an OUT-OF-ORDER two-batch replay (every third event
      arrives in a second, late micro-batch — a backfill hitting windows
      across all of history) — Beam's accumulatingFiredPanes: each trigger
      re-emits the ACCUMULATED count for changed keys. Two tags make that
      checkable from the final sink alone:
        'update'          — max emitted count per key == the batch count
                            (the last firing carries the accumulated total);
        'update_firings'  — emissions per key == number of micro-batches
                            containing that key (1 or 2), proving per-pane
                            re-emission rather than complete-mode dumps.
      The generous 31-day allowed lateness admits the whole backfill
      (fixture spans ~30 days); production picks the real lateness bound.
    """
    # All three drains are independent — stage the update half's
    # two-batch scratch directory first, then start complete + append +
    # update CONCURRENTLY and await them together (r13, guide §2.6: the
    # update replay ran serially after the other two and was the gate's
    # largest component, ~2.5-3.4 s of a ~4.5 s gate measured at sf0.1;
    # overlapped, the gate drains in max() of its members). Scratch
    # files outlive the drain (removed after awaitTermination inside
    # run_streams_to_memory returns), so the replay still reads both
    # micro-batches.
    import shutil

    update_stream, scratch = _demo2_update_stream(spark, sf_dir)
    try:
        complete, append, update_sink = run_streams_to_memory(
            [
                (
                    tumbling_counts(
                        stream_events(spark, sf_dir),
                        "ts",
                        ["user_id"],
                        "1 minute",
                    ),
                    "complete",
                ),
                (
                    tumbling_counts(
                        stream_events(spark, sf_dir).withWatermark(
                            "ts", "2 minutes"
                        ),
                        "ts",
                        ["user_id"],
                        "1 minute",
                    ),
                    "append",
                ),
                (update_stream, "update"),
            ],
            spark,
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    key = ["window_start", "window_end", "user_id"]
    update_final = update_sink.groupBy(*key).agg(F.max("count").alias("count"))
    update_firings = update_sink.groupBy(*key).agg(
        F.count(F.lit(1)).alias("count")
    )
    return (
        complete.select(F.lit("complete").alias("mode"), "*")
        .unionByName(append.select(F.lit("append").alias("mode"), "*"))
        .unionByName(update_final.select(F.lit("update").alias("mode"), "*"))
        .unionByName(
            update_firings.select(F.lit("update_firings").alias("mode"), "*")
        )
    )


def _demo2_update_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """The Demo2 update-mode aggregation over a deterministic
    out-of-order replay, as an UNSTARTED streaming plan: the events
    fixture split into two parquet files (event_id % 3 selects the late
    file), streamed with maxFilesPerTrigger=1 so the second micro-batch
    delivers late rows into windows the first batch already fired.
    Returns (streaming aggregation, scratch dir) — the CALLER starts the
    drain (concurrently with the gate's other drains, r13) and removes
    the scratch dir once the drain has terminated; the memory sink holds
    its rows on the driver after that, so reads never touch the files.
    The two scratch files are written sequentially (b0 then b1) so their
    modification order — which the file source's oldest-first pacing
    follows — matches the intended batch order.
    """
    import tempfile

    from tutorial_apache_beam_spark.catalog import load_table

    # catalog.load_table normalizes ts to TimestampType regardless of the
    # fixture's physical form, so the scratch files replayed below carry a
    # plain timestamp and need no further conversion.
    raw = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="demo2_update_replay_")
    late = F.col("event_id") % 3 == 0
    raw.filter(~late).coalesce(1).write.parquet(f"{tmp}/b0")
    raw.filter(late).coalesce(1).write.parquet(f"{tmp}/b1")
    sdf = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
    )
    agg = tumbling_counts(
        sdf.withWatermark("ts", "31 days"), "ts", ["user_id"], "1 minute"
    )
    return agg, tmp


def _demo2_update_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone drained form of `_demo2_update_stream` (kept for
    bench/tests): stage, drain in update mode, clean the scratch dir."""
    import shutil

    agg, tmp = _demo2_update_stream(spark, sf_dir)
    try:
        return run_stream_to_memory(agg, spark, output_mode="update")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_demo1_etl",
    oracle="""
    SELECT date_trunc('second', ts) AS event_time,
           CAST(user_id AS INT)     AS user_id,
           1                        AS click
    FROM events
    """,
)
def streaming_demo1_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo1 as a streaming job: wire-format encode → parse → append.

    Stateless, so append mode emits every row immediately; the final sink
    must be exactly the batch identity projection.
    """
    sdf = stream_events(spark, sf_dir)
    wire = sdf.select(
        F.to_json(
            F.struct(
                F.unix_timestamp("ts").alias("event_time"),
                F.col("user_id").cast("int").alias("user_id"),
                F.lit(1).alias("click"),
            )
        ).alias("value")
    )
    parsed = parse_click_messages(wire)
    return run_stream_to_memory(parsed, spark, output_mode="append")


@register(
    "streaming_discarding_panes",
    oracle="""
    SELECT 'count'                              AS combiner,
           time_bucket(INTERVAL '1 minute', ts) AS window_start,
           user_id,
           CAST(NULL AS VARCHAR)                AS event_type,
           count(*)                             AS pane_value,
           CAST(0 AS INT)                       AS pane_index
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sum'                                AS combiner,
           time_bucket(INTERVAL '1 minute', ts) AS window_start,
           user_id,
           event_type                           AS event_type,
           CAST(sum(event_id) AS BIGINT)        AS pane_value,
           CAST(0 AS INT)                       AS pane_index
    FROM events
    GROUP BY 2, 3, 4
    -- Engine contract: a window whose batch rows are ALL null-valued
    -- emits no pane (Beam combiners never see nulls); without this
    -- HAVING the oracle would emit a NULL-sum row for such a group —
    -- a latent divergence the fixture's non-null event_id masks
    -- (ADVICE r11). Stated on both sides now.
    HAVING count(event_id) > 0
    """,
)
def streaming_discarding_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam discardingFiredPanes (Demo2.java:157) as a custom
    applyInPandasWithState operator (SURVEY W5 — the one semantic Spark's
    output modes don't express). Two tagged branches since r11 (VERDICT
    r10 items 1+5 — the pane machinery went combiner-generic and
    multi-key):

    - 'count': the historical single-key Count.perKey pane stream;
    - 'sum': Sum.perKey(event_id) panes over a COMPOSITE (BIGINT user_id,
      STRING event_type) grouping key — exercising both the generalized
      combiner and the typed multi-key state path end-to-end.

    A single availableNow drain fires every (window, keys) exactly once,
    so pane deltas equal totals and pane_index is 0 — which the SQL
    oracle states directly. Multi-firing delta behavior, sliding windows,
    and min/max/mean are covered by tests/test_pane_aggregate.py and
    tests/test_stateful_panes.py.
    """
    from tutorial_apache_beam_spark.streaming.stateful import (
        discarding_pane_aggregate,
    )

    counts = discarding_pane_aggregate(
        stream_events(spark, sf_dir),
        ts_col="ts",
        key_cols=["user_id"],
        agg="count",
        window_duration="1 minute",
    )
    sums = discarding_pane_aggregate(
        stream_events(spark, sf_dir),
        ts_col="ts",
        key_cols=["user_id", "event_type"],
        value_col="event_id",
        agg="sum",
        window_duration="1 minute",
    )
    count_sink, sum_sink = run_streams_to_memory(
        [(counts, "append"), (sums, "append")], spark
    )
    return count_sink.select(
        F.lit("count").alias("combiner"),
        "window_start",
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.col("pane_count").alias("pane_value"),
        "pane_index",
    ).unionByName(
        sum_sink.select(
            F.lit("sum").alias("combiner"),
            "window_start",
            "user_id",
            "event_type",
            "pane_value",
            "pane_index",
        )
    )


@register(
    "streaming_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           round(e.value, 2) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension enrichment (stateless, no state store:
    the static side re-reads per micro-batch). No forced broadcast —
    customer is SF-linear, so the hint would blow the broadcast limit at
    large SF; under the size threshold Spark still broadcasts a dim that
    fits, and otherwise falls back to a per-micro-batch shuffle join,
    which is the correct scale path for a huge static side."""
    from tutorial_apache_beam_spark.catalog import load_table

    sdf = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = sdf.join(dim, sdf.user_id == dim.c_custkey).select(
        "event_id",
        "user_id",
        F.col("c_mktsegment").alias("segment"),
        F.round("value", 2).alias("value"),
    )
    return run_stream_to_memory(joined, spark, output_mode="append")


@register(
    "streaming_interval_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    m AS (
      SELECT p.event_id AS purchase_id,
             c.event_id AS click_id,
             p.user_id,
             date_diff('second', c.ts, p.ts) AS gap_s
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL '10 minutes'
       AND c.ts <= p.ts),
    wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                  - INTERVAL '1 minute' AS w)
    SELECT 'inner' AS join_type, * FROM m
    UNION ALL
    SELECT 'left_outer' AS join_type, * FROM m
    UNION ALL
    SELECT 'left_outer' AS join_type,
           p.event_id, CAST(NULL AS BIGINT), p.user_id, CAST(NULL AS BIGINT)
    FROM p
    WHERE p.event_id NOT IN (SELECT purchase_id FROM m)
      AND p.ts < (SELECT w FROM wm)
    UNION ALL
    SELECT 'full_outer' AS join_type, * FROM m
    UNION ALL
    SELECT 'full_outer' AS join_type,
           p.event_id, CAST(NULL AS BIGINT), p.user_id, CAST(NULL AS BIGINT)
    FROM p
    WHERE p.event_id NOT IN (SELECT purchase_id FROM m)
      AND p.ts < (SELECT w FROM wm)
    UNION ALL
    SELECT 'full_outer' AS join_type,
           CAST(NULL AS BIGINT), c.event_id, c.user_id, CAST(NULL AS BIGINT)
    FROM c
    WHERE c.event_id NOT IN (SELECT click_id FROM m)
      AND c.ts + INTERVAL '10 minutes' < (SELECT w FROM wm)
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join — inner, left-outer AND
    full-outer (round 3) — in one tagged gate: purchases ⋈ clicks by the
    same user within the preceding 10 minutes.

    Both sides carry watermarks; the time-bound condition lets Spark evict
    join state once the watermark passes each event's reachable window —
    bounded state on unbounded streams. An availableNow drain of the inner
    join yields exactly the batch result. The outer drains additionally
    emit one null-extended row per unmatched event once no partner can
    still arrive — emission rules verified exact at sf0.001 and sf0.01
    against W = min(max p_ts, max c_ts) − delay (scalar subqueries in the
    oracle): unmatched purchases fire at p_ts < W (a purchase's reachable
    clicks precede it), unmatched clicks at c_ts + 10min < W (a click's
    reachable purchases extend 10 minutes past it — the state-eviction
    bound). Events newer than the final watermark stay withheld (their
    state is still live when the bounded drain ends) — the
    streaming-vs-batch outer-join delta, stated exactly.
    """

    def sides():
        purchases = (
            stream_events(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 minute")
        )
        clicks = (
            stream_events(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 minute")
        )
        return purchases, clicks

    cond = lambda p, c: (  # noqa: E731
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    out_cols = [
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("gap_s"),
    ]
    p, c = sides()
    full_cols = [
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("gap_s"),
    ]
    # ONE full-outer drain carries all three join modes (r7 — this gate
    # ran three ~equal concurrent drains through r6, tripling join state
    # and source replay for no information): the full-outer availableNow
    # result is exactly inner ∪ unmatched-left ∪ unmatched-right under
    # the emission rules above, so inner = rows with both ids present
    # and left_outer = rows with the purchase side present. Matched rows
    # emit identically in all three modes, unmatched-side rows follow
    # the same per-side watermark rule whether drained as left- or
    # full-outer, and user_id agrees because coalesce(p_user, c_user)
    # equals p_user whenever the purchase side exists. One join state,
    # one source replay — the 100-TB-shape as well as the fast one.
    full = run_stream_to_memory(
        p.join(c, cond(p, c), "fullOuter").select(*full_cols),
        spark,
        output_mode="append",
    )
    inner = full.filter(
        F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull()
    )
    outer = full.filter(F.col("purchase_id").isNotNull())
    return (
        inner.select(F.lit("inner").alias("join_type"), "*")
        .unionByName(outer.select(F.lit("left_outer").alias("join_type"), "*"))
        .unionByName(full.select(F.lit("full_outer").alias("join_type"), "*"))
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    """,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the source is read twice and unioned (every
    event duplicated), then `dropDuplicatesWithinWatermark` on the event id
    restores exactly-once rows. State for an id is dropped once the
    watermark passes it — bounded memory on unbounded streams, the scale
    path for ingest-time dedup."""
    a = stream_events(spark, sf_dir)
    b = stream_events(spark, sf_dir)
    doubled = a.unionByName(b).withWatermark("ts", "1 minute")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return run_stream_to_memory(deduped, spark, output_mode="append")


@register(
    "streaming_group_into_batches",
    oracle="""
    SELECT user_id,
           CAST(ceil(count(*) / 64.0) AS BIGINT) AS num_batches,
           count(*)                              AS total_elements
    FROM events
    GROUP BY user_id
    """,
)
def streaming_group_into_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam GroupIntoBatches.ofSize(64) per user as a keyed state+timer
    operator (streaming/batching.py), checked through its emission
    invariant: greedy filling with a single end-of-stream timeout flush
    means a key's batch count is exactly ceil(elements / 64) and every
    element is batched exactly once — both SQL-computable from the raw
    input. (Batch membership itself is arrival-order-dependent, so the
    oracle pins the invariant, not the assignment; per-batch structure is
    asserted in tests/test_group_into_batches.py.)
    """
    from tutorial_apache_beam_spark.streaming.batching import group_into_batches

    sdf = stream_events(spark, sf_dir).withWatermark("ts", "1 minute")
    batches = group_into_batches(sdf, batch_size=64)
    raw = run_stream_to_memory(batches, spark, output_mode="append")
    return raw.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("num_batches"),
        F.sum("batch_size").alias("total_elements"),
    )


@register(
    "streaming_session_counts",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ), agg AS (
      SELECT min(ts)                         AS session_start,
             max(ts) + INTERVAL '30 minutes' AS session_end,
             user_id,
             count(*)                        AS count
      FROM sessions
      GROUP BY user_id, session_id
    )
    SELECT 'closed' AS mode, session_start, session_end, user_id, count,
           CAST(NULL AS INT) AS pane_index
    FROM agg
    WHERE session_end <= (SELECT max(ts) - INTERVAL '2 minutes' FROM events)
    UNION ALL
    SELECT 'panes' AS mode, session_start,
           CAST(NULL AS TIMESTAMP) AS session_end, user_id, count,
           CAST(0 AS INT) AS pane_index
    FROM agg
    """,
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on a live stream (gap-merged, stateful), TWO
    tagged branches since r12 (merged rather than added as a 51st gate —
    the driver checks the first 50 in registration order):

    - 'closed': the JVM `session_window` aggregation in append mode —
      a session emits once the watermark passes its end (last event +
      gap); the oracle keeps sessions closed by the final watermark.
    - 'panes' (r12): Beam `Sessions.withGapDuration(30 min)` composed
      with `.discardingFiredPanes()` — the last pane-surface refusal
      closed (reference composability bar Demo2.java:149-157). Session
      windows as keyed interval state: pane deltas per firing, merged
      sessions inheriting the earliest-start constituent's ordinal. A
      single availableNow drain fires every session exactly once, so
      pane deltas equal session totals, `session_start` is the raw
      min event time (µs precision), and pane_index is 0 — ALL sessions
      emit (discarding panes fire per touched session per batch, not at
      watermark close, which is exactly what distinguishes the two
      branches' oracles). Multi-firing deltas, cross-batch merges, and
      backward start extension: tests/test_session_panes.py.
    """
    from tutorial_apache_beam_spark.streaming.stateful import (
        discarding_pane_aggregate,
    )

    sdf = stream_events(spark, sf_dir).withWatermark("ts", "2 minutes")
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "count",
        )
    )
    panes = discarding_pane_aggregate(
        stream_events(spark, sf_dir),
        ts_col="ts",
        key_cols=["user_id"],
        agg="count",
        session_gap="30 minutes",
    )
    closed_sink, pane_sink = run_streams_to_memory(
        [(agg, "append"), (panes, "append")], spark
    )
    # ADVICE r12: the 'panes' oracle (pane deltas == session totals,
    # pane_index always 0) is valid ONLY because the fixture drains in
    # exactly one micro-batch. Assert that precondition on the drained
    # sink (driver-local rows, one cheap filter) so a trigger-config or
    # fixture change that splits sessions across batches fails LOUDLY
    # here instead of as an opaque oracle hash mismatch.
    n_multi = pane_sink.filter(F.col("pane_index") > 0).count()
    if n_multi:
        raise AssertionError(
            f"streaming_session_counts: {n_multi} pane rows carry "
            "pane_index > 0 — the replay no longer drains in a single "
            "micro-batch, so the 'panes' branch oracle (deltas == "
            "session totals) does not describe this configuration"
        )
    return closed_sink.select(
        F.lit("closed").alias("mode"),
        "session_start",
        "session_end",
        "user_id",
        "count",
        F.lit(None).cast("int").alias("pane_index"),
    ).unionByName(
        pane_sink.select(
            F.lit("panes").alias("mode"),
            F.col("window_start").alias("session_start"),
            F.lit(None).cast("timestamp").alias("session_end"),
            "user_id",
            F.col("pane_count").alias("count"),
            "pane_index",
        )
    )
