"""GroupIntoBatches — Beam-API parity as a keyed state+timer operator.

Beam's `GroupIntoBatches.ofSize(n)` buffers elements per key in managed
state and emits them in batches of exactly n, flushing the incomplete
remainder when the key's window expires (state + timers under the hood).
The reference never uses it, but it is part of the Beam surface the
engine's pipeline API mirrors, and it is the canonical shape for
batched-RPC / batched-model-inference stages in a training-data pipeline
(micro-batching rows before an embedding-service call, for example).

Spark-first expression: `applyInPandasWithState` with one buffer + sequence
counter per key in the state store and an event-time timeout that flushes
the remainder once the watermark passes the buffered data — exactly Beam's
state/timer implementation, on Spark's state store (any state-store
provider).

Scale notes: state per key is the ≤ n pending element ids, cleared on every
full batch, sharded across the cluster by the grouping key like any
streaming aggregation (RocksDB-backed at cluster scale). Emission
invariant (asserted by the oracle): only the timeout flush can emit a
partial batch, so per key `batches == ceil(elements / n)` and every batch
but the last is exactly full.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id BIGINT, batch_seq INT, batch_size BIGINT, element_ids ARRAY<BIGINT>"
)
STATE_SCHEMA = "batch_seq INT, pending ARRAY<BIGINT>"


def _make_batcher(batch_size: int):
    def batch_key_elements(
        key: tuple[Any, ...],
        frames: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        seq, pending = state.get if state.exists else (0, [])
        pending = list(pending)

        def frame(elements: list[int], seq: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "batch_seq": [seq],
                    "batch_size": [len(elements)],
                    "element_ids": [elements],
                }
            )

        if state.hasTimedOut:
            # Watermark passed the buffered data: flush the remainder as
            # a (possibly partial) batch. The SEQUENCE SURVIVES the flush
            # — on a stream where the key later receives more elements, a
            # state.remove() here would reuse batch_seq 0 and break the
            # contiguous-seq contract (r5 review finding). The residual
            # state is one (seq, []) row per key ever seen — the same
            # keep-forever shape as Beam's global-window GroupIntoBatches
            # state; no timeout is re-armed, so an idle key costs nothing
            # further until new data re-arms it.
            state.update((seq + 1 if pending else seq, []))
            if pending:
                yield frame(pending, seq)
            return

        for pdf in frames:
            # Nulls surface as NaN in the Arrow->pandas int column and
            # int(NaN) raises in the executor; the builder filters them
            # upstream, this dropna is defense in depth.
            pending.extend(
                int(v) for v in pdf["element_id"].dropna()
            )
        while len(pending) >= batch_size:
            full, pending = pending[:batch_size], pending[batch_size:]
            yield frame(full, seq)
            seq += 1
        state.update((seq, pending))
        # Flush whatever remains once the watermark moves past the data
        # already seen (Beam: the window-expiry timer).
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)

    return batch_key_elements


def group_into_batches(
    events: DataFrame,
    key_col: str = "user_id",
    element_col: str = "event_id",
    batch_size: int = 64,
    ts_col: str = "ts",
) -> DataFrame:
    """Batch a keyed stream into groups of `batch_size` elements per key.

    Input: a streaming DataFrame carrying a watermark on `ts_col`
    (event-time timeouts need one to fire the remainder flush). Output
    rows: (user_id, batch_seq, batch_size, element_ids). Null element
    ids are dropped — there is nothing meaningful to batch.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    # The watermark rides on the event-time column, so it must survive this
    # projection (same constraint as stateful.discarding_pane_counts).
    cols = [
        F.col(key_col).alias("user_id"),
        F.col(element_col).alias("element_id"),
    ]
    if ts_col in events.columns:
        cols.append(F.col(ts_col))
    keyed = events.filter(F.col(element_col).isNotNull()).select(*cols)
    return keyed.groupBy("user_id").applyInPandasWithState(
        _make_batcher(batch_size),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
