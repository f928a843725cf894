"""Streaming EWMA smoothing: the event-time composition of
`event_ewma_smoothing` (plans/analytics.py).

The batch query folds each user's FULL history per run; a monitoring
pipeline wants the smoothed value maintained INCREMENTALLY as events
arrive — per-key state is exactly one (ewma, n) pair, the textbook
``applyInPandasWithState`` shape. Unlike the argmax behind
`streaming/dedup.stateful_lww_dedup`, which runs as a built-in
update-mode aggregate, the EWMA recursion depends on arrival order, so
it stays a per-key Python fold.

Correctness contract: EWMA is order-sensitive, so the stream equals
the batch fold only when each user's events ARRIVE in (ts, event_id)
order across micro-batches (within a batch this module sorts the
group). That is the normal shape for a time-ordered source (Kafka per
key, time-partitioned files); out-of-order arrival beyond a batch
boundary is NOT reordered — callers needing late-data tolerance should
window+watermark upstream first. The equivalence test feeds
time-split files and asserts exact agreement with the batch twin.

Scale: one hash shuffle of each micro-batch into the stateful
operator; state is O(|live keys|) independent of stream length. The
in-batch fold runs sequentially per row for BIT-EXACT parity with the
batch query's `F.aggregate` fold (and DuckDB's list_reduce); the
vectorized alternative — a batch composes to the affine map
s' = 0.7ⁿ·s + Σ0.7^(n-1-i)·0.3·xᵢ — reorders float sums and is the
documented swap if per-batch-per-key row counts ever make the Python
loop visible next to the Arrow transfer around it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..shipping import ship_module_by_value

ALPHA = 0.3

_EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_last", DoubleType()),
    ]
)
_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n", LongType()),
    ]
)


def _ewma_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (ewma, n) = state.get if state.exists else (None, 0)
    # a key's micro-batch arrives as MULTIPLE Arrow chunks (split at
    # arrow.maxRecordsPerBatch) in shuffle-read order — sorting each
    # chunk independently would fold a >10k-event key out of order, so
    # concatenate the whole group BEFORE the one sort (review r7).
    # Bounded: the concat holds one key's one-micro-batch rows, the
    # same data the per-chunk path held — not unbounded history.
    chunks = [c for c in pdfs if len(c)]
    pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    if len(pdf):
        pdf = pdf.sort_values(["ts", "event_id"])
        for v in pdf["value"].to_numpy():
            # sequential fold — bit-exact vs the batch F.aggregate /
            # DuckDB list_reduce folds (see module docstring)
            ewma = float(v) if ewma is None else ewma * (1 - ALPHA) + float(v) * ALPHA
        n += len(pdf)
    if n:
        state.update((float(ewma), int(n)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma_last": [ewma]}
        )


def stateful_ewma(events: DataFrame) -> DataFrame:
    """Per-user incrementally-maintained EWMA (update mode: each
    micro-batch emits the new (n_events, ewma_last) for every user it
    touched). Input needs (user_id, ts, event_id, value); null values
    are dropped like the batch twin's filter."""
    ship_module_by_value(__name__)
    grouped = (
        events.filter(F.col("value").isNotNull())
        .select(
            F.col("user_id").cast("long"),
            "ts",
            F.col("event_id").cast("long"),
            F.col("value").cast("double"),
        )
        .groupBy("user_id")
    )
    return grouped.applyInPandasWithState(
        _ewma_update,
        outputStructType=_EWMA_OUTPUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
