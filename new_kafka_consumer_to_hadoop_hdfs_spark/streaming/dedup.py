"""Streaming dedup: watermarked drop-duplicates and stateful LWW.

The reference dedups a bounded topic in one reduce
(HadoopKafkaConsumer.java:47-103). In a true stream the same semantics
split into two operators with different guarantees:

1. :func:`dedup_within_watermark` — keep the FIRST row per key among
   rows whose event times fall within the watermark horizon. This is
   Spark's ``dropDuplicatesWithinWatermark``: state for a key is
   dropped once the watermark passes its event time + delay, so state
   is bounded — the property that makes dedup runnable forever at
   100 TB/day, which the reference's in-heap HashMap never had.

2. :func:`stateful_lww_dedup` — exact cross-micro-batch
   last-write-wins (argmax by an ordering column, strict '>', ties
   keep first — the reference's precise semantics,
   HadoopKafkaConsumer.java:69-78). It is Structured Streaming's
   incremental update-mode aggregation (Armbrust et al., SIGMOD 2018):
   a ``max(struct(...))`` argmax per key whose struct carries a
   negated batch stamp after the ordering columns, so the incumbent
   wins ties and each micro-batch emits only the keys whose winner
   changed (:func:`_stamped_argmax`). Built-in operators end to end:
   the partial aggregate collapses versions map-side and no Python
   worker runs.

Scale notes: state lives in the state store, partitioned by key hash
across executors. For large key spaces configure the RocksDB provider
(``spark.sql.streaming.stateStore.providerClass`` →
``RocksDBStateStoreProvider``) so state spills off-heap; with the
default HDFS-backed store, state must fit in executor memory — the
same cliff the reference's HashMap had, which is why
:func:`rocksdb_state_conf` exists.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rocksdb_state_conf() -> dict[str, str]:
    """Session confs for RocksDB-backed streaming state (bounded memory
    at arbitrary key cardinality). Apply before starting the query."""
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }


def dedup_within_watermark(
    df: DataFrame,
    keys: Sequence[str],
    *,
    event_time_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Keep-first dedup with bounded state.

    ``withWatermark`` declares how late data may arrive; duplicate keys
    arriving within the horizon are dropped, and key state is evicted
    once the watermark passes. Works identically in batch mode (where
    it degrades to a plain dropDuplicates on the keys) — which is how
    the semantics are oracle-checked.
    """
    return df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def _stamped_argmax(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Exact streaming argmax per key, emitting only changed winners.

    Three steps, all built-in operators:

    1. project a batch stamp ``-unix_micros(current_timestamp())`` —
       projected, not computed inside the aggregate, which refuses a
       non-deterministic expression. Spark fixes ``current_timestamp``
       per micro-batch and replays it from the offset log on restart,
       so a replayed batch carries its original stamp;
    2. ``max(struct(*order_cols, stamp, *payload_cols))`` per key in
       update mode — the state holds one struct per key and the
       partial aggregate below the exchange collapses versions
       map-side;
    3. keep the keys whose winning stamp is the current batch's: a key
       touched by the batch whose incumbent still wins is dropped.

    The stamp is negated, so on equal ordering columns the OLDER batch
    wins — the incumbent survives ties, as a strict '>' override does,
    and a record re-delivered unchanged is not emitted again. This
    assumes batch timestamps rise from one micro-batch to the next; if
    the wall clock steps back, the worst case is an identical row
    emitted again, which the per-epoch overwrite sinks absorb. Within
    one batch, ties on the ordering columns go to the larger payload
    (the ordering columns must be a total order per key).

    Output: ``(*keys, *order_cols, *payload_cols)``.
    """
    stamp = -F.unix_micros(F.current_timestamp())
    best = (
        df.select(*keys, *order_cols, stamp.alias("__stamp"), *payload_cols)
        .groupBy(*keys)
        .agg(F.max(F.struct(*order_cols, "__stamp", *payload_cols)).alias("__best"))
    )
    return best.filter(F.col("__best.__stamp") == stamp).select(
        *keys, *(F.col(f"__best.{c}").alias(c) for c in [*order_cols, *payload_cols])
    )


def stateful_lww_dedup(parsed: DataFrame) -> DataFrame:
    """Exact streaming last-write-wins over (partition, id).

    Input: a streaming DataFrame with (partition, id, offset, msg) —
    the parsed reference envelope. Output (update mode, columns
    ``partition long, id long, offset long, msg string``): the new
    winner for every key whose argmax-by-offset changed in the
    micro-batch.

    Plan shape: a partial ``max(struct(offset, stamp, msg))`` per key,
    one hash shuffle on the key, then the stateful aggregate; state per
    key is a single struct, so state size is O(|live keys|),
    independent of stream length.
    """
    typed = parsed.select(
        F.col("partition").cast("long"),
        F.col("id").cast("long"),
        F.col("offset").cast("long"),
        F.col("msg").cast("string"),
    )
    return _stamped_argmax(typed, ["partition", "id"], ["offset"], ["msg"])


def per_partition_cap(limit: int, *, state_path: str | None = None):
    """Hard per-partition row cap across micro-batches (streaming twin
    of the reference's kafka.limit, KafkaInputFormat.java:188).

    Returns ``cap(batch_df, epoch_id=None) -> DataFrame`` for use
    inside foreachBatch: it keeps a cumulative per-partition quota on
    the driver (foreachBatch epochs run serially, so the bookkeeping
    is race-free) and trims each batch to the remaining quota, ordered
    by offset. Unlike ``maxOffsetsPerTrigger`` — a per-trigger RATE
    limit — this enforces the reference's absolute cap: once a
    partition has emitted ``limit`` rows, later batches contribute
    nothing from it.

    Durability: with ``state_path`` the quota (and the set of applied
    epoch ids) is persisted as JSON after every epoch, so a checkpoint
    RESTART resumes the cap instead of resetting it; a replayed epoch
    (committed to the sink but re-delivered) returns an empty frame,
    keeping the cap exact as long as the sink's own epoch handling is
    idempotent (the pipeline writes per-epoch dirs with overwrite).
    Without ``state_path`` the quota is in-memory only and a restart
    re-opens it — acceptable for AvailableNow one-shot runs, wrong for
    long-lived queries; pass a path under the checkpoint dir there.

    The state file uses driver-local file IO: for exactly-once across
    DRIVER REPLACEMENT (cluster-manager restarts the app on another
    node) the path must live WITH the query checkpoint on shared
    storage (HDFS/object store via a mounted path), not on the old
    driver's local disk — a replacement driver that cannot read the
    file silently restarts the quota from zero. The quota and the
    applied-epoch set are written atomically together AFTER each epoch,
    so a crash mid-epoch (sink wrote, state didn't) replays that epoch
    as if new: the identical deterministic row set is re-emitted for
    the sink's per-epoch overwrite to absorb and counted exactly once
    (tests/test_streaming.py::test_per_partition_cap_mid_epoch_crash_replay).
    The per-epoch bookkeeping collect is a partitions-sized relation
    (tiny); a multi-driver HA deployment would move this state into the
    checkpoint's state store instead of a side file.

    The returned (trimmed) frame is persisted for the epoch so the
    bookkeeping count and the caller's sink write share one evaluation.
    """
    import json
    import os

    consumed: dict[int, int] = {}
    applied_epochs: set[int] = set()
    last_cached: list[DataFrame] = []

    if state_path and os.path.exists(state_path):
        with open(state_path) as fh:
            saved = json.load(fh)
        consumed.update({int(k): v for k, v in saved.get("consumed", {}).items()})
        applied_epochs.update(saved.get("epochs", []))

    def _save() -> None:
        if not state_path:
            return
        tmp = state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"consumed": consumed, "epochs": sorted(applied_epochs)}, fh
            )
        os.replace(tmp, state_path)  # atomic on POSIX

    def cap(batch_df: DataFrame, epoch_id: int | None = None) -> DataFrame:
        from pyspark.sql import Window

        if epoch_id is not None and epoch_id in applied_epochs:
            # replay of an already-accounted epoch: the sink already
            # holds its rows; emit nothing rather than double-spend
            return batch_df.limit(0)

        w = Window.partitionBy("partition").orderBy("offset")
        remaining = F.col("__limit") - F.col("__used")
        used_df = batch_df.sparkSession.createDataFrame(
            [(p, n) for p, n in consumed.items()] or [(-1, 0)],
            "partition int, __used long",
        )
        while last_cached:  # bound cache to the current epoch
            try:
                last_cached.pop().unpersist()
            except Exception:
                pass
        trimmed = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .join(F.broadcast(used_df), "partition", "left")
            .withColumn("__used", F.coalesce("__used", F.lit(0)))
            .withColumn("__limit", F.lit(limit))
            .filter(F.col("__rn") <= remaining)
            .drop("__rn", "__used", "__limit")
            .persist()
        )
        last_cached.append(trimmed)
        for row in (
            trimmed.groupBy("partition").agg(F.count("*").alias("n")).collect()
        ):
            consumed[row["partition"]] = consumed.get(row["partition"], 0) + row["n"]
        if epoch_id is not None:
            applied_epochs.add(epoch_id)
        _save()
        return trimmed

    return cap


def windowed_event_counts(
    events: DataFrame,
    *,
    event_time_col: str = "ts",
    window_width: str = "6 hours",
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    plans/windows.event_tumbling_window (same expression, plus the
    watermark that lets closed windows emit and their state drop)."""
    return (
        events.withWatermark(event_time_col, delay)
        .groupBy(F.window(event_time_col, window_width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
