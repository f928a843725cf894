"""Streaming CDC merge: cross-micro-batch upsert/delete compaction.

The streaming twin of the batch ``pipeline_cdc_merge`` query
(plans/corpus.py): a changelog of upserts ('U') and delete markers
('D') arrives as a stream; each key's live state is decided by its
LATEST change in (ts, seq) order, and every micro-batch emits the
keys whose state changed — upserts as data rows, deletes as TOMBSTONE
rows so a downstream sink can propagate the deletion.

This extends :func:`streaming.dedup.stateful_lww_dedup` (the
reference's argmax semantics, HadoopKafkaConsumer.java:69-78) with
delete markers — the missing half of MERGE semantics — through the
same built-in update-mode argmax: ``max(struct(ts_us, seq, stamp,
is_delete, value))`` per key, the streaming form of the batch twin's
``operators/dedup.cdc_compact``. The subtle point is tombstone
retention: state for a deleted key is NOT removed on delete, because a
late-arriving upsert that is OLDER than the delete must stay
suppressed (dropping the tombstone would resurrect the key). Real
systems GC tombstones once the event-time watermark passes the
delete's timestamp; here the retention is unbounded and documented —
at 100 TB/day use the RocksDB provider (``rocksdb_state_conf``) or add
a watermark-bounded eviction.

State per key is one (ts_us, seq, stamp, is_delete, value) struct —
O(|live keys| + |tombstoned keys|), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _stamped_argmax

# input contract: key long, ts_us long (epoch micros), seq long,
# op string ('U' upsert / 'D' delete), value double
CDC_INPUT_SCHEMA = "key long, ts_us long, seq long, op string, value double"


def stateful_cdc_merge(changes: DataFrame) -> DataFrame:
    """Exact streaming MERGE over a (key, ts_us, seq, op, value)
    changelog. Output (update mode, columns ``key long, ts_us long,
    seq long, value double, is_tombstone boolean``): one row per key
    per micro-batch in which its latest-change winner moved —
    ``is_tombstone=True`` rows carry a null value and mean "delete key
    downstream".

    Plan shape: a partial ``max(struct(ts_us, seq, stamp, is_delete,
    value))`` per key, one hash shuffle on key, then the stateful
    aggregate (streaming/dedup._stamped_argmax). (ts_us, seq) must be a
    total order per key, so the winner does not depend on batch row
    order.

    Malformed changelog rows (NULL ts_us/seq/op — no position in the
    total order, or no op) are DROPPED before the stateful operator,
    mirroring the reference's drop-corrupt parse convention
    (HadoopKafkaConsumer.java:64-67): a null ordering key would
    otherwise take part in the argmax.
    """
    typed = changes.filter(
        F.col("ts_us").isNotNull()
        & F.col("seq").isNotNull()
        & F.col("op").isNotNull()
    ).select(
        F.col("key").cast("long"),
        F.col("ts_us").cast("long"),
        F.col("seq").cast("long"),
        (F.col("op").cast("string") == "D").alias("is_delete"),
        F.col("value").cast("double"),
    )
    best = _stamped_argmax(typed, ["key"], ["ts_us", "seq"], ["is_delete", "value"])
    return best.select(
        "key",
        "ts_us",
        "seq",
        F.when(~F.col("is_delete"), F.col("value")).alias("value"),
        F.col("is_delete").alias("is_tombstone"),
    )


def upsert_equality_batch_fn(
    root: str,
    schema,
    key: str,
    *,
    order_col: str | None = None,
    stats_col: str | None = None,
):
    """Build a ``foreachBatch`` function that applies each micro-batch
    as an EQUALITY-DELETE UPSERT against the versioned table at
    ``root`` — the Flink→Iceberg upsert-sink shape: every epoch
    commits (one equality-delete file of the batch's keys + the rows
    as new data files) with ZERO reads of the base table, so commit
    cost tracks the batch, never the table
    (sources/maintenance.merge_upsert_equality; the spectrum's other
    points — copy-on-write and position-delete MoR — both scan).

    ``order_col`` names the event-order column used to reduce each
    epoch to its per-key LAST event before committing
    (merge_upsert_equality requires unique keys per batch; an
    availableNow catch-up epoch may carry several events per key).
    Without it the batch must already be key-unique. Cross-epoch
    ordering is the stream's delivery order, as for every keyed-CDC
    consumer. Pending masks fold at the next
    :func:`sources.maintenance.compact` — schedule one per N epochs in
    production.
    """
    from ..sources.maintenance import merge_upsert_equality

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        latest = batch_df
        if order_col is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(key).orderBy(F.desc(order_col))
            latest = (
                batch_df.withColumn(
                    "__rn", F.row_number().over(w)
                )
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        spark = batch_df.sparkSession
        merge_upsert_equality(
            spark, root, schema, latest, key, stats_col=stats_col
        )

    return _apply
