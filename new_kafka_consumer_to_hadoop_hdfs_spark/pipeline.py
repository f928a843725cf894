"""The faithful reference pipeline: Kafka → parse → per-partition LWW
dedup → JSON-lines sink (SURVEY.md §3, M1).

The transform core is source-agnostic: any DataFrame carrying
``(partition, offset, value)`` — the reference's shuffle envelope
(KafkaMessageWithOffset.java:11-13) — flows through the same plan,
which is how the logic is tested without a broker and how a backfill
from parquet-archived Kafka dumps would run in production.

CLI mirrors the reference's option surface
(HadoopKafkaConsumer.java:162-196)::

    python -m new_kafka_consumer_to_hadoop_hdfs_spark.pipeline \
        -o hdfs:///out -t my_topic -b broker:9092 [-g group] [-p 3] \
        [--limit N] [--streaming]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.message import parse_messages, serialize_message
from .operators.dedup import dedup_last_write_wins
from .sources.kafka import KafkaSourceConfig, read_kafka_batch, read_kafka_stream
from .sources.sinks import stream_json_lines, write_json_lines


def dedup_pipeline(messages: DataFrame) -> DataFrame:
    """parse → drop invalid → per-(partition, id) argmax(offset).

    Returns (partition, offset, id, msg) for the surviving rows —
    the reducer's output relation (HadoopKafkaConsumer.java:47-103).
    """
    value_str = F.col("value").cast("string")  # byte[]→UTF-8, the *intent*
    # of KafkaContext.java:107 (see SURVEY.md §1.3 decode defect)
    parsed = parse_messages(
        messages.withColumn("value", value_str), "value"
    )
    return dedup_last_write_wins(
        parsed, keys=["partition", "id"], order_by=[F.col("offset").desc()]
    )


def serialize_output(deduped: DataFrame) -> DataFrame:
    """JSON line per survivor, exactly what TextOutputFormat received."""
    return deduped.select(serialize_message(F.col("id"), F.col("msg")).alias("value"))


def run_batch(spark: SparkSession, cfg: KafkaSourceConfig, output_dir: str) -> None:
    src = read_kafka_batch(spark, cfg)
    out = serialize_output(dedup_pipeline(src))
    write_json_lines(out, output_dir, line=F.col("value"))


def run_streaming(
    spark: SparkSession,
    cfg: KafkaSourceConfig,
    output_dir: str,
    checkpoint: str,
    *,
    stateful: bool = False,
):
    """Streaming twin with AvailableNow.

    Default mode dedups per micro-batch via foreachBatch (exact when a
    key's messages land in one batch — always true for AvailableNow
    over a quiet topic). ``stateful=True`` switches to the
    cross-batch-exact LWW operator (streaming/dedup.stateful_lww_dedup,
    a built-in update-mode ``max(struct)`` aggregate), emitting a key's
    new winner whenever a higher offset arrives, with O(live keys)
    state. A checkpoint written by the earlier ``applyInPandasWithState``
    form of that operator is refused at start; restart such a stream
    from a fresh checkpoint.

    --limit in streaming mode: ``maxOffsetsPerTrigger`` throttles each
    micro-batch, and the foreachBatch path additionally enforces the
    reference's HARD per-partition cap cumulatively across batches via
    streaming.dedup.per_partition_cap (the topic is still consumed to
    the end — AvailableNow semantics — but output stops at the cap,
    matching kafka.limit, KafkaInputFormat.java:188).
    """
    src = read_kafka_stream(spark, cfg)
    if stateful:
        from .streaming.dedup import stateful_lww_dedup

        parsed = dedup_pipeline_parse_only(src)
        winners = stateful_lww_dedup(parsed)
        out = winners.select(
            serialize_message(F.col("id"), F.col("msg")).alias("value")
        )

        # file sinks support append only, so update-mode output goes
        # through foreachBatch: each epoch's new winners land in their
        # own overwritten dir (idempotent under epoch replay)
        def write_updates(batch_df: DataFrame, epoch_id: int) -> None:
            write_json_lines(
                batch_df, f"{output_dir}/epoch={epoch_id}", line=F.col("value")
            )

        return (
            out.writeStream.foreachBatch(write_updates)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    cap = None
    if cfg.limit and cfg.limit > 0:
        from .streaming.dedup import per_partition_cap

        # quota state lives next to the checkpoint so a restart resumes
        # the cap; per-epoch overwrite dirs make sink replays idempotent
        cap = per_partition_cap(
            cfg.limit, state_path=f"{checkpoint}/__partition_cap_state.json"
        )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if cap is not None:
            batch_df = cap(batch_df, epoch_id)
        out = serialize_output(dedup_pipeline(batch_df))
        write_json_lines(out, f"{output_dir}/epoch={epoch_id}", line=F.col("value"))

    return (
        src.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_pipeline_parse_only(messages: DataFrame) -> DataFrame:
    """The parse/filter half of dedup_pipeline (for stateful streaming,
    where the argmax happens in the state operator, not a batch agg)."""
    value_str = F.col("value").cast("string")
    return parse_messages(messages.withColumn("value", value_str), "value")


def build_arg_parser() -> argparse.ArgumentParser:
    # flag-for-flag with buildOptions() (HadoopKafkaConsumer.java:162-196)
    p = argparse.ArgumentParser(description="Kafka → dedup → JSON-lines sink")
    p.add_argument("-o", "--output", required=True, help="output directory")
    p.add_argument("-t", "--topic", default="my_test_kafka_topic")
    p.add_argument("-g", "--consumer-group", default=None, help="accepted, unused (reference parity)")
    p.add_argument("-b", "--brokers", default="localhost:9092")
    p.add_argument("-p", "--partitions", type=int, default=3,
                   help="minPartitions hint; Spark discovers real partition count")
    p.add_argument("--limit", type=int, default=-1, help="per-partition row cap")
    p.add_argument(
        "--partition-count",
        type=int,
        default=None,
        help="ACTUAL topic partition count, enabling the zero-shuffle "
        "endingOffsets pushdown of --limit (must cover every partition "
        "or the Kafka source rejects the offsets; omit to use the "
        "exact post-read cap)",
    )
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--checkpoint", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    args = build_arg_parser().parse_args(argv)
    cfg = KafkaSourceConfig(
        brokers=args.brokers,
        topic=args.topic,
        group_id=args.consumer_group,
        limit=args.limit,
        min_partitions=args.partitions,
        # NOT -p: that is an oversplit hint with a default of 3, while
        # the endingOffsets pushdown needs the true partition count for
        # every partition — opt-in via --partition-count only
        partitions=args.partition_count,
    )
    spark = get_spark(app_name=f"kafka-dedup:{args.topic}")
    if args.streaming:
        q = run_streaming(spark, cfg, args.output, args.checkpoint or args.output + "/_checkpoint")
        q.awaitTermination()
    else:
        run_batch(spark, cfg, args.output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
