"""The built-in streaming argmax behind stateful LWW and CDC merge.

``streaming/dedup._stamped_argmax`` runs the reference's last-write-wins
(HadoopKafkaConsumer.java:69-78) as an update-mode ``max(struct(...))``
aggregate whose struct carries a negated per-batch stamp. These tests
pin what the stamp carries (re-delivered records are not emitted again,
replayed epochs emit the same rows), that a checkpoint of the retired
``applyInPandasWithState`` operator is refused, the RocksDB provider
for CDC, and the JVM-only plan shape.
"""

from __future__ import annotations

import ast
import contextlib
import pathlib
import re

import pytest

from new_kafka_consumer_to_hadoop_hdfs_spark.streaming.cdc import (
    CDC_INPUT_SCHEMA,
    stateful_cdc_merge,
)
from new_kafka_consumer_to_hadoop_hdfs_spark.streaming.dedup import (
    rocksdb_state_conf,
    stateful_lww_dedup,
)

LWW_SCHEMA = "partition long, id long, offset long, msg string"
PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "new_kafka_consumer_to_hadoop_hdfs_spark"
)


def _write_batches(spark, src, schema, batches) -> None:
    """One parquet file per logical batch, read back one per trigger."""
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )


def _run(spark, src, schema, op, ckpt, sink) -> None:
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        op(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)  # raises the query's failure, if any


def _by_epoch(out: dict):
    def sink(batch_df, epoch_id):
        out[epoch_id] = {tuple(r) for r in batch_df.collect()}

    return sink


def _lww_fold(batches) -> dict:
    """Pure-Python reference: strict '>' by offset, first arrival wins ties."""
    best: dict = {}
    for rows in batches:
        for partition, id_, offset, msg in rows:
            key = (partition, id_)
            if key not in best or offset > best[key][0]:
                best[key] = (offset, msg)
    return best


@contextlib.contextmanager
def _session_confs(spark, confs: dict[str, str]):
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lww_redelivered_record_is_not_emitted_again(spark, tmp_path):
    """The same (partition, id, offset, msg) arriving in a later
    micro-batch ties the incumbent on offset; the older batch stamp
    wins, so nothing is emitted for it and the winner holds."""
    src = tmp_path / "src"
    _write_batches(
        spark,
        src,
        LWW_SCHEMA,
        [
            [(0, 1, 10, "a"), (0, 2, 20, "b")],
            [(0, 1, 10, "a"), (0, 2, 21, "c")],  # id 1 re-delivered
        ],
    )
    emitted: dict = {}
    _run(spark, src, LWW_SCHEMA, stateful_lww_dedup, tmp_path / "ckpt",
         _by_epoch(emitted))
    assert emitted == {
        0: {(0, 1, 10, "a"), (0, 2, 20, "b")},
        1: {(0, 2, 21, "c")},
    }


def test_cdc_redelivered_change_is_not_emitted_again(spark, tmp_path):
    """The same (key, ts_us, seq) change re-delivered in a later batch —
    an upsert and a delete marker — emits nothing; both winners hold."""
    src = tmp_path / "src"
    _write_batches(
        spark,
        src,
        CDC_INPUT_SCHEMA,
        [
            [(1, 100, 1, "U", 10.0), (2, 100, 2, "D", 0.0)],
            [(1, 100, 1, "U", 10.0), (2, 100, 2, "D", 0.0),
             (3, 5, 3, "U", 3.0)],
        ],
    )
    emitted: dict = {}
    _run(spark, src, CDC_INPUT_SCHEMA, stateful_cdc_merge, tmp_path / "ckpt",
         _by_epoch(emitted))
    assert emitted == {
        0: {(1, 100, 1, 10.0, False), (2, 100, 2, None, True)},
        1: {(3, 5, 3, 3.0, False)},
    }


def test_lww_failed_epoch_replays_identical_rows(spark, tmp_path):
    """A sink that fails on the second epoch (after reading it) stops the
    query; restarting from the same checkpoint replays that epoch with
    its original batch stamp, so it emits exactly the rows an unbroken
    run emits there, and the final winners equal the Python fold."""
    batches = [
        [(0, 1, 10, "a0"), (0, 2, 20, "b0"), (1, 1, 5, "c0")],
        [(0, 1, 30, "a1"), (0, 2, 15, "b1-stale"), (1, 3, 7, "d1")],
        [(0, 2, 40, "b2"), (1, 1, 5, "c0"), (1, 3, 6, "d2-stale")],
    ]
    src = tmp_path / "src"
    _write_batches(spark, src, LWW_SCHEMA, batches)

    unbroken: dict = {}
    _run(spark, src, LWW_SCHEMA, stateful_lww_dedup, tmp_path / "ref",
         _by_epoch(unbroken))

    attempts: dict = {}

    def failing(batch_df, epoch_id):
        attempts[epoch_id] = {tuple(r) for r in batch_df.collect()}
        if epoch_id == 1:
            raise RuntimeError("injected sink failure")

    ckpt = tmp_path / "ckpt"
    with pytest.raises(Exception, match="injected sink failure"):
        _run(spark, src, LWW_SCHEMA, stateful_lww_dedup, ckpt, failing)
    assert set(attempts) == {0, 1}

    resumed: dict = {}
    _run(spark, src, LWW_SCHEMA, stateful_lww_dedup, ckpt, _by_epoch(resumed))
    assert set(resumed) == {1, 2}  # epoch 0 was committed, not replayed
    assert resumed[1] == attempts[1] == unbroken[1]
    assert resumed[2] == unbroken[2]
    assert unbroken[1] == {(0, 1, 30, "a1"), (1, 3, 7, "d1")}

    final: dict = {}
    for epoch in (attempts[0], resumed[1], resumed[2]):
        for partition, id_, offset, msg in epoch:
            final[(partition, id_)] = (offset, msg)
    assert final == _lww_fold(batches)


def test_lww_refuses_checkpoint_of_the_python_operator(spark, tmp_path):
    """Streams started on the retired applyInPandasWithState operator
    keep a different state layout; resuming one with stateful_lww_dedup
    must fail loudly at start, not reinterpret the old state."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "src"
    _write_batches(spark, src, LWW_SCHEMA, [[(0, 1, 10, "a")]])

    def keep_max(key, pdfs, state):
        best = state.get[0] if state.exists else None
        for pdf in pdfs:
            top = int(pdf["offset"].max())
            best = top if best is None else max(best, top)
        state.update((best,))
        yield pd.DataFrame({"partition": [key[0]], "id": [key[1]],
                            "offset": [best]})

    def old_operator(stream):
        return stream.groupBy("partition", "id").applyInPandasWithState(
            keep_max,
            outputStructType="partition long, id long, offset long",
            stateStructType="offset long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    ckpt = tmp_path / "ckpt"
    _run(spark, src, LWW_SCHEMA, old_operator, ckpt, lambda df, e: df.collect())
    spark.createDataFrame([(0, 1, 11, "b")], LWW_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )

    with pytest.raises(
        Exception, match="STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"
    ):
        _run(spark, src, LWW_SCHEMA, stateful_lww_dedup, ckpt,
             lambda df, e: df.collect())


def test_cdc_merge_tombstones_under_rocksdb(spark, tmp_path):
    """The tombstone and no-resurrection scenario under the RocksDB
    state-store provider, which stateful LWW already runs under."""
    from .test_streaming import test_cdc_merge_tombstone_and_no_resurrection

    with _session_confs(spark, rocksdb_state_conf()):
        test_cdc_merge_tombstone_and_no_resurrection(spark, tmp_path)


@pytest.mark.parametrize("op", ["lww", "cdc"])
def test_streaming_argmax_plans_have_no_python_and_combine_map_side(
    spark, tmp_path, op
):
    """Both outputs plan as JVM operators only, with the partial
    aggregate below the shuffle, so versions collapse map-side."""
    schema, fn = {
        "lww": (LWW_SCHEMA, stateful_lww_dedup),
        "cdc": (CDC_INPUT_SCHEMA, stateful_cdc_merge),
    }[op]
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    jvm = spark._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = fn(stream)._jdf.queryExecution().explainString(mode)  # noqa: SLF001
    assert not re.search(r"Python|InPandas", plan), plan
    assert "StateStoreSave" in plan, plan
    # the struct buffer is not fixed-width, so the aggregate plans as a
    # SortAggregate; its partial half sits under the exchange
    below_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert re.search(r"Aggregate\(.*partial_max\(struct", below_exchange), plan


def test_apply_in_pandas_with_state_only_in_smoothing():
    """Order-dependent EWMA is the one per-key Python fold left; every
    argmax runs on built-in operators."""
    users = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute)
                    and node.attr == "applyInPandasWithState"):
                users.add(path.relative_to(PACKAGE).as_posix())
    assert users == {"streaming/smoothing.py"}
