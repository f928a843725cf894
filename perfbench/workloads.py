"""The benchmark workloads.

Each workload generates its inputs and their expected outputs from the
seed (cached per input under ``perfbench/.cache``; the time this takes
is kept out of set-up time), warms up until steady, runs operations
serially in a closed loop until the deadline, and checks outputs after
the timed region. A ``Sample`` is one timed operation.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime

import pyarrow.parquet as pq

import gen
import oracle
from queries import FROZEN_MIX, resolve

# Input sizes (fixed, so a run's work depends only on the seed).
LWW_BATCH_MESSAGES = 240_000
LWW_PARTITIONS = 8
# The stream: files of STREAM_FILE_ROWS messages, one per micro-batch;
# more files than a run consumes, so the stream never runs dry.
STREAM_FILES = 80
STREAM_FILE_ROWS = 1_000
QUERY_SF = 0.01
CORPUS_DOCS = 1_500
# Warm-up of the LWW workloads, a fixed count so that set-up time does
# not jump by a whole operation between runs. On a 4-core host batch
# passes took 1.6-1.8 s as the fifth and sixth of a run, about 1.4 s from
# the ninth and 1.2-1.3 s from about the eleventh; micro-batches after
# the first (about 10 s, starting the Python workers and state stores)
# vary by ±15 % around a level they reach by the third.
BATCH_WARM_UP_PASSES = 8
STREAM_WARM_UP_BATCHES = 4
# Uncollected warm-up passes of the mix, and whole passes each measured
# phase runs at least. On a 4-core host a pass took 6.7 s as the second
# and the third pass of a run, and 5.3 ± 0.3 s from the sixth on, as the
# JIT compiler caught up with the planner's code: the timed passes sit on
# the first of these plateaus, which costs less set-up than the second.
MIX_WARM_UP_PASSES = 1
MIX_MIN_PASSES = 2


@dataclass
class Sample:
    item: str
    seconds: float
    rows: int


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work: str
    cache: str
    phase: str = "main"
    inputs_s: float = 0.0  # generating inputs and expected outputs


def _input_dir(ctx: Ctx, name: str, build) -> str:
    """Directory of a seeded input, built once and reused by later runs."""
    path = os.path.join(ctx.cache, f"{name}-seed{ctx.seed}")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    ctx.inputs_s += time.perf_counter() - t0
    return path


def _read_lines(directory: str) -> list[str]:
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(directory, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


# ---------------------------------------------------------------------------
# lww_batch
# ---------------------------------------------------------------------------


class LwwBatch:
    name = "lww_batch"

    def prepare(self, ctx: Ctx) -> None:
        def build(d: str) -> None:
            table = gen.kafka_envelope(ctx.seed, LWW_BATCH_MESSAGES, partitions=LWW_PARTITIONS)
            os.makedirs(os.path.join(d, "in"))
            for p in range(LWW_PARTITIONS):
                part = table.filter(table.column("partition").to_numpy() == p)
                pq.write_table(part, os.path.join(d, "in", f"partition-{p}.parquet"))
            recs = list(zip(table.column("partition").to_pylist(),
                            table.column("offset").to_pylist(), table.column("value").to_pylist()))
            n, h = oracle.lines_digest(oracle.winner_lines(oracle.lww_winners(recs)))
            with open(os.path.join(d, "expected.json"), "w") as fh:
                json.dump({"rows": n, "hash": h, "messages": len(recs)}, fh)

        self.dir = _input_dir(ctx, "lww", build)
        with open(os.path.join(self.dir, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.outputs: list[str] = []
        self.problems: dict[str, str] = {}

    def _pass(self, ctx: Ctx, out: str) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from new_kafka_consumer_to_hadoop_hdfs_spark import pipeline
        from new_kafka_consumer_to_hadoop_hdfs_spark.sources import sinks

        schema = T.StructType([
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ])
        src = ctx.spark.read.schema(schema).parquet(os.path.join(self.dir, "in"))
        lines = pipeline.serialize_output(pipeline.dedup_pipeline(src))
        sinks.write_json_lines(lines, out, line=F.col("value"))

    def warm_up(self, ctx: Ctx) -> int:
        """A fixed number of passes, so set-up time does not jump by a
        whole pass between runs."""
        for i in range(BATCH_WARM_UP_PASSES):
            self._pass(ctx, os.path.join(ctx.work, "warm", f"pass-{i}"))
        return BATCH_WARM_UP_PASSES

    def measure(self, ctx: Ctx, deadline: float) -> list[Sample]:
        samples = []
        while not samples or time.perf_counter() < deadline:
            i = len(self.outputs)
            out = os.path.join(ctx.work, ctx.phase, f"pass-{i}")
            with ctx.tracer.span("pass", "bench", op_id=f"{ctx.phase}-{i}"):
                t0 = time.perf_counter()
                self._pass(ctx, out)
                t = time.perf_counter() - t0
            samples.append(Sample("pass", t, self.expected["messages"]))
            self.outputs.append(out)
        return samples

    def check(self, ctx: Ctx, samples: list[Sample]) -> int:
        for out in self.outputs:
            n, h = oracle.lines_digest(_read_lines(out))
            if (n, h) != (self.expected["rows"], self.expected["hash"]):
                self.problems[out] = f"oracle mismatch: got {n} lines, want {self.expected['rows']}"
        return len(self.problems)


# ---------------------------------------------------------------------------
# lww_stream
# ---------------------------------------------------------------------------


def _progress_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"]).timestamp()


class LwwStream:
    """The reference semantics, exact across micro-batches.

    A file stream of the envelope (one file per micro-batch, standing in
    for Kafka, whose connector is not installed) goes through
    ``pipeline.dedup_pipeline_parse_only`` →
    ``streaming.dedup.stateful_lww_dedup`` → a ``foreachBatch`` sink that
    writes each epoch's changed winners with
    ``sources.sinks.write_json_lines``. One query runs through set-up and
    the timed region; an operation is one micro-batch, timed by Spark's
    own progress report, read after the timed region.
    """

    name = "lww_stream"

    def prepare(self, ctx: Ctx) -> None:
        def build(d: str) -> None:
            table = gen.kafka_envelope(ctx.seed, STREAM_FILES * STREAM_FILE_ROWS,
                                       partitions=LWW_PARTITIONS)
            os.makedirs(os.path.join(d, "in"))
            for i in range(STREAM_FILES):
                f = os.path.join(d, "in", f"batch-{i:04d}.parquet")
                pq.write_table(table.slice(i * STREAM_FILE_ROWS, STREAM_FILE_ROWS), f)
                # the file source takes files in modification-time order
                os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

        self.dir = _input_dir(ctx, "stream", build)
        self.out = os.path.join(ctx.work, "stream-out")
        self.ckpt = os.path.join(ctx.work, "stream-ckpt")
        self.progress: list[dict] = []
        self.problems: dict[str, str] = {}

    def _start(self, ctx: Ctx):
        from pyspark.sql import types as T

        from new_kafka_consumer_to_hadoop_hdfs_spark import pipeline
        from new_kafka_consumer_to_hadoop_hdfs_spark.sources import sinks
        from new_kafka_consumer_to_hadoop_hdfs_spark.streaming import dedup

        schema = T.StructType([
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ])
        ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        src = (ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(self.dir, "in")))
        winners = dedup.stateful_lww_dedup(pipeline.dedup_pipeline_parse_only(src))
        tracer, out = ctx.tracer, self.out

        def write_epoch(batch_df, epoch_id: int) -> None:
            with tracer.span("epoch", "streaming", op_id=f"epoch-{epoch_id}"):
                # (partition, id, offset, msg): the check rebuilds the
                # final winners from the offsets
                sinks.write_json_lines(batch_df, os.path.join(out, f"epoch={epoch_id}"))

        return (winners.writeStream.foreachBatch(write_epoch).outputMode("update")
                .option("checkpointLocation", self.ckpt).start())

    def _batches(self) -> list[dict]:
        """Progress of every finished micro-batch that read input."""
        exc = self.query.exception()
        if exc is not None:
            raise RuntimeError(f"lww_stream: the stream failed: {exc}")
        return [json.loads(p.json) for p in self.query.recentProgress
                if p.numInputRows > 0]

    def _wait(self, done) -> None:
        """Poll the last progress report, lightly (the Spark driver is shared
        with the micro-batch being timed), until ``done(progress)``, the
        stream has read every file, or it has stopped."""
        while self.query.isActive:
            p = self.query.lastProgress
            if p is not None and (done(p) or p["batchId"] >= STREAM_FILES - 1):
                return
            time.sleep(0.1)

    def warm_up(self, ctx: Ctx) -> int:
        """Start the query and let it run a fixed number of micro-batches
        (the first one starts the Python workers and state stores)."""
        self.query = self._start(ctx)
        self._wait(lambda p: p["batchId"] >= STREAM_WARM_UP_BATCHES - 1)
        if len(self._batches()) < STREAM_WARM_UP_BATCHES:
            raise RuntimeError("lww_stream: the stream stopped during warm-up")
        return STREAM_WARM_UP_BATCHES

    def measure(self, ctx: Ctx, deadline: float) -> list[Sample]:
        """Micro-batches that start between now and the deadline. Waits
        past the deadline until the last of them has finished."""
        t0 = time.time()
        end = t0 + (deadline - time.perf_counter())
        time.sleep(max(0.0, deadline - time.perf_counter()))
        # every batch started before the deadline has finished once the
        # last finished batch ended after it
        self._wait(lambda p: _progress_start(p) + p["batchDuration"] / 1000 >= end)
        mine = [dict(b, phase=ctx.phase) for b in self._batches()
                if t0 <= _progress_start(b) < end]
        self.progress += mine
        return [Sample("batch", b["batchDuration"] / 1000, b["numInputRows"]) for b in mine]

    def check(self, ctx: Ctx, samples: list[Sample]) -> int:
        """The final winners over the files the committed micro-batches
        read must equal the LWW oracle over those files."""
        self.query.stop()
        committed = sorted(int(f) for f in os.listdir(os.path.join(self.ckpt, "commits"))
                           if f.isdigit())
        # the source's log: one file per batch, compacted every ten
        read = {}
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    read[entry["path"]] = entry["batchId"]
        files = sorted(p for p, b in read.items() if b <= committed[-1])
        best = {}
        for b in committed:
            for line in _read_lines(os.path.join(self.out, f"epoch={b}")):
                row = json.loads(line)
                key = (row["partition"], row["id"])
                if key not in best or row["offset"] > best[key][0]:
                    best[key] = (row["offset"], row["msg"])
        records = []
        for f in files:
            t = pq.read_table(f.removeprefix("file://"))
            records += zip(*(t.column(c).to_pylist() for c in ("partition", "offset", "value")))
        want = oracle.lines_digest(oracle.winner_lines(oracle.lww_winners(records)))
        got = oracle.lines_digest(oracle.winner_lines(best))
        if got != want or len(files) != len(committed):
            self.problems["stream"] = (f"oracle mismatch over {len(files)} files: "
                                       f"got {got[0]} winners, want {want[0]}")
            return len(samples)
        return 0


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def _corpus_oracles(docs) -> dict:
    """Expected outputs of the corpus queries whose registered oracles
    are all-pairs self-joins (minutes at this corpus size)."""
    import pandas as pd

    rows = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    keep = oracle.component_minima(
        [i for i, _ in rows], [(a, b) for a, b, _ in oracle.near_dup_pairs(rows, 0.8)])
    return {"pipeline_corpus_dedup": pd.DataFrame({"doc_id": keep})}


class QueryMix:
    name = "query_mix"

    def prepare(self, ctx: Ctx) -> None:
        from new_kafka_consumer_to_hadoop_hdfs_spark.plans import merged_registry

        registry, oracles = merged_registry()
        self.queries = resolve(registry)

        def build(d: str) -> None:
            import duckdb

            tables = gen.query_tables(ctx.seed, QUERY_SF)
            tables["documents"] = docs = gen.near_dup_corpus(ctx.seed, CORPUS_DOCS)[0]
            gen.write_tables(tables, os.path.join(d, "tables"))
            expected = {k: oracle.frame_digest(v) for k, v in _corpus_oracles(docs).items()}
            con = duckdb.connect()
            try:
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(d, 'tables', t)}.parquet')")
                for name in FROZEN_MIX:
                    if name not in expected:
                        expected[name] = (oracle.frame_digest(con.execute(oracles[name]).df())
                                          if name in oracles else None)
            finally:
                con.close()
            with open(os.path.join(d, "expected.json"), "w") as fh:
                json.dump(expected, fh)

        cached = _input_dir(ctx, "qmix", build)
        with open(os.path.join(cached, "expected.json")) as fh:
            self.expected = json.load(fh)
        # A fresh copy per run: the registry's cached materializations
        # (sources.cache) key on the tables' path and modification time,
        # so every run builds them during warm-up.
        t0 = time.perf_counter()
        self.tables = os.path.join(ctx.work, "tables")
        shutil.copytree(os.path.join(cached, "tables"), self.tables, copy_function=shutil.copy)
        ctx.inputs_s += time.perf_counter() - t0
        self.failed_queries: set[str] = set()
        self.problems: dict[str, str] = {}
        self.ops = 0

    def _run(self, ctx: Ctx, name: str, *, collect: bool = False):
        tracer = ctx.tracer
        with tracer.span("construct", "plans", query=name):
            df = self.queries[name](ctx.spark, self.tables)
        with tracer.span("action", "spark.action", query=name):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def warm_up(self, ctx: Ctx) -> int:
        """One collected pass, which builds the cache materialization and
        checks every query's output against its oracle, then
        ``MIX_WARM_UP_PASSES`` uncollected passes. The warm-up is fixed,
        so set-up time stays steady."""
        for name in FROZEN_MIX:
            try:
                pdf = self._run(ctx, name, collect=True)
                problem = self._check_one(name, pdf)
            except Exception as exc:  # a failing query is counted, not fatal
                problem = f"{type(exc).__name__}: {exc}"[:300]
            if problem:
                self.problems[name] = problem
                self.failed_queries.add(name)
        for _ in range(MIX_WARM_UP_PASSES):
            for name in FROZEN_MIX:
                if name not in self.failed_queries:
                    self._run(ctx, name)
        return 1 + MIX_WARM_UP_PASSES

    def measure(self, ctx: Ctx, deadline: float) -> list[Sample]:
        samples = []
        # cycle through the list; whole passes, so every query has
        # samples for the per-query medians
        while len(samples) < MIX_MIN_PASSES * len(FROZEN_MIX) or time.perf_counter() < deadline:
            name = FROZEN_MIX[len(samples) % len(FROZEN_MIX)]
            self.ops += 1
            with ctx.tracer.span("query", "bench", op_id=f"{ctx.phase}-{self.ops}", query=name):
                t0 = time.perf_counter()
                try:
                    self._run(ctx, name)
                except Exception:
                    self.failed_queries.add(name)
                t = time.perf_counter() - t0
            samples.append(Sample(name, t, 1))
        return samples

    def _check_one(self, name: str, pdf) -> str | None:
        if name not in self.expected:
            return "no expected output cached for this query"
        want = self.expected[name]
        if want is None:
            return None  # rows-only: no oracle registered
        got = oracle.frame_digest(pdf)
        if got != want:
            return f"oracle mismatch: got {got['rows']} rows, want {want['rows']}"
        return None

    def check(self, ctx: Ctx, samples: list[Sample]) -> int:
        return sum(s.item in self.failed_queries for s in samples)


WORKLOADS = {w.name: w for w in (LwwBatch, LwwStream, QueryMix)}
