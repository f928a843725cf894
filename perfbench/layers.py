"""Per-layer measurement for the traced run.

:func:`install` wraps the public functions of each layer with spans
before the query modules import them, so every call site sees the
wrapper. Row counts are taken with ``DataFrame.observe`` at the same
boundaries; they ride the action that runs anyway and add no job.
Spark's own records are read only after the run: the event log for
jobs, tasks and executed plans, and the stream's progress reports.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import sparklog
from spans import Span, Tracer, self_times

SELF_LAYERS = (
    "bench", "plans", "sources.files", "sources.cache", "sources.sinks", "pipeline",
    "functions.message", "operators.dedup", "operators.text", "operators.similarity",
    "operators.graph", "streaming", "streaming.dedup", "spark.action", "spark.job",
)

# Every per-layer metric, in report order, with its unit. A layer a
# workload does not use reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "jobs/op",
    "sources.files.load_s": "s/op",
    "sources.files.load_calls": "calls/op",
    "sources.files.schema_jobs": "jobs/op",
    "sources.cache.build_s": "s",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.task_run_s": "s/op",
    "spark.task_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_write_mib": "MiB/op",
    "spark.shuffle_read_mib": "MiB/op",
    "spark.spill_mib": "MiB/op",
    "spark.failed_tasks": "count",
    "spark.reused_exchanges": "count/op",
    "operators.dedup.rows_in": "rows/op",
    "operators.dedup.rows_out": "rows/op",
    "operators.dedup.survivor_ratio": "ratio",
    "functions.message.valid_ratio": "ratio",
    "sources.sinks.write_s": "s",
    "sources.sinks.files_written": "files/write",
    "sources.sinks.bytes_written": "bytes/write",
    "operators.text.candidate_pairs": "pairs/call",
    "operators.text.verified_pairs": "pairs/call",
    "operators.text.verify_ratio": "ratio",
    "operators.graph.construct_jobs": "jobs/op",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_mib": "MiB",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_updated": "rows",
    "trace.untraced_op_ms": "ms",
    "trace.traced_op_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
    **{f"self_s.{layer}": "s/op" for layer in SELF_LAYERS},
}

_JOB_GROUP = "spark.jobGroup.id"


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Layers:
    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.cache_build_s = 0.0
        self.observations: list[tuple[str, object]] = []

    # -- wrappers -------------------------------------------------------

    def _spanned(self, fn, name: str, layer: str):
        tracer = self.tracer

        def wrapped(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def _observe(self, df, key: str):
        """Count ``df``'s rows when its action runs (batch plans only)."""
        if not self.tracer.enabled or df.isStreaming:
            return df
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        self.observations.append((key, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def install(self) -> None:
        from new_kafka_consumer_to_hadoop_hdfs_spark import pipeline
        from new_kafka_consumer_to_hadoop_hdfs_spark.operators import graph, similarity, text
        from new_kafka_consumer_to_hadoop_hdfs_spark.sources import cache, files, sinks
        from new_kafka_consumer_to_hadoop_hdfs_spark.streaming import dedup as sdedup

        tracer, layers = self.tracer, self

        load_table = files.load_table

        def traced_load_table(spark, sf_dir, name):
            with tracer.span("load_table", "sources.files", table=name):
                return load_table(spark, sf_dir, name)

        files.load_table = traced_load_table

        cached = cache.cached_materialization

        def traced_cached(src, cache_name, build):
            def timed_build(tmp):
                t0 = time.perf_counter()
                try:
                    with tracer.span("cache_build", "sources.cache", cache=cache_name):
                        build(tmp)
                finally:
                    layers.cache_build_s += time.perf_counter() - t0

            return cached(src, cache_name, timed_build)

        cache.cached_materialization = traced_cached

        write = sinks.write_json_lines

        def traced_write(df, path, **kwargs):
            with tracer.span("write_json_lines", "sources.sinks", path=path) as s:
                write(df, path, **kwargs)
            if s is not None:
                parts = glob.glob(os.path.join(path, "part-*"))
                s.attrs.update(files=len(parts), bytes=sum(os.path.getsize(p) for p in parts))

        sinks.write_json_lines = traced_write

        parse = pipeline.parse_messages

        def traced_parse(df, value_col="value"):
            with tracer.span("parse_messages", "functions.message"):
                out = parse(layers._observe(df, "message.rows_in"), value_col)
                return layers._observe(out, "message.rows_valid")

        pipeline.parse_messages = traced_parse

        dedup = pipeline.dedup_last_write_wins

        def traced_dedup(df, keys, order_by, **kwargs):
            with tracer.span("dedup_last_write_wins", "operators.dedup"):
                return layers._observe(dedup(df, keys, order_by, **kwargs), "dedup.rows_out")

        pipeline.dedup_last_write_wins = traced_dedup
        for name in ("dedup_pipeline", "dedup_pipeline_parse_only", "serialize_output"):
            setattr(pipeline, name, self._spanned(getattr(pipeline, name), name, "pipeline"))

        verify = text.jaccard_verify_elements

        def traced_verify(cands, ex, id_col, **kwargs):
            with tracer.span("jaccard_verify_elements", "operators.text"):
                cands = layers._observe(cands, "text.candidates")
                return layers._observe(verify(cands, ex, id_col, **kwargs), "text.verified")

        text.jaccard_verify_elements = traced_verify
        for name in ("prefix_filter_candidate_pairs", "minhash_candidate_pairs", "shingle_elements"):
            setattr(text, name, self._spanned(getattr(text, name), name, "operators.text"))
        for module, name, layer in ((similarity, "topk_cosine", "operators.similarity"),
                                    (graph, "connected_components_min_label", "operators.graph"),
                                    (sdedup, "stateful_lww_dedup", "streaming.dedup")):
            setattr(module, name, self._spanned(getattr(module, name), name, layer))

    def bind(self, spark) -> None:
        """Tag every Spark job with the innermost open span's id."""
        sc = spark.sparkContext

        def enter(span: Span):
            prev = sc.getLocalProperty(_JOB_GROUP)
            sc.setLocalProperty(_JOB_GROUP, span.span_id)
            return prev

        def leave(span: Span, prev):
            sc.setLocalProperty(_JOB_GROUP, prev)

        self.tracer.on_enter, self.tracer.on_exit = enter, leave

    # -- metrics --------------------------------------------------------

    def read_observations(self) -> None:
        """Read the observed counts; call after the last action, before
        the session stops."""
        self.observed: dict[str, list[int]] = {}
        for key, obs in self.observations:
            self.observed.setdefault(key, []).append(int(obs.get["n"]))

    def metrics(self, phase_op_ms: dict[str, float], session_s: float, events_dir: str,
                stream_batches: list[dict]) -> dict[str, tuple[float, str]]:
        """``phase_op_ms``: the end-to-end ``op_ms`` of the untraced and
        the traced samples. ``stream_batches``: Spark's progress reports
        of the micro-batches timed in the traced phases (empty for a
        batch workload)."""
        tracer = self.tracer
        spans = list(tracer.spans)
        by_id = {s.span_id: s for s in spans}
        # one root span per traced operation: a pass, a query, or a
        # stream epoch (which may run while a phase waits for its last
        # micro-batch, so it is not counted from the samples)
        n_ops = max(1, sum(s.parent is None for s in spans))
        jobs, reused = sparklog.read_event_log(events_dir)
        owned: dict[str, list] = {}
        for job in jobs.values():
            owner = by_id.get(job.group or "")
            if owner is None:
                continue
            owned.setdefault(owner.span_id, []).append(job)
            tracer.add(Span(f"job{job.job_id}", "job", "spark.job", owner.op_id, owner.span_id,
                            job.submit_ms / 1000, max(job.end_ms, job.submit_ms) / 1000))
        all_jobs = [j for js in owned.values() for j in js]

        def under(span: Span, layer: str) -> bool:
            while span is not None:
                if span.layer == layer:
                    return True
                span = by_id.get(span.parent)
            return False

        def jobs_under(layer: str) -> int:
            return sum(len(js) for sid, js in owned.items() if under(by_id[sid], layer))

        actions = [s for s in spans if s.layer in ("spark.action", "sources.sinks") and owned.get(s.span_id)]
        plan_s = [min(j.submit_ms for j in owned[s.span_id]) / 1000 - s.start for s in actions]
        exec_s = [(max(j.end_ms for j in owned[s.span_id]) - min(j.submit_ms for j in owned[s.span_id])) / 1000
                  for s in actions]
        writes = [s for s in spans if s.layer == "sources.sinks"]
        obs = self.observed
        rows_in = sum(obs.get("message.rows_valid", []))
        rows_out = sum(obs.get("dedup.rows_out", []))
        messages = sum(obs.get("message.rows_in", []))
        cands = sum(obs.get("text.candidates", []))
        verified = sum(obs.get("text.verified", []))
        n_verify = max(1, len(obs.get("text.candidates", [])))
        n_dedup = max(1, len(obs.get("dedup.rows_out", [])))
        mib = sparklog.MIB
        untraced, traced = phase_op_ms["untraced"], phase_op_ms["traced"]
        selfs = self_times(tracer.spans)

        def batch_ms(key: str) -> float:
            return _median(b["durationMs"].get(key, 0) for b in stream_batches)

        def state(key: str) -> float:
            return _median(sum(op[key] for op in b["stateOperators"]) for b in stream_batches)

        values = {
            "session.start_s": session_s,
            "plans.construct_s": _median(s.duration for s in spans if s.layer == "plans"),
            "plans.construct_jobs": jobs_under("plans") / n_ops,
            "sources.files.load_s": sum(s.duration for s in spans if s.layer == "sources.files") / n_ops,
            "sources.files.load_calls": sum(s.layer == "sources.files" for s in spans) / n_ops,
            "sources.files.schema_jobs": jobs_under("sources.files") / n_ops,
            "sources.cache.build_s": self.cache_build_s,
            "spark.plan_s": _median(plan_s),
            "spark.execute_s": _median(exec_s),
            "spark.jobs": len(all_jobs) / n_ops,
            "spark.stages": sum(len(j.ran_stages) for j in all_jobs) / n_ops,
            "spark.tasks": sum(j.tasks for j in all_jobs) / n_ops,
            "spark.task_run_s": sum(j.task_run_ms for j in all_jobs) / 1000 / n_ops,
            "spark.task_cpu_s": sum(j.task_cpu_ns for j in all_jobs) / 1e9 / n_ops,
            "spark.gc_s": sum(j.gc_ms for j in all_jobs) / 1000 / n_ops,
            "spark.shuffle_write_mib": sum(j.shuffle_write for j in all_jobs) / mib / n_ops,
            "spark.shuffle_read_mib": sum(j.shuffle_read for j in all_jobs) / mib / n_ops,
            "spark.spill_mib": sum(j.spill for j in all_jobs) / mib / n_ops,
            "spark.failed_tasks": sum(j.failed_tasks for j in all_jobs),
            "spark.reused_exchanges": sum(
                reused.get(e, 0) for e in {j.execution_id for j in all_jobs if j.execution_id}) / n_ops,
            "operators.dedup.rows_in": rows_in / n_dedup if rows_out else 0,
            "operators.dedup.rows_out": rows_out / n_dedup,
            "operators.dedup.survivor_ratio": rows_out / rows_in if rows_out else 0,
            "functions.message.valid_ratio": rows_in / messages if messages else 0,
            "sources.sinks.write_s": _median(s.duration for s in writes),
            "sources.sinks.files_written": _median(s.attrs.get("files", 0) for s in writes),
            "sources.sinks.bytes_written": _median(s.attrs.get("bytes", 0) for s in writes),
            "operators.text.candidate_pairs": cands / n_verify,
            "operators.text.verified_pairs": verified / n_verify,
            "operators.text.verify_ratio": verified / cands if cands else 0,
            "operators.graph.construct_jobs": jobs_under("operators.graph") / n_ops,
            "streaming.trigger_ms": batch_ms("triggerExecution"),
            "streaming.add_batch_ms": batch_ms("addBatch"),
            "streaming.query_planning_ms": batch_ms("queryPlanning"),
            "streaming.wal_commit_ms": batch_ms("walCommit"),
            "streaming.state_rows": state("numRowsTotal"),
            "streaming.state_mem_mib": state("memoryUsedBytes") / mib,
            "streaming.state_commit_ms": state("commitTimeMs"),
            "streaming.state_rows_updated": state("numRowsUpdated"),
            "trace.untraced_op_ms": untraced,
            "trace.traced_op_ms": traced,
            "trace.overhead_pct": (traced - untraced) / untraced * 100 if untraced else 0,
            "trace.spans": len(tracer.spans),
            **{f"self_s.{layer}": selfs.get(layer, 0.0) / n_ops for layer in SELF_LAYERS},
        }
        return {k: (float(values[k]), unit) for k, unit in PER_LAYER.items()}


def install(tracer: Tracer) -> Layers:
    layers = Layers(tracer)
    layers.install()
    return layers
