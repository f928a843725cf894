"""Benchmark entry point.

    python3 perfbench/run.py --workload lww_batch --seed 1 --seconds 8 --trace 0

Runs one workload in one driver process (Spark ``local[3]``, one client
issuing operations serially, closed loop) and prints, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` makes a separate traced run that reports the
per-layer metrics. The line before it is the full run record, which is
also appended to ``perfbench/.work/runs.jsonl``.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "new_kafka_consumer_to_hadoop_hdfs_spark"
# Spark task slots. One of a 4-core host's cores stays free for the
# driver's planning thread, the JIT compiler and GC threads and the
# Python driver, which the short queries of the mix wait on.
CPUS = 3
DRIVER_MEMORY = "2g"
YOUNG_GEN = "256m"

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_ms": "ms",
    "mem_p50_mib": "MiB",
}


def host_state() -> dict:
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":")
            mem[k] = int(v.split()[0])
    return {
        "loadavg": [float(x) for x in load],
        "mem_used_mib": round((mem["MemTotal"] - mem["MemAvailable"]) / 1024, 1),
        "mem_total_mib": round(mem["MemTotal"] / 1024, 1),
    }


def tree_pss_mib(root_pid: int) -> float:
    """Proportional set size of ``root_pid`` and all its descendants.

    PSS splits pages shared between forked Python workers among them,
    so the sum does not count the daemon's pages once per worker.
    """
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total_kib, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kib += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total_kib / 1024


class MemSampler(threading.Thread):
    """Samples the process tree's PSS as ``(perf_counter, MiB)`` pairs."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.samples.append((time.perf_counter(), tree_pss_mib(os.getpid())))
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()

    def median_between(self, lo: float, hi: float) -> float:
        return median([m for t, m in self.samples if lo <= t <= hi])


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest of p99/p90/p75 with at least ten samples beyond it."""
    for p in (99, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, quantile(xs, p / 100)
    return None


def summarize(samples) -> dict:
    """Throughput and operation time from per-item medians, so each item
    of a mixed workload weighs the same in every run: ``op_ms`` is the
    geometric mean over items of each item's median time (for a workload
    of one item, the plain median). The geometric mean lets every query
    of the mix move it by the same factor for the same relative change,
    and it averages the run-to-run noise of the items, where a median
    over a handful of items follows one of them."""
    by_item: dict[str, list] = {}
    for s in samples:
        by_item.setdefault(s.item, []).append(s)
    item_ms = {k: median([s.seconds * 1000 for s in v]) for k, v in by_item.items()}
    item_rows = sum(median([s.rows for s in v]) for v in by_item.values())
    times = [s.seconds * 1000 for s in samples]
    return {
        "items_per_s": item_rows / (sum(item_ms.values()) / 1000),
        "op_ms": math.exp(statistics.fmean(math.log(t) for t in item_ms.values())),
        "samples": len(times),
        "tail": tail_percentile(times),
        "item_p50_ms": item_ms,
        "sample_ms": [round(t, 1) for t in times],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    benchmark's work directory, and size the Spark driver for a shared host."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed young generation: the heap's resident size then follows
        # the data the program keeps, not the collector's timing-driven
        # young-generation sizing. No perf-data file, which the JVM would
        # write to the system's temporary directory.
        "--driver-java-options", f"'-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN} -XX:-UsePerfData'",
    ]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir={os.path.join(work, 'events')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))
    host_start = host_state()
    sampler = MemSampler()
    sampler.start()

    from spans import Tracer

    tracer = Tracer()
    layer = None
    if args.trace:
        import layers

        layer = layers.install(tracer)

    from new_kafka_consumer_to_hadoop_hdfs_spark.session import get_spark

    t_spark = time.perf_counter()
    marks = {"imports": t_spark}
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_spark
    if layer is not None:
        layer.bind(spark)

    ctx = workloads.Ctx(spark, tracer, args.seed, work, os.path.join(HERE, ".cache"))
    w = workloads.WORKLOADS[args.workload]()
    marks["session"] = time.perf_counter()
    w.prepare(ctx)
    marks["prepare"] = time.perf_counter()
    warm_ops = w.warm_up(ctx)
    marks["warm_up"] = time.perf_counter()
    # set-up is the program's: generating inputs and expected outputs
    # happens only for a seed not seen before, so it is left out
    setup_s = time.perf_counter() - T_START - ctx.inputs_s

    phases = {}
    t_measure = time.perf_counter()
    if args.trace:
        # untraced and traced quarters in the same warm process, ordered
        # ABBA so a steady drift cancels: the difference of their medians
        # is the tracing overhead
        phases = {"untraced": [], "traced": []}
        for phase in ("untraced", "traced", "traced", "untraced"):
            ctx.phase = phase
            tracer.enabled = ctx.phase == "traced"
            phases[ctx.phase] += w.measure(ctx, time.perf_counter() + args.seconds / 4)
        tracer.enabled = False
    else:
        phases["main"] = w.measure(ctx, time.perf_counter() + args.seconds)
    t_measured = time.perf_counter()
    samples = [s for v in phases.values() for s in v]
    marks["measure"] = t_measured
    failed = w.check(ctx, samples)
    marks["check"] = time.perf_counter()
    if layer is not None:
        layer.read_observations()
    stop_spark(spark)
    marks["stop"] = time.perf_counter()
    sampler.stop()

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "warm_up_ops": warm_ops,
        "session_s": round(session_s, 4), "inputs_s": round(ctx.inputs_s, 4),
        "setup_s": round(setup_s, 4),
        # seconds since process start at the end of each step
        "timeline": {k: round(t - T_START, 2) for k, t in marks.items()},
        "host_start": host_start, "host_end": host_state(),
        "phases": {k: summarize(v) for k, v in phases.items()},
        "mem_peak_mib": max(m for _, m in sampler.samples),
        "problems": w.problems,
    }
    if args.trace:
        metrics = layer.metrics({k: v["op_ms"] for k, v in record["phases"].items()},
                                session_s, os.path.join(work, "events"),
                                [b for b in getattr(w, "progress", []) if b["phase"] == "traced"])
        with open(os.path.join(work, "spans.jsonl"), "w") as fh:
            for span in tracer.spans:
                fh.write(json.dumps(dataclasses.asdict(span), default=str) + "\n")
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        summary = record["phases"]["main"]
        values = {
            "setup_s": setup_s,
            "items_per_s": summary["items_per_s"],
            "op_ms": summary["op_ms"],
            "mem_p50_mib": sampler.median_between(t_measure, t_measured),
        }
        out_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record["metrics"] = out_metrics
    with open(os.path.join(HERE, ".work", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": int(failed),
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
