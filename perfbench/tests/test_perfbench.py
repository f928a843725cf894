"""Tests for the benchmark itself: generators, oracles, reported metric
names and units, and the span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import layers
import oracle
import run
from queries import FROZEN_MIX, resolve
from spans import Span, Tracer, covered, self_times

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- generators ---------------------------------------------------------


def test_kafka_envelope_is_deterministic_per_seed():
    a, b = gen.kafka_envelope(3, 5_000), gen.kafka_envelope(3, 5_000)
    assert a.equals(b)
    assert not a.equals(gen.kafka_envelope(4, 5_000))


def test_kafka_envelope_properties():
    t = gen.kafka_envelope(1, 40_000, partitions=8, versions_per_key=8)
    parts = t.column("partition").to_pylist()
    offsets = t.column("offset").to_pylist()
    values = t.column("value").to_pylist()
    assert set(parts) == set(range(8))
    for p in range(8):
        offs = sorted(o for q, o in zip(parts, offsets) if q == p)
        assert offs == list(range(len(offs)))  # dense, unique per partition
    n = len(values)
    malformed = sum(v is not None and oracle.parse_value(v) is None and v != "null" for v in values)
    assert 0.005 < malformed / n < 0.02
    no_id = sum(v is not None and v.startswith('{"msg"') for v in values)
    assert 0.03 < no_id / n < 0.05
    winners = oracle.lww_winners(zip(parts, offsets, values))
    valid = sum(oracle.parse_value(v) is not None for v in values)
    assert 6 < valid / len(winners) < 11


def test_near_dup_corpus_is_deterministic_and_plants_pairs():
    (a, pa_), (b, pb) = gen.near_dup_corpus(5, 400), gen.near_dup_corpus(5, 400)
    assert a.equals(b) and pa_ == pb
    texts = a.column("text").to_pylist()
    kinds = {k for _, _, k in pa_}
    assert kinds == {"dup", "contain"}
    for src, dst, kind in pa_:
        assert src < dst
        sa, sb = oracle.shingles(texts[src]), oracle.shingles(texts[dst])
        if kind == "contain":
            assert sa <= sb
        else:
            assert len(sa & sb) / len(sa | sb) > 0.5


def test_query_tables_are_deterministic():
    a, b = gen.query_tables(9, 0.001), gen.query_tables(9, 0.001)
    assert set(a) == {"customer", "orders", "lineitem", "events", "embeddings"}
    assert all(a[k].equals(b[k]) for k in a)
    assert a["lineitem"].num_rows == 6_000


# -- oracles ------------------------------------------------------------


def test_lww_oracle_follows_gson_semantics():
    records = [
        (0, 0, '{"id": 1, "msg": "old"}'),
        (0, 5, '{"id": 1, "msg": "new"}'),
        (0, 3, '{"id": 1, "msg": "mid"}'),
        (1, 0, '{"id": 1, "msg": "other partition"}'),
        (0, 6, "{not json"),
        (0, 7, "null"),
        (0, 8, None),
        (0, 9, '{"msg": "no id"}'),
        (0, 10, '{"id": null, "msg": "null id"}'),
        (0, 11, '{"id": 2}'),
        (0, 12, '{"id": 3, "msg": "x", "junk": true}'),
        (0, 13, '{"id": 4.5, "msg": "float id"}'),
        (0, 14, "[1, 2]"),
    ]
    lines = sorted(oracle.winner_lines(oracle.lww_winners(records)))
    assert lines == sorted([
        '{"id":1,"msg":"new"}',
        '{"id":1,"msg":"other partition"}',
        '{"id":0,"msg":"null id"}',
        '{"id":2,"msg":""}',
        '{"id":3,"msg":"x"}',
    ])
    assert oracle.lines_digest(["b", "a"]) == oracle.lines_digest(["a", "b"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from new_kafka_consumer_to_hadoop_hdfs_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    s = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_lww_oracle_agrees_with_pipeline_on_tiny_input(spark, tmp_path):
    from pyspark.sql import functions as F

    from new_kafka_consumer_to_hadoop_hdfs_spark import pipeline
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.sinks import write_json_lines

    table = gen.kafka_envelope(2, 3_000, partitions=3)
    import pyarrow.parquet as pq

    pq.write_table(table, str(tmp_path / "in.parquet"))
    src = spark.read.parquet(str(tmp_path / "in.parquet"))
    write_json_lines(pipeline.serialize_output(pipeline.dedup_pipeline(src)),
                     str(tmp_path / "out"), line=F.col("value"))
    got = []
    for f in sorted((tmp_path / "out").glob("part-*")):
        got += f.read_text(encoding="utf-8").splitlines()
    records = zip(*(table.column(c).to_pylist() for c in ("partition", "offset", "value")))
    want = oracle.winner_lines(oracle.lww_winners(records))
    assert oracle.lines_digest(got) == oracle.lines_digest(want)


def test_near_dup_oracles_agree_with_the_registered_sql(tmp_path):
    import duckdb
    import pandas as pd

    from new_kafka_consumer_to_hadoop_hdfs_spark.plans import merged_registry
    from workloads import _corpus_oracles

    _, oracles = merged_registry()
    docs = gen.near_dup_corpus(7, 150)[0]
    gen.write_tables({"documents": docs}, str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    expected = _corpus_oracles(docs)
    rows = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    expected["dedup_ngram_jaccard"] = pd.DataFrame(
        oracle.near_dup_pairs(rows, 0.6), columns=["doc_id_a", "doc_id_b", "jaccard"])
    for name, want in expected.items():
        got = con.execute(oracles[name]).df()
        assert 0 < len(want) < len(docs)
        assert oracle.frame_digest(got) == oracle.frame_digest(want), name


def test_jaccard_rounds_half_up_like_spark():
    assert oracle._round6(77 / 128) == 0.601563  # exactly 0.6015625 in binary
    assert oracle.component_minima(range(6), [(4, 1), (1, 3), (5, 2)]) == [0, 1, 2]


def test_frame_digest_is_order_insensitive_and_type_sensitive():
    import pandas as pd

    a = pd.DataFrame({"y": [1.0, 2.0], "x": [1, 2]})
    b = pd.DataFrame({"x": [2, 1], "y": [2.0, 1.0]})
    assert oracle.frame_digest(a) == oracle.frame_digest(b)
    c = pd.DataFrame({"x": [2, 1], "y": [2, 1]})
    assert oracle.frame_digest(a) != oracle.frame_digest(c)


# -- frozen query list --------------------------------------------------


def test_frozen_mix_is_registered_and_missing_names_fail():
    from new_kafka_consumer_to_hadoop_hdfs_spark.plans import merged_registry

    registry, _ = merged_registry()
    assert list(resolve(registry)) == list(FROZEN_MIX)
    with pytest.raises(SystemExit, match="missing"):
        resolve(registry, (*FROZEN_MIX, "no_such_query"))


# -- printed metrics ----------------------------------------------------


def test_reported_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(__import__("workloads").WORKLOADS)


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_percentile(list(range(39))) is None
    assert run.tail_percentile(list(range(40)))[0] == 75
    assert run.tail_percentile(list(range(100)))[0] == 90
    assert run.tail_percentile(list(range(1000)))[0] == 99


def test_summarize_weighs_each_item_by_its_median():
    from workloads import Sample

    samples = [Sample("a", 1.0, 10), Sample("a", 3.0, 10), Sample("a", 2.0, 10),
               Sample("b", 0.5, 5)]
    s = run.summarize(samples)
    assert s["items_per_s"] == pytest.approx(15 / 2.5)
    assert s["op_ms"] == pytest.approx((2000.0 * 500.0) ** 0.5)
    assert s["samples"] == 4


# -- spans --------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span("p", "op", "bench", "o", None, 0.0, 10.0),
        Span("c1", "load", "sources.files", "o", "p", 1.0, 3.0),
        Span("c2", "job", "spark.job", "o", "p", 2.0, 5.0),
        Span("g", "job", "spark.job", "o", "c1", 1.5, 2.5),
        Span("c3", "job", "spark.job", "o", "p", 8.0, 12.0),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(10 - 6)
    assert st["sources.files"] == pytest.approx(2 - 1)
    assert st["spark.job"] == pytest.approx(3 + 1 + 4)


def test_tracer_nests_and_is_silent_when_disabled():
    t = Tracer()
    with t.span("x", "bench") as s:
        assert s is None
    t.enabled = True
    with t.span("op", "bench", op_id="1") as outer:
        with t.span("inner", "plans") as inner:
            pass
    assert inner.parent == outer.span_id and inner.op_id == "1"
    assert [s.name for s in t.spans] == ["inner", "op"]


# -- contract -----------------------------------------------------------


def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".cache", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lww_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
