"""Check-window order: the staleness rotation ``merged_registry()``
derives from the committed ``CORRECTNESS_r{N}.json`` files and
``tools/plan_changed.json`` (see the ``plans`` package docstring).

The pure sort is tested on synthetic rounds; the remaining tests pin
its wiring to the committed files."""

from __future__ import annotations

import json
import shutil

import pytest

from new_kafka_consumer_to_hadoop_hdfs_spark import plans
from new_kafka_consumer_to_hadoop_hdfs_spark.plans import (
    correctness_rows,
    last_checked,
    merged_registry,
    plan_changed,
    window_order,
)

WINDOW = 50

OK = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None,
             "err": "no_oracle"}


def _rounds(**by_round: list[str]) -> dict[int, dict[str, dict]]:
    """``_rounds(r1=["a"], r3=["b"])`` -> passing rows keyed by round."""
    return {int(k[1:]): {n: dict(OK) for n in v} for k, v in by_round.items()}


@pytest.fixture()
def module_order(monkeypatch, tmp_path):
    """Registry names in module registration order (no CORRECTNESS rows)."""
    with monkeypatch.context() as m:
        m.setattr(plans, "_REPO", tmp_path)
        return list(merged_registry()[0])


def test_order_is_never_checked_then_oldest_first_with_module_ties():
    names = ["a", "b", "c", "d", "e", "f"]
    rounds = _rounds(r1=["b", "d"], r2=["e", "c"], r3=["d"])
    # a, f never checked; b last r1; c, e last r2; d last r3
    assert window_order(names, rounds, {}) == ["a", "f", "b", "c", "e", "d"]


def test_plan_changed_entry_leads_until_a_later_round_checks_it():
    names = ["a", "b", "c"]
    rounds = _rounds(r1=["a"], r2=["b", "c"])
    # c changed in round 2: its r2 row predates the change
    assert window_order(names, rounds, {"c": 2}) == ["c", "a", "b"]
    # round 3 checks c: the entry expires with no edit
    rounds[3] = {"c": dict(OK)}
    assert window_order(names, rounds, {"c": 2}) == ["a", "b", "c"]


def test_failed_row_is_not_evidence_but_rows_only_is():
    names = ["a", "b", "c"]
    rounds = _rounds(r1=["a", "b", "c"])
    rounds[2] = {
        "a": dict(OK, hash_match=False),
        "b": dict(OK, rows_match=None, err="Traceback ... AnalysisException"),
        "c": dict(ROWS_ONLY),
    }
    assert last_checked(rounds) == {"a": 1, "b": 1, "c": 2}
    # the two failed checks lead the next window instead of rotating back
    assert window_order(names, rounds, {}) == ["a", "b", "c"]


def test_unregistered_names_in_old_rounds_are_ignored():
    rounds = _rounds(r1=["retired", "a"], r2=["gone"])
    assert window_order(["b", "a"], rounds, {"retired": 1}) == ["b", "a"]


def test_plan_changed_keys_are_registered_queries():
    assert set(plan_changed(plans._REPO)) <= set(merged_registry()[0])


def test_historical_rounds_reproduce_the_r15_window(module_order):
    """Fed rounds <= 14 and round 15's eight plan changes stamped 14, the
    derivation picks exactly the 50 names round 15 checked."""
    rounds = correctness_rows(plans._REPO)
    r15_plan_changed = {
        "dedup_containment", "event_interarrival_stats",
        "pipeline_corpus_dedup", "pipeline_curriculum_order",
        "pipeline_dedup_keep_best", "pipeline_graph_bfs_reach",
        "pipeline_graph_pagerank", "pipeline_span_dedup",
    }
    upto14 = {r: rows for r, rows in rounds.items() if r <= 14}
    order = window_order(module_order, upto14, dict.fromkeys(r15_plan_changed, 14))
    assert set(order[:WINDOW]) == set(rounds[15])


def test_live_window_skips_the_newest_round():
    names = list(merged_registry()[0])
    rounds = correctness_rows(plans._REPO)
    newest = max(rounds)
    assert newest >= 15
    changed = plan_changed(plans._REPO)
    last = last_checked(rounds)
    fresh = {n for n in names if last.get(n) == newest and changed.get(n, 0) < newest}
    assert fresh, "the newest round checked no registered query"
    assert not fresh & set(names[:WINDOW])
    assert set(names[-len(fresh):]) == fresh


def test_new_round_file_reorders_the_registry(monkeypatch, tmp_path):
    before = list(merged_registry()[0])
    for path in plans._REPO.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, tmp_path)
    (tmp_path / "tools").mkdir()
    shutil.copy(plans._REPO / plans.PLAN_CHANGED, tmp_path / plans.PLAN_CHANGED)
    newest = max(correctness_rows(tmp_path))
    checked = before[:WINDOW]
    (tmp_path / f"CORRECTNESS_r{newest + 1}.json").write_text(
        json.dumps({n: OK for n in checked})
    )
    monkeypatch.setattr(plans, "_REPO", tmp_path)
    after = list(merged_registry()[0])
    assert sorted(after) == sorted(before)
    assert set(after[-WINDOW:]) == set(checked)
    assert not set(after[:WINDOW]) & set(checked)
