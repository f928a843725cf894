"""Named query registry.

Each plan module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL over the
testdata views). ``__spark_entry__.py`` re-exports the merged registry
for the driver's correctness harness; tests run the same comparison
locally.

Check window. Each round's correctness harness oracle-checks only the
FIRST 50 entries of ``merged_registry()``, so iteration order decides
which queries earn fresh evidence. The order is a staleness rotation
derived from the committed ``CORRECTNESS_r{N}.json`` files (one per
round) at the repo root:

1. never-checked (no passing row) and plan-changed queries lead;
2. the rest follow, oldest last passing row first;
3. module registration order breaks ties.

A row is evidence unless one of ``rows_match``/``schema_match``/
``hash_match`` is ``False`` or ``err`` is set to anything other than
``"no_oracle"`` (the rows-only sketches), so a query that failed its
check leads the next window. Committing a round's CORRECTNESS file is
the whole update.

``tools/plan_changed.json`` maps a query to the round its plan or oracle
changed in; the query stays at priority 0 while its last passing row is
from that round or earlier, so the entry expires once the next round
checks it. ``tools/plan_fingerprints.py --write`` stamps every query
whose plan fingerprint moved (or is new) with the newest round on disk
and drops expired entries. Oracle-SQL edits are not fingerprinted: add
such a query to the map by hand, stamped with the newest round.
"""

from __future__ import annotations

import json
import pathlib
import re
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REPO = pathlib.Path(__file__).resolve().parents[2]
_ROUND_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")
PLAN_CHANGED = pathlib.Path("tools", "plan_changed.json")


def correctness_rows(root: pathlib.Path) -> dict[int, dict[str, dict]]:
    """Every ``CORRECTNESS_r{N}.json`` under ``root``, keyed by round."""
    rounds = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _ROUND_FILE.fullmatch(path.name)
        if m:
            rounds[int(m.group(1))] = json.loads(path.read_text())
    return rounds


def plan_changed(root: pathlib.Path) -> dict[str, int]:
    """The ``PLAN_CHANGED`` map under ``root`` (empty if absent)."""
    path = root / PLAN_CHANGED
    return json.loads(path.read_text()) if path.exists() else {}


def _is_evidence(row: dict) -> bool:
    if any(row.get(k) is False for k in ("rows_match", "schema_match", "hash_match")):
        return False
    return row.get("err") in (None, "no_oracle")


def last_checked(rows_by_round: Mapping[int, Mapping[str, dict]]) -> dict[str, int]:
    """Each query's newest round with a passing CORRECTNESS row."""
    last: dict[str, int] = {}
    for rnd in sorted(rows_by_round):
        for name, row in rows_by_round[rnd].items():
            if _is_evidence(row):
                last[name] = rnd
    return last


def window_order(
    names: Iterable[str],
    rows_by_round: Mapping[int, Mapping[str, dict]],
    changed: Mapping[str, int],
) -> list[str]:
    """``names`` in check-window order (see the module docstring)."""
    last = last_checked(rows_by_round)

    def staleness(name: str) -> int:
        rnd = last.get(name, 0)
        return 0 if rnd <= changed.get(name, 0) else rnd

    # sorted() is stable: ties keep module registration order
    return sorted(names, key=staleness)


def merged_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    from . import (
        analytics,
        corpus,
        llm,
        multimodal,
        reference,
        relational,
        tpch_deep,
        windows,
    )

    modules = [
        reference, relational, tpch_deep, llm, windows, multimodal, corpus,
        analytics,
    ]

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for m in modules:
        for name, fn in getattr(m, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r}")
            queries[name] = fn
        oracles.update(getattr(m, "ORACLES", {}))
    unknown = set(oracles) - set(queries)
    if unknown:
        raise ValueError(f"oracles without queries: {unknown}")

    ordered = window_order(queries, correctness_rows(_REPO), plan_changed(_REPO))
    return {n: queries[n] for n in ordered}, oracles
