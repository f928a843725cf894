"""Independent pure-Python oracles for the benchmark's output checks.

The LWW oracle restates the reference consumer's semantics from
FIXTURES.md section 11 without Spark: a record survives parsing only
when its value is a JSON object whose ``id`` is an integer or absent /
null (Gson default 0) and whose ``msg`` is a string or absent / null
(Gson default ""); the winner per ``(partition, id)`` is the highest
offset. Output lines are compact JSON ``{"id":..,"msg":..}``.

The near-duplicate oracles restate the registered all-pairs oracles of
``dedup_ngram_jaccard`` and ``pipeline_corpus_dedup`` (distinct word
3-gram shingles, Jaccard rounded half-up to six places, connected
components over the pairs at or above the threshold) with an inverted
shingle index instead of a self-join, so they stay cheap on a corpus
whose all-pairs SQL takes minutes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
from collections import defaultdict
from collections.abc import Iterable

import numpy as np
import pandas as pd


def parse_value(value: str | None) -> tuple[int, str] | None:
    """``(id, msg)`` with Gson defaults, or None when the record is dropped."""
    if value is None:
        return None
    try:
        obj = json.loads(value)
    except ValueError:
        return None
    if not isinstance(obj, dict):
        return None
    mid, msg = obj.get("id"), obj.get("msg")
    if mid is None:
        mid = 0
    elif isinstance(mid, bool) or not isinstance(mid, int):
        return None
    if msg is None:
        msg = ""
    elif not isinstance(msg, str):
        return None
    return mid, msg


def lww_winners(
    records: Iterable[tuple[int, int, str | None]],
) -> dict[tuple[int, int], tuple[int, str]]:
    """``(partition, id) -> (offset, msg)`` of the highest-offset valid record."""
    best: dict[tuple[int, int], tuple[int, str]] = {}
    for partition, offset, value in records:
        parsed = parse_value(value)
        if parsed is None:
            continue
        key = (partition, parsed[0])
        cur = best.get(key)
        if cur is None or offset > cur[0]:
            best[key] = (offset, parsed[1])
    return best


def json_line(mid: int, msg: str) -> str:
    """Compact JSON as the pipeline's serializer writes it."""
    return json.dumps({"id": mid, "msg": msg}, separators=(",", ":"), ensure_ascii=False)


def winner_lines(winners: dict[tuple[int, int], tuple[int, str]]) -> list[str]:
    return [json_line(key[1], msg) for key, (_, msg) in winners.items()]


def lines_digest(lines: Iterable[str]) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of a multiset of lines."""
    ordered = sorted(lines)
    h = hashlib.sha256()
    for line in ordered:
        h.update(line.encode())
        h.update(b"\n")
    return len(ordered), h.hexdigest()


def _canon_cell(v) -> str:
    """Type-sensitive cell text, so a DOUBLE 1.0 never equals a BIGINT 1."""
    if v is None:
        return "NULL"
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.floating, float)):
        if v != v:
            return "NULL"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        s = f"{v:.9g}"
        return s if any(c in s for c in ".eE") else s + ".0"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_digest(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive value hash
    of a pandas frame, the way the registry's oracle comparison sees it."""
    cols = sorted(pdf.columns)
    rows = ["\x1f".join(_canon_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    n, h = lines_digest(rows)
    return {"rows": n, "columns": cols, "hash": h}


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams over single-space tokens, empty tokens dropped."""
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _round6(x: float) -> float:
    """Half-up rounding of the shortest decimal form, as Spark's and
    DuckDB's ``ROUND`` do (Python's ``round`` is half-even on the binary
    value, which differs on ties such as 77/128)."""
    q = decimal.Decimal(repr(x)).quantize(decimal.Decimal("1e-6"), decimal.ROUND_HALF_UP)
    return float(q)


def near_dup_pairs(docs: Iterable[tuple[int, str]], threshold: float) -> list[tuple[int, int, float]]:
    """``(id_a, id_b, jaccard)`` with ``id_a < id_b`` for every pair of
    documents whose shingle sets have Jaccard at or above ``threshold``.

    Pairs sharing no shingle have Jaccard 0, so only documents met in a
    shingle's posting list are compared.
    """
    sets = {i: sh for i, text in docs if (sh := shingles(text))}
    postings: dict[str, list[int]] = defaultdict(list)
    for i, sh in sets.items():
        for g in sh:
            postings[g].append(i)
    seen: set[tuple[int, int]] = set()
    out = []
    for ids in postings.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = min(ids[x], ids[y]), max(ids[x], ids[y])
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                sa, sb = sets[a], sets[b]
                j = len(sa & sb) / len(sa | sb)
                if j >= threshold:
                    out.append((a, b, _round6(j)))
    return out


def component_minima(ids: Iterable[int], pairs: Iterable[tuple[int, int]]) -> list[int]:
    """The smallest id of every connected component of the pair graph
    (isolated ids are their own component)."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(i for i in parent if find(i) == i)
