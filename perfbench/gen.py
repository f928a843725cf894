"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical row content. The program under test
only ever sees the files these functions write.

- :func:`kafka_envelope` — the reference pipeline's Kafka envelope
  ``(partition, offset, value)`` with Zipf-skewed key reuse and the
  malformed / missing-field shares of FIXTURES.md section 11.
- :func:`query_tables` — ``customer``, ``orders``, ``lineitem``,
  ``events`` and ``embeddings``, with the column types and value domains
  of the repository's testdata tables, for the query mix.
- :func:`near_dup_corpus` — a ``documents`` table over a Zipf
  vocabulary with planted near-duplicates and pasted-in containments.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPE_SCHEMA = pa.schema(
    [("partition", pa.int32()), ("offset", pa.int64()), ("value", pa.string())]
)

# Shares of FIXTURES.md section 11 cases among all messages.
MALFORMED_SHARE = 0.01
MISSING_ID_SHARE = 0.04
MISSING_MSG_SHARE = 0.05
NULL_ID_SHARE = 0.005
LITERAL_NULL_SHARE = 0.003
NULL_VALUE_SHARE = 0.002
EXTRA_FIELD_SHARE = 0.02

_MALFORMED = ('{not json', '{"id": 5, "msg": ', '[1, 2]', '"just a string"', '{"id": 1.5}')
_WORDS = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
)


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from ranks ``0..n-1`` with P(rank k) ∝ 1/(k+1)^s."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def kafka_envelope(
    seed: int,
    n_messages: int,
    *,
    partitions: int = 8,
    versions_per_key: int = 8,
    zipf_s: float = 0.8,
) -> pa.Table:
    """Kafka records as the pipeline's shuffle envelope.

    Offsets are dense and strictly increasing within each partition.
    Each partition draws ids from ``n_per_partition / versions_per_key``
    keys with Zipf(``zipf_s``) frequencies, so hot keys carry many
    versions and the mean is close to ``versions_per_key``. Message
    bodies embed partition and offset, so a wrong LWW winner changes
    the output.
    """
    rng = np.random.default_rng(seed)
    part = np.sort(rng.integers(0, partitions, n_messages)).astype(np.int32)
    offsets = np.empty(n_messages, dtype=np.int64)
    ids = np.empty(n_messages, dtype=np.int64)
    for p in range(partitions):
        idx = np.flatnonzero(part == p)
        offsets[idx] = np.arange(len(idx), dtype=np.int64)
        keys = max(1, len(idx) // versions_per_key)
        # a per-partition permutation keeps hot ids away from 0..k
        ids[idx] = rng.permutation(keys * 7)[zipf_ranks(rng, keys, len(idx), zipf_s)]
    # interleave partitions the way a consumer would receive them
    order = rng.permutation(n_messages)
    part, offsets, ids = part[order], offsets[order], ids[order]

    kind = rng.random(n_messages)
    word = rng.integers(0, len(_WORDS), n_messages)
    special = rng.random(n_messages)
    bounds = np.cumsum(
        [
            MALFORMED_SHARE,
            MISSING_ID_SHARE,
            MISSING_MSG_SHARE,
            NULL_ID_SHARE,
            LITERAL_NULL_SHARE,
            NULL_VALUE_SHARE,
            EXTRA_FIELD_SHARE,
        ]
    )
    case = np.searchsorted(bounds, kind, side="right")
    values: list[str | None] = []
    for i in range(n_messages):
        p, o, k = int(part[i]), int(offsets[i]), int(ids[i])
        msg = f"{_WORDS[word[i]]} p{p} o{o}"
        if special[i] < 0.01:
            msg += ' "quoted" back\\slash café'
        c = case[i]
        if c == 0:
            values.append(_MALFORMED[o % len(_MALFORMED)])
        elif c == 1:
            values.append(f'{{"msg": "{_json_escape(msg)}"}}')
        elif c == 2:
            values.append(f'{{"id": {k}}}')
        elif c == 3:
            values.append(f'{{"id": null, "msg": "{_json_escape(msg)}"}}')
        elif c == 4:
            values.append("null")
        elif c == 5:
            values.append(None)
        elif c == 6:
            values.append(f'{{"id": {k}, "msg": "{_json_escape(msg)}", "junk": true}}')
        else:
            values.append(f'{{"id": {k}, "msg": "{_json_escape(msg)}"}}')
    return pa.table(
        [pa.array(part), pa.array(offsets), pa.array(values, pa.string())],
        schema=ENVELOPE_SCHEMA,
    )


def _json_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"')


# ---------------------------------------------------------------------------
# The query mix's tables
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_LANGS = ("en", "de", "fr", "es", "zh")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    days = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The tables the frozen query mix reads, at scale ``sf``, except
    ``documents`` (see :func:`near_dup_corpus`).

    Row counts follow the testdata scaling (lineitem 6M × sf, orders
    1.5M × sf, ...). Money columns carry two decimals and event values
    are positive, as the oracles' decimal sums assume. Part and
    supplier keys span their testdata ranges, and extended prices follow
    each part's retail price, though neither table is generated.
    """
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(100_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64),
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.95, 1.05, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }
    )
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts_us = start_us + rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.reshape(-1), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def _documents_table(texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Near-duplicate corpus
# ---------------------------------------------------------------------------


def near_dup_corpus(
    seed: int,
    n_docs: int,
    *,
    vocab: int = 5000,
    zipf_s: float = 1.0,
    dup_share: float = 0.05,
    containment_share: float = 0.03,
) -> tuple[pa.Table, list[tuple[int, int, str]]]:
    """A documents table with planted near-duplicate structure.

    Base documents draw 20–120 tokens from a Zipf(``zipf_s``)
    vocabulary. ``dup_share`` of the documents are copies of an earlier
    base document with one or two tokens substituted (word-3-gram
    Jaccard about 0.85–0.97); ``containment_share`` are a short earlier
    document pasted whole into a longer new one (containment 1).
    Returns the table and the planted ``(earlier_id, later_id, kind)``
    pairs, ``kind`` being ``"dup"`` or ``"contain"``.
    """
    rng = np.random.default_rng(seed)
    words = np.array([f"w{i}" for i in range(vocab)])
    texts: list[str] = []
    planted: list[tuple[int, int, str]] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i >= 10 and kinds[i] < dup_share:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(
                    words[int(rng.integers(0, vocab))]
                )
            texts.append(" ".join(toks))
            planted.append((src, i, "dup"))
        elif i >= 10 and kinds[i] < dup_share + containment_share:
            src = int(rng.integers(0, i))
            pre = words[zipf_ranks(rng, vocab, int(rng.integers(40, 120)), zipf_s)]
            cut = int(rng.integers(0, len(pre)))
            texts.append(" ".join([*pre[:cut], texts[src], *pre[cut:]]))
            planted.append((src, i, "contain"))
        else:
            n = int(rng.integers(20, 121))
            texts.append(" ".join(words[zipf_ranks(rng, vocab, n, zipf_s)]))
    return _documents_table(texts, rng), planted

