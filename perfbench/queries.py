"""The frozen query list of the ``query_mix`` workload.

The list is fixed here, not read from the registry, so that a query
added to the registry later does not change the workload. A name that
disappears from the registry is an error, so the workload cannot shrink
silently.

Four entries are short queries (a join, an aggregate, an event-time
window and a cached-materialization read) whose fixed per-query cost
dominates. The other two run the corpus operators: exact top-k cosine
search (``operators.similarity``), and MinHash near-duplicate pairs with
Jaccard verification (``operators.text``) fed to connected components
(``operators.graph``), whose label propagation launches jobs while the
query is being built.
"""

from __future__ import annotations

FROZEN_MIX = (
    "q3_shipping_priority",
    "agg_rollup",
    "event_session_window",
    "sink_orc_roundtrip",
    "sim_topk_cosine",
    "pipeline_corpus_dedup",
)


def resolve(registry: dict, names=FROZEN_MIX) -> dict:
    """Map each frozen name to its registered query function, failing on any gap."""
    missing = [n for n in names if n not in registry]
    if missing:
        raise SystemExit(f"query_mix: frozen queries missing from the registry: {missing}")
    return {n: registry[n] for n in names}
