"""Physical-plan fingerprint gate: hash every registered query's plan
and diff against the committed snapshot.

    python tools/plan_fingerprints.py            # check vs committed file
    python tools/plan_fingerprints.py --write    # regenerate the snapshot

``--write`` also maintains ``tools/plan_changed.json``, the check
window's priority-0 map (see the ``plans`` package docstring): every
query whose fingerprint moved or is new is stamped with the newest
``CORRECTNESS_r{N}.json`` round on disk, and entries whose query a
later round has checked are dropped. Commit both files.

Bench TOTALS on this host move ~1.3x between VM boots with zero source
change (memory: bench-noise-host-variance), so "is this a regression or
noise?" used to need manual git archaeology over the query's plan code
(round 6 adjudicated pii_scrub/outlier_filter that way). This tool
turns the "diff plans, not totals" policy into an automated signal: the
NORMALIZED `explain(formatted)` text of each registered query is
hashed into `tools/plan_fingerprints.json`; preflight fails when a
query's plan hash moves without the snapshot being regenerated (i.e. an
unexplained plan change), and bench deltas on queries whose plan hash
is UNCHANGED can be attributed to host noise without archaeology.

Normalization strips the session-dependent parts of the explain text —
expression/plan ids, checkpointed-RDD names, scan paths, in-memory
relation serializer noise — keeping operator tree shape, join
strategies, pushed filters, and partitioning, which is exactly the
plan surface the round reviews audit. The CacheManager is cleared
before EACH query so a plan never depends on which relation an
earlier query's construction left persisted — every fingerprint is
the query's own position-independent plan.

Plan construction is NOT free for every query: index-building queries
(IVF/PQ/curriculum offsets) run their bounded driver-side collects
while the DataFrame is being built. That is still ~100x cheaper than
executing the queries; the whole check runs in about a minute.

The session recipe is pinned (local[16], shuffle=16, hostile timezone —
verify_all's recipe) because plan shape legitimately depends on session
conf; fingerprints are only comparable under the same recipe. Since
r15 the recipe also sets NKCH_PLAN_FINGERPRINT_NO_CHECKPOINT so the
iterative graph operators skip their localCheckpoint materializations:
the hash then covers the full pre-checkpoint pipeline instead of a
truncated `Scan ExistingRDD`, making upstream operator changes visible
for checkpointed queries (ADVICE r14 medium).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import re
import sys

_REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

SNAPSHOT = _REPO / "tools" / "plan_fingerprints.json"

_NORMALIZERS = [
    (re.compile(r"#\d+"), "#"),                      # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),        # adaptive plan ids
    (re.compile(r"\[id=#?\d+\]"), "[id=]"),          # exchange/subquery ids
    (re.compile(r"cachedrdd-\d+", re.I), "cachedrdd-"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),            # checkpointed RDD ids
    (re.compile(r"Scan ExistingRDD\[[^\]]*\]"), "Scan ExistingRDD[]"),
    # A driver-built local relation's Scan ExistingRDD argument embeds
    # the RDD's CREATION CALL SITE ("MapPartitionsRDD[] at collect at
    # similarity.py:1089" vs "... at applySchemaToPythonRDD at
    # NativeMethodAccessorImpl.java:0") — py4j captures whatever frame
    # is on top when the relation is materialized, which varies run to
    # run (diagnosed round 9 when sim_recall_report flapped on the
    # driver-bucketed LSH query side). The call site is provenance, not
    # plan shape.
    (re.compile(r"MapPartitionsRDD\[\]? at [^,\]]*"), "MapPartitionsRDD[]"),
    (re.compile(r"file:[^\s,\])]*"), "<path>"),      # scan locations
    (re.compile(r"/root/testdata/[^\s,\])]*"), "<sf>"),
    (re.compile(r"/tmp/[^\s,\])]*"), "<tmp>"),       # sink roundtrip dirs
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (re.compile(r"python_udf_\d+"), "python_udf_"),
    (re.compile(r"<lambda>[A-Za-z0-9_]*"), "<lambda>"),
    # Higher-order-function lambda variables carry a SESSION-GLOBAL
    # counter (`lambda x_190`), so adding/removing any HOF expression
    # earlier in the build order renumbers every later query's lambdas
    # — diagnosed round 8 when a new LSH operator flapped 22 unrelated
    # sim_*/text_* fingerprints (every HOF user built after it).
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_"),
]


def _normalize(plan: str) -> str:
    for rx, repl in _NORMALIZERS:
        plan = rx.sub(repl, plan)
    keep = []
    for ln in plan.splitlines():
        # drop purely informational lines that churn across sessions
        if re.match(r"\s*(Location:|CollectLimit )", ln):
            continue
        # Catalyst's RewriteDistinctAggregates (multi count-distinct →
        # Expand, marked by the gid column) orders the distinct groups
        # from a hash collection — column order in those lines varies
        # per JVM with identical semantics, so canonicalize them as a
        # sorted token multiset instead of text. Accepted tradeoff: a
        # REAL reordering on exactly these lines would also hash equal
        # — but a semantic change there changes query RESULTS, which
        # the value oracle catches; this gate guards plan SHAPE
        # (joins/exchanges/scans), none of which live on gid# lines.
        if "gid#" in ln:
            ln = " ".join(sorted(re.split(r"[\s,\[\]()]+", ln)))
        keep.append(ln)
    return "\n".join(keep)


def _open_session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _fingerprint_pass(spark, sf_dir: str, names=None) -> dict[str, str]:
    """One construction+hash pass over ``names`` (default: all)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.plans import merged_registry

    queries, _ = merged_registry()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    prints: dict[str, str] = {}
    for name in sorted(names if names is not None else queries):
        try:
            # CacheManager substitution makes a plan depend on SESSION
            # HISTORY: a relation persisted by an earlier query's
            # construction (persist_bounded keeps one alive) rewrites
            # matching subtrees of LATER queries into
            # InMemoryTableScan. Clear it per query so every plan is
            # the query's OWN plan — position-independent and stable
            # across sessions (the source of the 12-query text_* flap).
            spark.catalog.clearCache()
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)  # noqa: SLF001
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            prints[name] = f"ERROR:{type(exc).__name__}"
            print(f"fingerprint: {name} ERROR {exc}", file=sys.stderr)
            continue
        norm = _normalize(plan)
        # FP_DUMP=<query>: write that query's normalized text to /tmp
        # so two runs can be diffed when a fingerprint flaps (this is
        # how the gid# nondeterminism above was diagnosed)
        if os.environ.get("FP_DUMP") == name:
            pathlib.Path(f"/tmp/fp_{os.getpid()}.txt").write_text(norm)
        prints[name] = hashlib.sha256(norm.encode("utf-8")).hexdigest()[:16]
    return prints


def update_plan_changed(
    changed: dict[str, int],
    old: dict[str, str],
    new: dict[str, str],
    last: dict[str, int],
    newest: int,
) -> dict[str, int]:
    """The plan-changed map after a ``--write`` that replaced snapshot
    ``old`` by ``new``: drop entries for unregistered queries and for
    queries checked after their stamp (``last``: newest passing
    CORRECTNESS round per query), then stamp every moved or new
    fingerprint with round ``newest``."""
    kept = {n: r for n, r in changed.items() if n in new and last.get(n, 0) <= r}
    kept.update({n: newest for n, fp in new.items() if old.get(n) != fp})
    return kept


def _write_plan_changed(old: dict[str, str], new: dict[str, str]) -> None:
    from new_kafka_consumer_to_hadoop_hdfs_spark import plans

    rounds = plans.correctness_rows(_REPO)
    changed = update_plan_changed(plans.plan_changed(_REPO), old, new,
                                  plans.last_checked(rounds), max(rounds, default=0))
    path = _REPO / plans.PLAN_CHANGED
    path.write_text(json.dumps(changed, indent=1, sort_keys=True) + "\n")
    print(f"fingerprints: {len(changed)} plan-changed entries in {path}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true",
                    help="regenerate the committed snapshot")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    if not pathlib.Path(args.sf_dir).is_dir():
        # without this, every query records ERROR:AnalysisException and
        # the gate misreports a missing data dir as a plan regression
        print(f"fingerprints: sf-dir {args.sf_dir} does not exist — the "
              "snapshot recipe needs the default testdata; nothing was "
              "compared")
        return 2

    # Hash the FULL pre-checkpoint lineage (r15, ADVICE r14 medium):
    # iterative graph operators materialize their expensive upstream
    # pipeline via localCheckpoint at construction, so the returned
    # plan roots at `Scan ExistingRDD` and a change to the candidate/
    # verify operators those queries consume was INVISIBLE to this gate
    # — banked driver rows kept vouching for plans that no longer ran.
    # The env var flips operators/graph.py's checkpointer to identity
    # for this process only; construction gets slower (the loops'
    # bounded counts re-execute lineage at the gate SF), runtime plans
    # everywhere else are untouched. Snapshot regenerated under this
    # recipe in r15 — fingerprints are only comparable within it.
    os.environ["NKCH_PLAN_FINGERPRINT_NO_CHECKPOINT"] = "1"

    spark = _open_session()
    if args.write:
        now = _fingerprint_pass(spark, args.sf_dir)
        # Refuse to bake a construction failure into the snapshot: an
        # ERROR pseudo-fingerprint would make the later check compare
        # ERROR==ERROR and report green for a query that cannot even be
        # built (ADVICE r7-medium).
        broken = sorted(n for n, v in now.items() if v.startswith("ERROR:"))
        if broken:
            print("fingerprints: REFUSING to write — these queries failed "
                  f"to construct: {', '.join(broken)}")
            return 1
        old = json.loads(SNAPSHOT.read_text()) if SNAPSHOT.exists() else {}
        SNAPSHOT.write_text(json.dumps(now, indent=1, sort_keys=True) + "\n")
        print(f"fingerprints: wrote {len(now)} to {SNAPSHOT}")
        _write_plan_changed(old, now)
        return 0

    if not SNAPSHOT.exists():
        print(f"fingerprints: no snapshot at {SNAPSHOT} — run with --write")
        return 1
    old = json.loads(SNAPSHOT.read_text())
    now = _fingerprint_pass(spark, args.sf_dir)
    # An ERROR-valued fingerprint is a FAILURE even when the snapshot
    # holds the same ERROR string (legacy snapshots predate the --write
    # refusal above): a query that cannot construct must never pass the
    # plan gate (ADVICE r7-medium).
    errored = sorted(n for n, v in now.items() if v.startswith("ERROR:"))
    if errored:
        for n in errored:
            print(f"fingerprints: BROKEN {n} ({now[n]}) — query failed to "
                  "construct; plan gate cannot pass")
        return 1
    changed = sorted(n for n in now if n in old and now[n] != old[n])
    added = sorted(n for n in now if n not in old)
    removed = sorted(n for n in old if n not in now)
    for n in changed:
        print(f"fingerprints: CHANGED {n}")
    for n in added:
        print(f"fingerprints: NEW {n} (not in snapshot)")
    for n in removed:
        print(f"fingerprints: REMOVED {n} (still in snapshot)")
    if changed or added or removed:
        print(
            f"fingerprints: {len(changed)} changed / {len(added)} new / "
            f"{len(removed)} removed — if intentional, rerun with --write "
            "and commit the snapshot and tools/plan_changed.json; if not, "
            "the plan regressed."
        )
        return 1
    print(f"fingerprints: all {len(now)} plans match the snapshot")
    return 0


if __name__ == "__main__":
    sys.exit(main())
