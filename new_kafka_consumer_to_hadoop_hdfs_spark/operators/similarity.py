"""Vector-similarity operators over array<float> embedding columns.

The reference repo has no vector operations; this is the SURVEY.md
§2.5 similarity-search extension. Two tiers:

- **Exact** (correctness grade): cosine built from higher-order array
  functions (`zip_with` multiply + `aggregate` sum) — pure JVM
  codegen, double-precision, sequential accumulation in index order so
  the result is bit-identical to any other engine that sums a
  double-precision product array left-to-right (DuckDB's
  list_cosine_similarity on DOUBLE[] does). Top-k = broadcast the
  query side, score all pairs, window rank per query. Correct at any
  scale where |queries| is broadcastable; the corpus side streams.
- **Approximate** (scale grade): native seeded random-projection LSH
  over L2-normalized vectors (the same hash family MLlib's
  BucketedRandomProjectionLSH implements: on the unit sphere,
  euclidean distance is monotone in cosine, d² = 2·(1-cos), so
  bucketed euclidean LSH answers cosine top-k without the all-pairs
  product). The projections are OUR seeded numpy matrix rather than
  MLlib's internal Scala RNG, which buys two things: measured speed
  (see :func:`lsh_cosine_pairs` — the MLlib `approxSimilarityJoin`
  form was replaced in round 5 at 7× cost, identical recall) and
  DuckDB-restatable determinism (the directions embed as SQL
  literals, so the LSH queries are hash-checked, not rows-only).
  At 100 TB the exact path's cost is |corpus|·|queries| dot products —
  fine for dozens of queries, not for corpus×corpus; LSH (or an IVF
  partition prune) is the corpus×corpus answer.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Row cap of every broadcast-query collect (:func:`_collect_queries`):
# the query matrix ships inside every task closure, so it must stay
# broadcast-sized — ~100 MB at 64-dim float64.
_MAX_QUERY_ROWS = 200_000


def to_double(vec: Column) -> Column:
    """Cast array<float> → array<double> before arithmetic so both the
    products and the accumulation are IEEE double (and cross-engine
    reproducible)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (deterministic bit pattern)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def seeded_unit_directions(dim: int, num_hash_tables: int, seed: int):
    """The LSH projection matrix shared by every seeded-LSH operator
    here: ``num_hash_tables`` UNIT gaussian directions as a
    (dim × T) float64 numpy array. An unnormalized gaussian column has
    ‖g‖ ≈ √dim, which would silently shrink the effective bucket width
    by that factor and crater recall (measured: 0.98 → 0.64).

    The DuckDB oracle builders in plans/llm.py call THIS function and
    embed the result as full-precision SQL literals — the construction
    below is therefore a cross-engine contract: any change here
    changes bucket membership and must regenerate the oracles (they
    rebuild automatically, being derived at import) and the plan
    fingerprints.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    G = rng.standard_normal((dim, num_hash_tables))
    G /= np.sqrt(np.einsum("ij,ij->j", G, G))
    return G


def _probe_dims(sides) -> dict:
    """ONE eager job probing the distinct vector widths of several
    relations at once — each side a ``(DataFrame, column, label)``
    triple, unioned under a side tag so multi-input operators pay a
    single fixed-latency Spark job for validation instead of one per
    input. Returns ``{label: sorted distinct widths}`` (empty list for
    an empty relation); error semantics stay with the caller so the
    message names the operator."""
    tagged = None
    for df, col, label in sides:
        part = df.select(F.lit(label).alias("__side"), F.size(col).alias("__d"))
        tagged = part if tagged is None else tagged.unionByName(part)
    out: dict = {label: [] for _, _, label in sides}
    for r in tagged.distinct().collect():
        out[r["__side"]].append(r["__d"])
    return {k: sorted(v) for k, v in out.items()}


def _probe_single_dim(slim: DataFrame, col: str, op: str, vec_col: str):
    """Distinct-dimension probe shared by the LSH operators: returns
    the single vector width of ``slim[col]``, or None for an empty
    relation; RAGGED non-empty dimensions RAISE — silently keeping
    whichever dimension a ``.first()`` probe happened to see would
    make the output depend on partition layout. One tiny eager job per
    call (index construction, like the IVF centroid collect)."""
    dims = _probe_dims([(slim, col, "in")])["in"]
    if not dims:
        return None
    if len(dims) > 1:
        raise ValueError(
            f"{op}: ragged vector dimensions {dims} in "
            f"column {vec_col!r} — cosine between different-dimension "
            f"vectors is undefined; normalize the input to one dimension "
            f"(pad/truncate/filter) first."
        )
    return dims[0]


def _bucket_ids_udf(dim: int, G, w: float):
    """Arrow-batched UDF computing all T bucket ids of one vector:
    bucket_t = floor(round(v̂·g_t / w, 9)). NULL for zero-norm or
    wrong-dimension vectors (they can never score a finite cosine).

    round-to-9 before floor is the ORACLE CONTRACT (same as the PQ
    path) — the DuckDB restatement computes the identical projection
    with list_dot_product, whose summation order differs from numpy's
    SIMD matmul in the last ulp; rounding both sides to 9 decimals
    makes the floor input bit-identical, so bucket membership can't
    flip between engines. The closure captures only (dim, G, w) by
    value — no package-module references, so it pickles to workers
    launched from any cwd.
    """

    @F.pandas_udf("array<bigint>")
    def bucket_ids(vs: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415 — worker-side import

        out = []
        for v in vs:
            a = np.asarray(v, dtype=np.float64)
            if a.shape[0] != dim:
                out.append(None)
                continue
            n = np.sqrt(a @ a)
            if n == 0.0:
                out.append(None)
                continue
            out.append(np.floor(np.round((a / n) @ G / w, 9)).astype(np.int64))
        return pd.Series(out)

    return bucket_ids


def _empty_topk(spark, id_type: str = "long") -> DataFrame:
    """The top-k output contract with no rows."""
    return spark.createDataFrame(
        [], f"query_id {id_type}, neighbor_id {id_type}, cos_sim double, rank int"
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The rank tail of every top-k operator here: per-query
    ``row_number`` under the total order (cos DESC, neighbor_id ASC),
    rank ≤ k kept, ``__cos`` rounded to 6 decimals as ``cos_sim``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__cos"), 6).alias("cos_sim"),
            "rank",
        )
    )


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str, op: str,
                     max_rows: int, dim: int | None = None):
    """The query side of the broadcast-query operators, collected once
    as ``(q_ids int64[n], Q float64[n, dim])``: non-null vectors of
    width ``dim`` (default: the first collected vector's width).

    GUARDRAIL (r15, same contract style as ``bloom_prefilter``'s
    ``max_bits`` and :func:`cosine_pairs`' ``max_rows``): the collect
    is issued through ``limit(max_rows + 1)``, so an over-cap query
    relation short-circuits the scan and raises instead of OOMing the
    driver and every task that deserializes the query matrix."""
    import numpy as np

    rows = (
        queries.select(F.col(id_col), to_double(F.col(vec_col)))
        .filter(F.col(vec_col).isNotNull())
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"{op}: query relation exceeds max_query_rows={max_rows} — the "
            f"query matrix ships inside every task closure, so it must stay "
            f"broadcast-sized. Use the window-rank plans (topk_cosine / "
            f"topk_cosine_arrow / lsh_topk_cosine) for large query sets, or "
            f"score the queries in batches of at most {max_rows} rows."
        )
    if dim is None and rows:
        dim = len(rows[0][1])
    rows = [r for r in rows if len(r[1]) == dim]
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return q_ids, Q.reshape(len(rows), dim or 0)


def _mapside_topk(stream: DataFrame, q_ids, k: int, score_batch,
                  id_type: str = "long") -> DataFrame:
    """The map-side top-k kernel of the broadcast-query operators.

    ``score_batch(pdf)`` maps one Arrow batch of ``stream`` to
    ``(neighbor_ids int64[n], scores float64[n, |queries|])``, with
    every score the operator disqualifies already at -inf, or None when
    the batch holds no scoreable row. Each input partition keeps only
    its own top-k per query (one ``mapInPandas`` pass, a bounded
    per-query pool across batches), so the exchange carries at most
    k·|queries|·partitions candidate rows and the global window rank
    (:func:`_rank_topk`) runs on that tiny relation. Top-k of
    per-partition top-ks equals the global top-k because the
    (cos DESC, neighbor_id ASC) order is total.

    The generator is, and every scorer must be, a closure that
    references no package-module name, so both pickle by value to
    workers launched from any cwd (see ``shipping.py``).
    """

    def prune(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        # per-query bounded candidate pools, maintained across every
        # Arrow batch of THIS partition
        best: dict[int, list[tuple[float, int]]] = {int(qid): [] for qid in q_ids}
        for pdf in batches:
            scored = score_batch(pdf)
            if scored is None:
                continue
            nids, scores = scored
            # disqualify self-pairs and NaN scores, then select per-query
            # top-k IN NUMPY (partition on the value axis): interpreted
            # work per batch is O(k·|queries|) appends, never
            # O(batch·|queries|). Selection keeps every row TIED with
            # the k-th value — value-only partitioning may otherwise
            # drop the boundary tie the (cos desc, id asc) total order
            # prefers; the deterministic sort resolves ties later.
            scores[nids[:, None] == q_ids[None, :]] = -np.inf
            # nan=-inf ONLY: nan_to_num's defaults also rewrite ±inf to
            # the finite float64 extremes, which would turn the -inf
            # sentinel into a "real" score that survives the != -inf
            # guard below (leaking self-pairs at cos ≈ -1.8e308
            # whenever a query has fewer than k scoreable neighbors)
            scores = np.nan_to_num(scores, nan=-np.inf, posinf=np.inf, neginf=-np.inf)
            take = min(k, len(nids))
            kth = -np.partition(-scores, take - 1, axis=0)[take - 1, :]
            for j, qid in enumerate(q_ids):
                pool = best[int(qid)]
                for i in np.nonzero(scores[:, j] >= kth[j])[0]:
                    s = scores[i, j]
                    if s != -np.inf:
                        pool.append((float(s), int(nids[i])))
                # keep the pool bounded: top-k under the STRICT total
                # order (cos desc, id asc) — safe to prune mid-stream
                if len(pool) > 4 * k:
                    best[int(qid)] = sorted(pool, key=lambda t: (-t[0], t[1]))[:k]
        out = [
            (qid, nid, s)
            for qid, pool in best.items()
            for s, nid in sorted(pool, key=lambda t: (-t[0], t[1]))[:k]
        ]
        yield pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "__cos"]
        ).astype({"query_id": "int64", "neighbor_id": "int64", "__cos": "float64"})

    cands = stream.mapInPandas(
        prune, f"query_id {id_type}, neighbor_id {id_type}, __cos double"
    )
    return _rank_topk(cands, k)


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Plan: broadcast the (small) query side → one narrow pass over the
    corpus computing cosines → window row_number per query. The only
    shuffle is the per-query rank, keyed on query_id (|queries| groups,
    each holding the scored corpus — for large corpora swap the window
    for a groupBy + min_by-heap aggregation; at k·|queries| rows the
    window is fine). Self-matches are excluded.

    Deterministic tie-break: (cos_sim DESC, neighbor_id ASC).
    """
    # Norms are computed ONCE per vector on each side before the join
    # (|corpus| + |queries| array folds) rather than once per scored
    # pair (2·|corpus|·|queries| folds); the per-pair work is one dot +
    # one divide. Same expression tree as `cosine` — dot/(nq·nc) — so
    # scores are bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__cos", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
    )
    return _rank_topk(scored, k)


def topk_cosine_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine — identical semantics and plan shape to
    :func:`topk_cosine`, but scoring runs in a VECTORIZED scalar
    ``pandas_udf`` (Arrow batches → numpy matrix math) instead of JVM
    higher-order array expressions.

    This is the engine's documented demonstration of the sanctioned
    Python fast path: when per-element logic outgrows what
    `zip_with`/`aggregate` express (learned scorers, custom metrics),
    the Arrow batch transfer + numpy inner loop is the form to reach
    for — per-BATCH Python dispatch over contiguous float64 arrays,
    ~10-100× over row-at-a-time Python UDFs.

    MEASURED (sf0.1, local[32], 128-dim vectors): this path benches
    ~2.4× FASTER than the JVM twin (~0.5 s vs ~1.2 s), because
    Spark's higher-order-function lambdas evaluate on the interpreted
    expression path (no whole-stage codegen) while einsum runs SIMD
    over contiguous memory — the serialization boundary is cheaper
    than per-element interpretation at this vector width. Both stay:
    the JVM twin needs no Python workers on the scoring path and its
    relative cost shrinks as Spark moves HOFs into codegen.

    numpy's SIMD summation order differs from sequential fold in the
    last ulps; results round to 6 decimals (like every cosine here), so
    both paths and the oracle agree exactly.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        # Mirror the JVM twin's null semantics: a NULL (or ragged-width)
        # vector scores NaN→null and ranks last, instead of blowing up
        # np.stack and failing the whole task.
        out = np.full(len(a), np.nan)
        av, bv = a.to_numpy(), b.to_numpy()
        dim = next((len(x) for x in av if x is not None), None)
        valid = [
            i
            for i in range(len(av))
            if av[i] is not None
            and bv[i] is not None
            and len(av[i]) == len(bv[i]) == dim
        ]
        if valid:
            A = np.stack([np.asarray(av[i], dtype=np.float64) for i in valid])
            B = np.stack([np.asarray(bv[i], dtype=np.float64) for i in valid])
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            out[valid] = num / den
        return pd.Series(out)

    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("__cv")
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", _cos_batch(F.col("__qv"), F.col("__cv")).alias("__cos")
    )
    return _rank_topk(scored, k)


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 scalar quantization.

    ``q_i = round(x_i · 127 / max|x|)`` — the standard max-abs scheme
    (one scale per vector, zero maps to zero). Cosine is
    scale-invariant, so similarity over the quantized vectors needs no
    dequantization: ``cos(q_a, q_b) ≈ cos(a, b)`` directly, off by only
    the rounding error (≲1e-2 at 127 levels for typical dims).

    The 100 TB story: embeddings dominate an LLM-corpus table's bytes.
    Stored as ``array<tinyint>`` this column is 4× smaller than
    float32 (8× vs float64) — scan, shuffle, and cache bandwidth all
    drop by that factor, which is usually the whole cost of a
    similarity sweep. A useful numerical side effect: every quantized
    component is an integer in [-127, 127], so dot products and norms
    are EXACT integers (≤ dim·127² ≪ 2⁵³) — summation order cannot
    perturb them, making quantized scores bit-reproducible across
    engines and partitionings (the float path needs sequential-fold
    discipline for that; see `dot`).

    Ties in ``round`` (exact .5 fractions) follow half-away-from-zero
    in both Spark (HALF_UP) and DuckDB, so the oracle reproduces the
    quantization bit-for-bit. Zero vectors quantize to zero vectors
    (the max-abs guard keeps the division finite); their cosine is
    NULL, matching the float path's NaN→null semantics.
    """
    v = to_double(vec)
    maxabs = F.greatest(
        F.array_max(F.transform(v, F.abs)), F.lit(1e-300)
    )
    return F.transform(
        v, lambda x: F.round(x * F.lit(127.0) / maxabs, 0).cast("tinyint")
    )


def topk_cosine_int8(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact-over-quantized top-k cosine: :func:`topk_cosine`'s plan
    (broadcast queries → narrow scoring pass → per-query rank) with
    both sides int8-quantized first (:func:`quantize_int8`).

    "Approximate vs the float vectors, exact vs the quantized ones" —
    the scoring itself has no recall loss or randomness, so unlike
    LSH/IVF this path IS oracle-checkable: DuckDB reproduces the
    quantization and the (integer-exact) dot products bit-for-bit.
    Rank order may differ from the float path only where quantization
    error crosses a neighbor gap.

    Quantization happens BEFORE the join, so the tinyint arrays are
    what the broadcast and the corpus scan carry; scoring delegates to
    :func:`topk_cosine`, whose `to_double` widens each component back
    for arithmetic (tinyint×tinyint would overflow at 127²) — one
    shared plan, not a diverging copy.
    """
    return topk_cosine(
        corpus.select(
            F.col(id_col), quantize_int8(F.col(vec_col)).alias(vec_col)
        ),
        queries.select(
            F.col(id_col), quantize_int8(F.col(vec_col)).alias(vec_col)
        ),
        id_col=id_col,
        vec_col=vec_col,
        k=k,
    )


def topk_cosine_mapside(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact top-k cosine with MAP-SIDE pruning — the scale form of
    :func:`topk_cosine`'s brute-force plan, same results.

    The window-rank plan shuffles EVERY scored (query, neighbor) pair
    to the rank stage: |corpus|·|queries| rows through the exchange.
    Here the shared map-side kernel (:func:`_mapside_topk`: one numpy
    matmul per Arrow batch, a bounded per-query pool across batches)
    keeps only each input partition's own top-k per query, so the
    exchange carries at most k·|queries|·num_partitions candidate rows
    — for 10⁹-row corpora that is the difference between shuffling the
    corpus and shuffling kilobytes.

    Query vectors ship inside the closure (like IVF centroids: an
    index build side of |queries|·dim floats, collected once — the
    query side must be broadcastable for ANY exact-kNN plan here).
    The collect refuses more than ``max_query_rows`` rows (see
    :func:`_collect_queries`); the default 200k rows is ~100 MB at
    64-dim float64 — already generous for a closure. Raise it
    explicitly only if the driver and executors can hold the matrix,
    or switch to the window-rank twins (:func:`topk_cosine` /
    ``topk_cosine_arrow``), which keep the query side distributed.

    Degenerate-input semantics, where this DIFFERS from the window
    twins: NULL / ragged / zero-norm corpus vectors score NaN and are
    DROPPED here, while the window plans emit them as null-scored
    tail rows when a query has fewer than k scoreable neighbors (and
    null QUERY vectors are skipped rather than producing k null
    rows). On corpora of well-formed vectors — including the oracle
    fixture — results are identical to `topk_cosine`; for a top-k
    similarity contract the dropped rows carry no information.
    """
    import numpy as np

    q_ids, Q = _collect_queries(
        queries, id_col, vec_col, "topk_cosine_mapside", max_query_rows
    )
    if not len(q_ids):
        return _empty_topk(corpus.sparkSession)
    dim = Q.shape[1]
    Q_norm = np.sqrt(np.einsum("ij,ij->i", Q, Q))

    def score_batch(pdf):
        ids = pdf["__nid"].to_numpy()
        vecs = pdf["__cv"].to_numpy()
        valid = [
            i for i in range(len(ids))
            if vecs[i] is not None and len(vecs[i]) == dim
        ]
        if not valid:
            return None
        C = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in valid])
        # same num/den form as topk_cosine_arrow's _cos_batch so all
        # Python paths agree bit-for-bit after round(6)
        C_norm = np.sqrt(np.einsum("ij,ij->i", C, C))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (C @ Q.T) / np.outer(C_norm, Q_norm)  # (batch, queries)
        return ids[valid].astype(np.int64), cos

    c = corpus.select(
        F.col(id_col).alias("__nid"), to_double(F.col(vec_col)).alias("__cv")
    )
    return _mapside_topk(c, q_ids, k, score_batch)


def cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    max_rows: int = 1_000_000,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine ≥ threshold — embedding-level
    near-duplicate detection, exact form.

    This IS O(n²) arithmetic: every pair is scored, the correctness
    baseline only. The scale path is :func:`lsh_cosine_pairs` /
    MinHash-style bucketing (see operators.text) — an all-pairs product
    over a 100 TB corpus is never the answer, which is why this
    function demands an explicit threshold and the callers cap the
    input (documented per query).

    Execution is Arrow-batched matmul (`mapInPandas`), the same kernel
    shape as :func:`topk_cosine_mapside`: the corpus matrix ships via
    ``sc.broadcast`` (torrent-distributed once per executor, not
    re-serialized into every task closure) and each input partition
    scores its rows against it in one numpy matmul, emitting only
    `(id_a < id_b, cos ≥ threshold)` survivors. Measured at sf0.1
    (2k × 2k, 64-dim): 7.3 s of per-pair interpreted HOF evaluation →
    well under 1 s; exact same pairs BY CONTRACT, not fixture luck —
    scores are rounded to 9 decimals before the threshold compare on
    both engines (matmul and sequential-fold cosines agree to ~1 ulp,
    so the round-9 values are identical), eliminating the
    one-engine-survives flake class at thresholds. NULL / empty
    vectors are dropped (they'd score NaN under the expression form
    too); RAGGED non-empty dimensions raise — silently pairing or
    dropping mixed-dimension vectors would corrupt the result.

    GUARDRAIL: building the corpus matrix runs an eager Spark job at
    plan-construction time and materializes up to ``max_rows`` rows on
    the driver (collect is issued through ``limit(max_rows + 1)``, so
    an over-cap input short-circuits the scan instead of OOMing the
    driver first). Inputs larger than ``max_rows`` (default 1e6 —
    ~0.5 GB at 64-dim float64, and n² pair arithmetic beyond it is the
    wrong algorithm anyway) raise with a pointer to
    :func:`lsh_cosine_pairs`, the bucketed scale path.

    The stream side is round-robin repartitioned to the session's
    default parallelism first: a small corpus usually arrives as ONE
    parquet partition and `mapInPandas` parallelism follows stream
    partitioning (single-core n² otherwise).
    """
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col}_a {id_type}, {id_col}_b {id_type}, cos_sim double"

    rows = (
        df.select(F.col(id_col).alias("__id"), to_double(F.col(vec_col)).alias("__v"))
        # empty arrays filtered BEFORE the cap so the guard counts the
        # vectors that would actually enter the corpus matrix
        .filter(F.col("__v").isNotNull() & (F.size("__v") > 0))
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine_pairs: input exceeds max_rows={max_rows} — the "
            f"brute-force O(n²) pair scan is the correctness baseline for "
            f"small corpora only. Use lsh_cosine_pairs (bucketed, scales "
            f"with bucket occupancy) for large inputs, or raise max_rows "
            f"explicitly if the driver can hold the corpus matrix."
        )
    rows = [r for r in rows if len(r[1]) > 0]
    if not rows:
        return df.sparkSession.createDataFrame([], out_schema)
    dims = {len(r[1]) for r in rows}
    if len(dims) > 1:
        raise ValueError(
            f"cosine_pairs: ragged vector dimensions {sorted(dims)} in "
            f"column {vec_col!r} — cosine between different-dimension "
            f"vectors is undefined; normalize the corpus to one dimension "
            f"(pad/truncate/filter) before pairing."
        )
    dim = dims.pop()
    corpus_ids = np.array([r[0] for r in rows])
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    C_norm = np.sqrt(np.einsum("ij,ij->i", C, C))
    bc = df.sparkSession.sparkContext.broadcast((corpus_ids, C, C_norm))

    def score(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        corpus_ids, C, C_norm = bc.value
        for pdf in batches:
            ids = pdf["__id"].to_numpy()
            vecs = pdf["__v"].to_numpy()
            valid = [
                i for i in range(len(ids))
                if vecs[i] is not None and len(vecs[i]) == dim
            ]
            if not valid:
                continue
            A = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in valid])
            a_ids = ids[valid]
            A_norm = np.sqrt(np.einsum("ij,ij->i", A, A))
            with np.errstate(invalid="ignore", divide="ignore"):
                # round-to-9 BEFORE the threshold compare: the ORACLE
                # CONTRACT (same as the LSH bucketing and PQ paths) —
                # numpy's SIMD matmul and DuckDB's sequential
                # list_dot_product differ in the last ulp, so a cosine
                # within one ulp of the threshold (or of a 6-decimal
                # rounding boundary) could otherwise survive in exactly
                # one engine; rounding both sides to 9 decimals first
                # makes the compared values identical by construction.
                cos = np.round((A @ C.T) / np.outer(A_norm, C_norm), 9)
            # NaN (null-ish vectors) fails both comparisons below
            mask = (a_ids[:, None] < corpus_ids[None, :]) & (cos >= threshold)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    f"{id_col}_a": a_ids[ai],
                    f"{id_col}_b": corpus_ids[bi],
                    # round-9 scores; the final 6-decimal rounding
                    # happens Spark-side on values both engines share
                    "cos_sim": cos[ai, bi],
                }
            )

    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    stream = (
        df.select(F.col(id_col).alias("__id"), to_double(F.col(vec_col)).alias("__v"))
        .repartition(par)
    )
    return stream.mapInPandas(score, out_schema).select(
        f"{id_col}_a", f"{id_col}_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def lsh_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Bucketed (id_a < id_b) pairs with cosine ≥ threshold — the scale
    path for embedding near-dup, replacing :func:`cosine_pairs`'s
    brute-force self-join.

    Native DataFrame random-projection LSH (the same hash family as
    MLlib's ``BucketedRandomProjectionLSH``: per table t a UNIT
    gaussian direction g_t, bucket id = floor(v̂·g_t / bucket_length)
    over the L2-normalized vector; a pair survives if it shares a
    bucket in ANY table — OR-amplification across
    ``num_hash_tables``). Implemented as one Arrow batch pass
    computing all T bucket ids, a posexplode to (table, bucket) keys,
    then BLOCKED VERIFICATION: ``groupBy(table, bucket).
    applyInPandas`` scores each bucket's occupants against each other
    in a single numpy matmul and emits only (min id, max id, cos)
    survivors — identical pairs score bit-identically in every table
    they co-occur in (per-pair dots are row-order-independent), so one
    cross-table ``distinct`` on the k-sized survivor relation dedups
    the OR.

    Replaced MLlib's ``approxSimilarityJoin`` in round 5 on measured
    cost: fit 1.3 s + join 5.4 s at sf0.1 (2,000 vectors, ~3.8k
    surviving rows) → 0.85 s for this plan at identical recall
    (0.983/0.984 vs the exact twin at sf0.01/sf0.1, zero false
    positives — the verification is exact either way). The MLlib path
    ships both vectors as structs through an explode-join, runs a
    per-pair ``keyDistance`` UDF over the full candidate relation, and
    pays a ``fit`` per call; here the only wide ops are ONE shuffle of
    (table, bucket, id, vec) rows — the same payload MLlib explodes —
    and a distinct over survivors. Per-bucket work is O(n_b²·dim)
    batch arithmetic: ``bucket_length`` is the occupancy knob, and at
    100 TB the bucket id becomes the storage bucketing/partition key
    (a skewed mega-bucket means the bucket is too wide — tune w/T,
    the documented LSH trade, not a salting problem). Recall < 1 by
    LSH design vs the exact twin, but the LSH result itself is FULLY
    DETERMINISTIC (seeded G, round-9 projection contract), so the
    DuckDB oracle restates bucketing + verification exactly — see
    ``_LSH_PAIRS_ORACLE`` in plans/llm.py. Output schema matches
    :func:`cosine_pairs`.

    NULL / empty / zero-norm vectors are dropped (they can never score
    a finite cosine — same semantics as the expression form); RAGGED
    non-empty dimensions RAISE, exactly like the exact twin
    :func:`cosine_pairs` — silently keeping whichever dimension a
    `.first()` probe happened to see would make the output depend on
    partition layout. The projection matrix (dim × T doubles) is index
    construction in the task closure, like the IVF centroids; the one
    eager job is a tiny distinct-dimension probe.
    """
    id_type = df.schema[id_col].dataType.simpleString()

    slim = df.select(
        F.col(id_col).alias("__id"), to_double(F.col(vec_col)).alias("__v")
    ).filter(F.col("__v").isNotNull() & (F.size("__v") > 0))
    dim = _probe_single_dim(slim, "__v", "lsh_cosine_pairs", vec_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col}_a {id_type}, {id_col}_b {id_type}, cos_sim double"
        )
    G = seeded_unit_directions(dim, num_hash_tables, seed)
    bucket_ids = _bucket_ids_udf(dim, G, float(bucket_length))

    hashed = slim.select(
        "__id", F.col("__v"), bucket_ids("__v").alias("__b")
    ).filter(F.col("__b").isNotNull())
    kv = hashed.select(
        "__id", "__v", F.posexplode("__b").alias("__t", "__bkt")
    )

    out_schema = f"{id_col}_a {id_type}, {id_col}_b {id_type}, cos_sim double"

    def bucket_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # noqa: PLC0415 — worker-side import

        if len(pdf) < 2:
            return pd.DataFrame(
                {f"{id_col}_a": [], f"{id_col}_b": [], "cos_sim": []}
            )
        ids = pdf["__id"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        Vn = V / n[:, None]
        # round-to-9 BEFORE the threshold compare: the ORACLE CONTRACT
        # (same as the bucket ids above and the PQ path) — the DuckDB
        # restatement verifies with sequential list_dot_product, which
        # differs from this matmul in the last ulp, so an unrounded
        # compare could keep a threshold-adjacent pair in exactly one
        # engine. Round-9 values are identical on both sides.
        cos = np.round(Vn @ Vn.T, 9)
        # Pairwise dots are order-independent per pair, so the same
        # pair scores bit-identically in every table it collides in —
        # the cross-table distinct below dedups on the full triple.
        mask = np.triu(cos >= threshold, k=1)
        # order each pair as (min id, max id) so table-local row order
        # can't flip the pair orientation
        ai, bi = np.nonzero(mask)
        lo = np.minimum(ids[ai], ids[bi])
        hi = np.maximum(ids[ai], ids[bi])
        return pd.DataFrame(
            {
                f"{id_col}_a": lo,
                f"{id_col}_b": hi,
                # round-9 scores; the final 6-decimal rounding happens
                # Spark-side on values both engines share
                "cos_sim": cos[ai, bi],
            }
        )

    return (
        kv.groupBy("__t", "__bkt")
        .applyInPandas(bucket_scan, out_schema)
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .distinct()
    )


def _make_cell_ranks(cent_unit):
    """Factory for the Arrow-path cell-ranking UDF: given the (tiny)
    unit-centroid matrix, return a ``pandas_udf`` mapping each vector
    to the 1-based list of ALL cell ids ordered by descending affinity
    (round-9 cosine, ties → lowest cell index). One numpy matmul per
    record batch against the broadcast-size matrix; the earlier HOF
    form (transform + interpreted cosine per cell) cost n_cells
    interpreted array-folds PER ROW — measured ~2-3 s of wall time at
    sf0.1. The factory shape keeps the UDF closure free of package
    module references (workers can't import the repo when the driver
    launches outside it); it captures only the numpy matrix and its
    shape.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cu = cent_unit
    n_active_cells, exp_dim = cu.shape

    @pandas_udf(ArrayType(IntegerType()))
    def _cell_ranks(v: pd.Series) -> pd.Series:
        # Same null/ragged guard as _cos_batch: a NULL, wrong-width,
        # or zero-norm vector gets the default cell order instead of
        # killing the task with np.stack.
        vals = v.to_numpy()
        default = list(range(1, n_active_cells + 1))
        out = [default] * len(vals)
        valid = [
            i for i in range(len(vals))
            if vals[i] is not None and len(vals[i]) == exp_dim
        ]
        if valid:
            V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in valid])
            vn = np.linalg.norm(V, axis=1, keepdims=True)
            Vu = V / np.where(vn == 0.0, 1.0, vn)
            # Cell affinity is ROUNDED to 9 decimals before ranking:
            # numpy's blocked/SIMD matmul and an oracle engine's
            # sequential-fold cosine agree only to ~1 ulp, and a
            # near-tie between two centroids must not rank
            # differently across engines (sim_recall_report oracle-
            # checks this assignment). Same determinism-over-last-
            # ulp trade as the Lloyd centroid rounding; ties
            # break by cell index (stable argsort = cell asc).
            order = (
                np.argsort(-np.round(Vu @ cu.T, 9), axis=1, kind="stable") + 1
            )
            for j, i in enumerate(valid):
                out[i] = list(order[j].astype("int32"))
        return pd.Series(out)

    return _cell_ranks


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    refine_iterations: int = 0,
    dim: int | None = None,
):
    """Train the IVF coarse quantizer: deterministic seeds (the first
    ``n_cells`` corpus vectors by id, unit-normalized) plus
    ``refine_iterations`` Lloyd (k-means) rounds. Returns the
    unit-centroid matrix (n_cells × dim numpy float64), or None for an
    empty/all-invalid corpus.

    Pass ``dim`` when the caller knows the expected vector width: the
    width predicate is then pushed BEFORE the seed ``LIMIT n_cells``,
    mirroring the oracles' ``WHERE len(v) = dim ... LIMIT`` — so a
    ragged vector among the first ids (or a ragged FIRST row) can
    never make driver and oracle train from different seed sets. With
    ``dim=None`` the width is derived from the first non-null row and
    wrong-width rows among the first ``n_cells`` are dropped AFTER the
    limit (legacy behavior, fine when the corpus is known-clean).

    The seed collect ships k·dim floats to the driver — index
    CONSTRUCTION over bytes (like any broadcast build side), never the
    data path. Each Lloyd round is one narrow assignment pass plus one
    partial-agg shuffle of (cell, dim) component sums (corpus×dim rows
    map-side-combined down to n_cells×dim), then the n_cells×dim mean
    matrix returns to the driver. Updated centroids are rounded to 9
    decimals so cross-partition float-sum ordering can't leak into
    cell assignment (determinism before last-ulp fidelity; the index
    is approximate anyway). Empty / zero-norm cells keep their
    previous centroid.
    """
    import numpy as np

    seed_pred = F.col(vec_col).isNotNull()
    if dim is not None:
        seed_pred = seed_pred & (F.size(vec_col) == dim)
    cent_rows = (
        corpus.orderBy(id_col)
        .filter(seed_pred)
        .limit(n_cells)
        .select(to_double(F.col(vec_col)))
        .collect()
    )
    if dim is None:
        dim = len(cent_rows[0][0]) if cent_rows else 0
    cent_list = [list(row[0]) for row in cent_rows if len(row[0]) == dim]
    if not cent_list:
        return None
    cent_mat = np.array(cent_list, dtype=np.float64)
    norms = np.linalg.norm(cent_mat, axis=1, keepdims=True)
    cent_unit = cent_mat / np.where(norms == 0.0, 1.0, norms)

    # Lloyd refinement: assignment pass → per-(cell, dim) partial sums
    # → n_cells×dim means back to the driver → rounded, renormalized.
    for _ in range(refine_iterations):
        ranks_udf = _make_cell_ranks(cent_unit)
        assigned = (
            corpus.select(to_double(F.col(vec_col)).alias("__v"))
            .filter(F.col("__v").isNotNull() & (F.size("__v") == dim))
            .select(
                F.element_at(ranks_udf(F.col("__v")), 1).alias("__cell"), "__v"
            )
        )
        sums = (
            assigned.select("__cell", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__cell", "__pos")
            .agg(F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        new_mat = cent_unit.copy()
        acc: dict[int, tuple[np.ndarray, int]] = {}
        for r in sums:  # Row blocks dunder attrs → index access
            ci = r["__cell"] - 1
            vec, _ = acc.setdefault(ci, (np.zeros(dim), 0))
            vec[r["__pos"]] = r["__s"]
            acc[ci] = (vec, r["__n"])
        for ci, (vec, n) in acc.items():
            if n > 0:
                mean = np.round(vec / n, 9)
                nrm = np.linalg.norm(mean)
                if nrm > 0:
                    new_mat[ci] = mean / nrm
        cent_unit = new_mat  # empty cells keep their previous centroid
    return cent_unit


def ivf_assign(
    df: DataFrame,
    cent_unit,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str,
    keep_vec: str,
    top_cells: int,
) -> DataFrame:
    """Tag each vector with its ``top_cells`` nearest centroid ids — a
    narrow zero-shuffle projection (argmax over the closure-shipped
    centroid matrix), with the L2 norm computed once per vector here,
    not once per probe pair. Output columns: (``out_id``,
    ``keep_vec``, ``{keep_vec}_n``, ``__cell``).

    Null / wrong-width vectors are DROPPED, the same invalid-vector
    contract as :func:`encode_ivfpq` and the oracles' valid-only
    ``inv``/``probes`` CTEs: an invalid corpus vector must not be
    persisted into the inverted file as a default-cell row with a NULL
    norm (it would score NULL cosines no oracle produces), and an
    invalid query must not probe at all."""
    cell_ranks = _make_cell_ranks(cent_unit)
    exp_dim = int(cent_unit.shape[1])
    vec = df.select(
        F.col(id_col).alias(out_id), to_double(F.col(vec_col)).alias(keep_vec)
    ).filter(F.col(keep_vec).isNotNull() & (F.size(keep_vec) == exp_dim))
    cells = F.slice(cell_ranks(F.col(keep_vec)), 1, top_cells)
    return vec.select(
        out_id,
        keep_vec,
        l2_norm(F.col(keep_vec)).alias(f"{keep_vec}_n"),
        F.explode(cells).alias("__cell"),
    )


def ivf_search(
    inv_file: DataFrame,
    cent_unit,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Score queries against a built inverted file — the search half of
    the FAISS-style train+add (ingest) vs search (query) split.

    ``inv_file`` carries (neighbor_id, __cv, __cv_n, __cell), either
    fresh from :func:`ivf_assign` (the `sim_topk_ivf*` per-call path)
    or read back from a persisted index (`sim_topk_ivf_stored`, where
    the parquet is partitioned by cell so a probe prunes partitions).
    Queries rank their ``n_probe`` nearest cells, candidates equi-join
    on cell, exact cosine over raw vectors, per-query rank, top-k.
    """
    probes = ivf_assign(
        queries, cent_unit, id_col=id_col, vec_col=vec_col,
        out_id="query_id", keep_vec="__qv", top_cells=n_probe,
    )
    scored = (
        probes.join(inv_file, "__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "__cos",
            dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qv_n") * F.col("__cv_n")),
        )
        # a vector can reach a query through only one cell (corpus rows
        # are single-assigned), so no pair dedup is needed
    )
    return _rank_topk(scored, k)


def ivf_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    refine_iterations: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine via an IVF (inverted-file) index.

    The other classic ANN partition scheme next to LSH: pick coarse
    centroids, assign every corpus vector to its nearest centroid
    (one narrow pass against broadcast centroids — this is the
    "inverted file"), then each query scores only the vectors in its
    ``n_probe`` nearest cells. Search cost drops from |corpus| to
    ~|corpus|·n_probe/n_cells per query; recall < 1 when a true
    neighbor lives in an unprobed cell.

    Centroid choice is deterministic (see
    :func:`train_ivf_centroids`: first ``n_cells`` vectors by id +
    round-9 Lloyd refinement). At 100 TB the cell id is the
    partition/bucket key: writing the corpus bucketed by ``cell`` makes
    a probe read only n_probe/n_cells of the data — genuine partition
    pruning for vector search; `sim_topk_ivf_stored` persists exactly
    that layout and serves :func:`ivf_search` from it.

    Cell assignment is a pure per-row projection with zero shuffle
    (an earlier draft cross-joined centroids and ranked with a
    window — a corpus×n_cells blowup that would be the bottleneck at
    scale); the only shuffle left is the probe equi-join on cell + the
    per-query rank.
    """
    cent_unit = train_ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col,
        n_cells=n_cells, refine_iterations=refine_iterations, dim=dim,
    )
    if cent_unit is None:
        # empty corpus → empty result with the contract schema, like
        # the rest of the operator surface (no driver-side crash)
        return _empty_topk(corpus.sparkSession)
    inv_file = ivf_assign(
        corpus, cent_unit, id_col=id_col, vec_col=vec_col,
        out_id="neighbor_id", keep_vec="__cv", top_cells=1,
    )
    return ivf_search(
        inv_file, cent_unit, queries, id_col=id_col, vec_col=vec_col,
        k=k, n_probe=n_probe,
    )


def lsh_topk_cosine_mapside(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
    probe_width: int = 0,
) -> DataFrame:
    """Broadcast-query twin of :func:`lsh_topk_cosine` — identical
    output (equivalence pytest incl. multi-probe and degenerate
    inputs; same DuckDB oracle), one Python stage instead of five plan
    stages.

    The join form buckets both sides, broadcast-joins on (table,
    bucket), dedups the OR-amplified collisions, and window-ranks —
    correct at any query cardinality, but its stage chain (corpus
    bucket UDF → join → distinct exchange → rank exchange) is almost
    entirely fixed latency when the query side is broadcast-scale,
    which it already must be for every exact-kNN plan here. This form
    ships the query matrix AND its bucket signature to the shared
    map-side kernel (:func:`_mapside_topk`); its per-batch scorer
    buckets the corpus rows (numpy — the SAME floor(round((a/n)·G/w,
    9)) expression the bucket UDF and the SQL restatement compute) and
    holds every cosine outside a co-bucketed pair (collision in ANY
    table — the OR-amplification needs no dedup because each pair is
    scored once) at -inf. The exchange carries at most
    k·|queries|·partitions candidate rows; the global rank runs on
    that tiny relation. Measured at sf0.1: 1.96 s → 0.45 s min-of-3,
    byte-identical rows.

    ``probe_width`` keeps multi-probe parity: query j accepts corpus
    bucket b in table t iff |b − bucket_j,t| ≤ probe_width — the same
    ±probe_width neighborhood the join form explodes on the query
    side, as a mask predicate instead of extra rows.

    Degenerate-input semantics are the kernel's, not the join form's:
    NULL / ragged / zero-norm corpus vectors are DROPPED (they can
    never score a finite cosine) rather than raising on ragged input —
    the probe job that diagnosis costs is exactly the latency this
    form deletes. Null/wrong-width QUERY vectors are skipped, and the
    query collect carries the kernel's row cap
    (:func:`_collect_queries`). At 100 TB the corpus side remains a
    single narrow embarrassingly-parallel pass; the broadcast is
    |queries|·(dim+T) values — index-build scale, same budget class as
    the IVF centroid and exact-kNN closures.
    """
    import numpy as np

    if probe_width < 0:
        raise ValueError(
            f"lsh_topk_cosine_mapside: probe_width must be >= 0, got {probe_width}"
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    q_ids, Q = _collect_queries(
        queries, id_col, vec_col, "lsh_topk_cosine_mapside", _MAX_QUERY_ROWS
    )
    Q_norm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    keep = Q_norm > 0  # zero-norm queries can never score a cosine
    q_ids, Q, Q_norm = q_ids[keep], Q[keep], Q_norm[keep]
    if not len(q_ids):
        return _empty_topk(corpus.sparkSession, id_type)
    dim = Q.shape[1]
    G = seeded_unit_directions(dim, num_hash_tables, seed)
    w = float(bucket_length)
    QB = np.floor(np.round((Q / Q_norm[:, None]) @ G / w, 9)).astype(np.int64)
    pw = int(probe_width)

    def score_batch(pdf):
        ids = pdf["__nid"].to_numpy()
        vecs = pdf["__cv"].to_numpy()
        valid = [
            i for i in range(len(ids))
            if vecs[i] is not None and len(vecs[i]) == dim
        ]
        if not valid:
            return None
        C = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in valid])
        vid = ids[valid].astype(np.int64)
        C_norm = np.sqrt(np.einsum("ij,ij->i", C, C))
        nz = C_norm > 0
        C, vid, C_norm = C[nz], vid[nz], C_norm[nz]
        if not len(vid):
            return None
        # corpus buckets: the shared oracle expression, batch-wide
        B = np.floor(
            np.round((C / C_norm[:, None]) @ G / w, 9)
        ).astype(np.int64)
        if pw:
            collide = (
                np.abs(B[:, None, :] - QB[None, :, :]) <= pw
            ).any(axis=2)
        else:
            collide = (B[:, None, :] == QB[None, :, :]).any(axis=2)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (C @ Q.T) / np.outer(C_norm, Q_norm)
        cos[~collide] = -np.inf
        return vid, cos

    c = corpus.select(
        F.col(id_col).alias("__nid"), to_double(F.col(vec_col)).alias("__cv")
    )
    return _mapside_topk(c, q_ids, k, score_batch, id_type)


def lsh_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
    probe_width: int = 0,
    assume_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine via native seeded random-projection LSH
    — the top-k sibling of :func:`lsh_cosine_pairs`, sharing its hash
    family (per table t a UNIT gaussian direction g_t, bucket id =
    floor(v̂·g_t / bucket_length), OR-amplified across
    ``num_hash_tables``) and its oracle contract (round-9-before-floor
    projections, seeded directions restated as SQL literals — see
    ``_LSH_TOPK_CTES`` in plans/llm.py).

    ``probe_width`` enables MULTI-PROBE search (Lv et al., VLDB 2007):
    each query additionally probes the ±probe_width neighboring
    buckets per table, catching true neighbors that landed one bucket
    over. This is the standard recall lever whose cost lands on the
    QUERY side only — candidates grow by at most (2·probe_width + 1)×
    while the corpus-side bucketing, storage layout, and index are
    untouched — versus adding tables, which re-hashes the corpus. At
    100 TB you tune probes before tables for exactly that asymmetry.
    Deterministic like the rest of the operator; the registered query
    keeps probe_width=0 (the oracle restates single-probe bucketing).

    Plan: bucket both sides with the same projections, broadcast the
    (small) query side's (table, bucket) keys, equi-join to candidate
    pairs — each query compares only co-bucketed corpus vectors, so
    per-query cost follows bucket occupancy instead of |corpus| —
    score candidates with the exact JVM cosine expression (bit-equal
    to :func:`topk_cosine`; duplicate cross-table collisions score
    bit-identically, so one distinct on the scored triple dedups the
    OR), then rank per query. The only shuffles are candidate-sized:
    the distinct and the per-query window, both on the collision
    relation, never the corpus.

    Until round 8 this was MLlib's ``BucketedRandomProjectionLSH`` +
    ``approxSimilarityJoin``. The decisive reason for the swap is
    DETERMINISM: MLlib's hash seed feeds an internal Scala RNG no SQL
    restatement can reproduce, which forced the one remaining ANN
    query to a rows-only check — with our own projections the full
    ranking is DuckDB-hash-checked. Cost was measured, not assumed:
    min-of-three A/B on the same host at sf0.1 is 1.65 s (MLlib) vs
    1.61 s (native) — parity at fixture candidate volume (unlike the
    7× `lsh_cosine_pairs` swap in round 5, whose corpus×corpus
    candidate relation was large enough for MLlib's per-pair
    ``keyDistance`` UDF to dominate; here |queries| is tiny). The
    native form still drops MLlib's per-call ``fit`` job and scores
    candidates with codegen array expressions instead of MLlib's
    per-pair ``keyDistance`` Scala UDF over exploded vector structs —
    the part that dominates when the candidate relation grows. Recall < 1 vs :func:`topk_cosine` by LSH design; the
    result itself is deterministic and fully hash-checked, and its
    recall@10 is a hash-checked row of `sim_recall_report` (0.96 on
    the fixture at the default 4 tables / w=0.5).

    Output schema matches :func:`topk_cosine`. NULL/empty/zero-norm
    vectors drop (never a finite cosine); ragged corpus dimensions
    RAISE like every cosine operator here.
    """
    if probe_width < 0:
        # F.sequence would silently generate the descending range, so a
        # sign bug in the caller would behave like +probe_width instead
        # of failing — validate like every other input here.
        raise ValueError(
            f"lsh_topk_cosine: probe_width must be >= 0, got {probe_width}"
        )
    id_type = corpus.schema[id_col].dataType.simpleString()

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("__cv")
    ).filter(F.col("__cv").isNotNull() & (F.size("__cv") > 0))
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("__qv")
    ).filter(F.col("__qv").isNotNull() & (F.size("__qv") > 0))

    if assume_dim is None:
        # BOTH sides validated in one eager job: the corpus must have a
        # single width, and the query side must match it — a query set
        # whose width differs from the corpus must fail loudly, not
        # bucket to NULL and read as "no neighbors found".
        probed = _probe_dims([(c, "__cv", "corpus"), (q, "__qv", "queries")])
        for side in ("corpus", "queries"):
            if len(probed[side]) > 1:
                raise ValueError(
                    f"lsh_topk_cosine: ragged vector dimensions {probed[side]} "
                    f"in the {side} side's column {vec_col!r} — cosine between "
                    f"different-dimension vectors is undefined; normalize to "
                    f"one dimension (pad/truncate/filter) first."
                )
        if not probed["corpus"]:
            return _empty_topk(corpus.sparkSession, id_type)
        dim = probed["corpus"][0]
        if probed["queries"] and probed["queries"][0] != dim:
            raise ValueError(
                f"lsh_topk_cosine: query vectors are "
                f"{probed['queries'][0]}-dimensional but the corpus is "
                f"{dim}-dimensional — cosine between different-dimension "
                f"vectors is undefined."
            )
    else:
        # Caller-asserted width (a composite like sim_recall_report that
        # already validated the SAME relation skips re-paying the probe
        # job). Row-level safety is unchanged — the bucket UDF NULLs any
        # wrong-width vector — only the loud ragged-input diagnosis is
        # traded away, so an assume_dim lie degrades to empty buckets,
        # never to wrong cosines.
        if assume_dim <= 0:
            raise ValueError(
                f"lsh_topk_cosine: assume_dim must be positive, got {assume_dim}"
            )
        dim = int(assume_dim)
    G = seeded_unit_directions(dim, num_hash_tables, seed)
    bucket_ids = _bucket_ids_udf(dim, G, float(bucket_length))

    # norms once per vector before the join (not once per candidate)
    ckv = (
        c.withColumn("__cn", l2_norm(F.col("__cv")))
        .withColumn("__b", bucket_ids("__cv"))
        .filter(F.col("__b").isNotNull())
        .select("neighbor_id", "__cv", "__cn", F.posexplode("__b").alias("__t", "__bkt"))
    )
    # Query-side buckets are computed DRIVER-SIDE (round 9): the query
    # set is broadcast-scale by contract (it ships inside every exact
    # kNN closure here), so collecting it and bucketing with the SAME
    # numpy expression `_bucket_ids_udf` runs — floor(round((a/n)·G/w,
    # 9)) — is bit-identical to the UDF path while deleting a Python
    # exchange stage AND the broadcast-build job it fed (the local
    # relation broadcasts without running a stage; measured ~0.4 s off
    # the sf0.1 critical path). The __qn norm used in SCORING is still
    # the JVM fold below — driver numpy must never leak into the
    # cosine the oracle restates with sequential-fold arithmetic.
    import numpy as np

    q_rows = q.select("query_id", "__qv").collect()
    q_exploded = []
    for r in q_rows:
        a = np.asarray(r["__qv"], dtype=np.float64)
        if a.shape[0] != dim:
            continue
        nrm = np.sqrt(a @ a)
        if nrm == 0.0:
            continue
        bkts = np.floor(
            np.round((a / nrm) @ G / float(bucket_length), 9)
        ).astype(np.int64)
        vec = [float(x) for x in a]
        q_exploded.extend(
            (r["query_id"], vec, t, int(b)) for t, b in enumerate(bkts)
        )
    qkv = corpus.sparkSession.createDataFrame(
        q_exploded,
        f"query_id {id_type}, __qv array<double>, __t int, __bkt long",
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    if probe_width:
        # multi-probe: the query side also visits the ±probe_width
        # neighboring buckets (query-side-only cost; corpus bucketing
        # untouched). Gated so the default plan carries no extra
        # Generate node.
        qkv = (
            qkv.withColumn(
                "__bkt",
                F.explode(
                    F.sequence(
                        F.col("__bkt") - F.lit(int(probe_width)),
                        F.col("__bkt") + F.lit(int(probe_width)),
                    )
                ),
            )
        )

    scored = (
        ckv.join(F.broadcast(qkv), ["__t", "__bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # identical expression tree to topk_cosine → per-pair score
            # is bit-identical in every table the pair collides in, so
            # distinct on the triple dedups the OR-amplification
            (
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
            ).alias("__cos"),
        )
        .distinct()
    )
    return _rank_topk(scored, k)


def pq_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_subspaces: int = 16,
    n_codes: int = 64,
    refine_iterations: int = 3,
    train_sample: int = 16384,
) -> DataFrame:
    """Approximate top-k cosine via PRODUCT QUANTIZATION with
    asymmetric-distance computation (ADC) — Jégou et al. 2011, the
    third classic ANN family next to LSH bucketing
    (:func:`lsh_topk_cosine`) and IVF partitioning
    (:func:`ivf_topk_cosine`). LSH and IVF shrink the CANDIDATE SET;
    PQ shrinks the BYTES PER VECTOR: each L2-normalized vector is
    split into ``n_subspaces`` subvectors, each quantized to the
    nearest of ``n_codes`` codewords, so a 64-dim float32 vector
    (256 B) becomes ``n_subspaces`` uint8 codes (16 B at the default
    16×64 config) — a 16× scan-bandwidth cut (the extreme end of the
    axis `sim_topk_cosine_int8` measures at 4×). Queries stay
    UNQUANTIZED: per query a (n_subspaces × n_codes) lookup table of
    subvector·codeword dot products is precomputed, and a corpus
    vector's approximate cosine is n_subspaces table lookups summed —
    no decode, no float vector read.

    This is the end-to-end composition — for the index-persistence
    path (train/encode ONCE, store codes + codebooks as tables, score
    many query batches against the stored index) use the three stages
    directly: :func:`train_pq_codebooks` → :func:`encode_pq` →
    :func:`adc_topk` (`sim_topk_pq_stored` is that path under the
    oracle gate).

    Everything is deterministic end to end (see the stage docstrings
    for the seeding/rounding contract), which is what lets the DuckDB
    oracle restate training + encode + ADC in SQL and hash-check BOTH
    the ranking (`sim_topk_pq` / `sim_topk_pq_stored`) and recall@10
    (`sim_recall_report`'s pq row). Recall < 1 from quantization error
    alone (every vector is scored — no candidate misses, unlike
    LSH/IVF); the pytest property test pins recall@k against the exact
    scorer.
    """
    books = train_pq_codebooks(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        refine_iterations=refine_iterations,
        train_sample=train_sample,
    )
    if books is None:
        return _empty_topk(corpus.sparkSession)
    codes = encode_pq(corpus, books, id_col=id_col, vec_col=vec_col)
    return adc_topk(codes, books, queries, id_col=id_col, vec_col=vec_col, k=k)


def _unit_rows(mat):
    import numpy as np

    n = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(n == 0.0, 1.0, n)


def _adc_scorer(Q, books):
    """The ADC per-batch scorer for :func:`_mapside_topk`, over a
    ``(__nid, __codes, ...)`` stream: a coded vector's approximate
    cosine to unit query row q is sum_s LUT[q, s, code_s], rounded to
    9 decimals so ranking matches the oracle's SQL sums."""
    import numpy as np

    n_subspaces, _, sub_dim = books.shape
    # LUT[q, s, c] = q_sub(s) . codeword(s, c) (both sides unit-normalized)
    lut = np.stack(
        [
            Q[:, s * sub_dim : (s + 1) * sub_dim] @ books[s].T
            for s in range(n_subspaces)
        ],
        axis=1,
    )  # (|queries|, n_subspaces, n_codes)
    subspaces = np.arange(n_subspaces)[None, :]

    def score_batch(pdf):
        ids = pdf["__nid"].to_numpy().astype(np.int64)
        if not len(ids):
            return None
        codes = np.stack(
            [np.asarray(c, dtype=np.int64) for c in pdf["__codes"].to_numpy()]
        )
        # gather: scores[q, row] = sum_s lut[q, s, codes[row, s]]
        scores = np.round(lut[:, subspaces, codes].sum(axis=2), 9)
        return ids, scores.T

    return score_batch


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 16,
    n_codes: int = 64,
    refine_iterations: int = 3,
    train_sample: int = 16384,
):
    """Train PQ codebooks driver-side on a bounded id-ordered sample —
    the published recipe (Jégou §V.A; FAISS ``train`` does the same):
    a one-time collect of ≤ train_sample·dim doubles (default
    16384·64 ≈ 8 MB), after which only the cheap distributed ENCODE
    pass touches the full corpus.

    Deterministic end to end: per subspace, seeds are
    quantile-stratified — sample subvectors ranked by
    (round(first component, 9), sample order) and the ``n_codes``
    evenly-spaced ranks taken — so seeds span the data's range instead
    of clumping like first-N-by-id would; then ``refine_iterations``
    Lloyd rounds with means ROUNDED to 9 decimals and squared
    distances rounded to 9 before argmin (ties → lowest code index),
    so float-sum ordering cannot leak into code assignment (the
    `ivf_topk_cosine` determinism-over-last-ulp trade). Every step is
    restated in SQL by the `sim_recall_report` / `sim_topk_pq` oracle.

    Returns a (n_subspaces, n_codes, sub_dim) float64 ndarray, or
    ``None`` when the corpus has no valid vectors.
    """
    import numpy as np

    # The sample contract is "first train_sample VALID vectors by id",
    # where valid = non-null AND len == dim of the first non-null
    # vector — the oracle filters len(v) = dim in its vn CTE before
    # LIMIT (ADVICE r7). One TakeOrdered job serves BOTH the dim probe
    # and the sample in the common case: collect the first
    # train_sample non-null vectors WITH their widths, read dim off
    # the head row, drop wrong-width rows driver-side. That equals the
    # contract exactly when the collect drained every non-null row
    # (nothing valid can exist past the prefix) or when no wrong-width
    # row displaced a valid one (the filtered prefix still holds
    # train_sample rows). Only a ragged corpus that ate into the
    # sample falls back to the original two-job path (1-row dim probe,
    # then a width-filtered limit) — same rows, same order, same
    # floats in every case.
    head = (
        corpus.filter(F.col(vec_col).isNotNull())
        .orderBy(id_col)  # deterministic dim choice under mixed lengths
        .limit(train_sample)
        .select(to_double(F.col(vec_col)), F.size(vec_col).alias("__d"))
        .collect()
    )
    if not head:
        return None
    dim = head[0]["__d"]
    if dim <= 0:
        # 0 % n_subspaces == 0 would slip an empty/corrupt lead vector
        # through the divisibility check and train zero-width codebooks
        # whose ADC scores are all 0.0 — fail at the cause instead
        raise ValueError(
            f"first valid vector (by {id_col}) has length {dim}; "
            "cannot train PQ codebooks on empty vectors"
        )
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub_dim = dim // n_subspaces
    train_rows = [r for r in head if r["__d"] == dim]
    if len(train_rows) < train_sample and len(head) == train_sample:
        # wrong-width rows displaced sample candidates AND more
        # non-null rows may exist past the prefix: re-collect with the
        # width predicate pushed before the limit (the exact path)
        train_rows = (
            corpus.orderBy(id_col)
            .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
            .limit(train_sample)
            .select(to_double(F.col(vec_col)))
            .collect()
        )
    if not train_rows:
        return None

    train = _unit_rows(
        np.array([list(r[0]) for r in train_rows], dtype=np.float64)
    )
    books = np.empty((n_subspaces, n_codes, sub_dim), dtype=np.float64)
    n_t = len(train)
    for s in range(n_subspaces):
        sub = train[:, s * sub_dim : (s + 1) * sub_dim]
        order = np.lexsort((np.arange(n_t), np.round(sub[:, 0], 9)))
        picks = [order[int((i + 0.5) * n_t / n_codes) % n_t] for i in range(n_codes)]
        books[s] = sub[picks]

    def _assign(sub, bk):
        # squared L2 rounded to 9 before argmin (ties → lowest code),
        # mirroring the worker-side encoder and the SQL twin exactly
        d2 = np.round(
            (sub**2).sum(1)[:, None] - 2.0 * (sub @ bk.T) + (bk**2).sum(1)[None, :],
            9,
        )
        return np.argmin(d2, axis=1)

    # Lloyd refinement, driver-side over the sample: assignment →
    # per-(subspace, code) means rounded to 9; empty codes keep their
    # previous codeword.
    for _ in range(refine_iterations):
        new_books = books.copy()
        for s in range(n_subspaces):
            sub = train[:, s * sub_dim : (s + 1) * sub_dim]
            codes = _assign(sub, books[s])
            for c in range(n_codes):
                mask = codes == c
                if mask.any():
                    new_books[s, c] = np.round(sub[mask].mean(axis=0), 9)
        books = new_books
    return books


def encode_pq(
    corpus: DataFrame,
    books,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PQ encode: one narrow Arrow-batched pass assigning
    each vector its ``n_subspaces`` nearest-codeword indices under the
    trained ``books``. Output: (``id_col``, codes array<int>) — the
    storable index relation (16 B/vector at the 16×64 default). Rows
    with null or wrong-dimension vectors are dropped, mirroring the
    oracle's length filter."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    n_subspaces, _, sub_dim = books.shape
    dim = n_subspaces * sub_dim

    @pandas_udf(ArrayType(IntegerType()))
    def _encode(v: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415 — worker-side

        vals = v.to_numpy()
        out = [None] * len(vals)
        valid = [
            i for i in range(len(vals))
            if vals[i] is not None and len(vals[i]) == dim
        ]
        if valid:
            # normalization inlined (NOT _unit_rows): a module-level
            # helper would make cloudpickle serialize this closure by
            # MODULE REFERENCE, and the package is not importable on
            # bare Python workers (driver-only sys.path injection)
            V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in valid])
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            V = V / np.where(nrm == 0.0, 1.0, nrm)
            codes = np.empty((len(valid), n_subspaces), dtype=np.int32)
            for s in range(n_subspaces):
                sub = V[:, s * sub_dim : (s + 1) * sub_dim]
                # squared L2 to each codeword; ROUND before argmin so
                # a near-tie can't flip with BLAS blocking; argmin
                # breaks exact ties by lowest code index
                d2 = np.round(
                    (sub**2).sum(1)[:, None]
                    - 2.0 * (sub @ books[s].T)
                    + (books[s] ** 2).sum(1)[None, :],
                    9,
                )
                codes[:, s] = np.argmin(d2, axis=1)
            for j, i in enumerate(valid):
                out[i] = [int(c) for c in codes[j]]
        return pd.Series(out)

    return corpus.select(
        F.col(id_col).alias("__nid"),
        _encode(to_double(F.col(vec_col))).alias("__codes"),
    ).filter(F.col("__codes").isNotNull())


def adc_topk(
    codes_df: DataFrame,
    books,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over a (possibly stored) PQ codes
    relation: the shared map-side kernel (:func:`_mapside_topk`) over
    the CODES relation, scoring each Arrow batch with one numpy LUT
    gather (:func:`_adc_scorer`); the exchange carries
    ≤ k·|queries|·partitions candidates, and the global window rank
    runs on that tiny relation. ADC scores are rounded to 9 decimals
    BEFORE ranking so the oracle's sequential-fold sums rank
    identically to numpy's gathers. The per-query LUT tensor is an
    index-build collect: |queries|·n_subspaces·n_codes doubles —
    kilobytes; the query collect carries the kernel's row cap
    (:func:`_collect_queries`)."""
    n_subspaces, _, sub_dim = books.shape
    q_ids, Q = _collect_queries(
        queries, id_col, vec_col, "adc_topk", _MAX_QUERY_ROWS,
        dim=n_subspaces * sub_dim,
    )
    if not len(q_ids):
        return _empty_topk(codes_df.sparkSession)
    return _mapside_topk(codes_df, q_ids, k, _adc_scorer(_unit_rows(Q), books))


def encode_ivfpq(
    corpus: DataFrame,
    books,
    cent_unit,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS-style ``add()`` for an IVF-PQ index: ONE Arrow pass
    computing each vector's coarse IVF cell (round-9 affinity argmax,
    ties → lowest cell — the :func:`ivf_assign` contract) AND its PQ
    codes (the exact :func:`encode_pq` contract). Output:
    (``__nid``, ``__codes`` array<int>, ``__cell`` int) — the storable
    index relation (16 B codes + 4 B cell at the 16×64×16 default).

    At ingest this is the only corpus-wide pass; computing codes and
    cells separately and joining on id would shuffle the corpus twice
    for columns that are pure per-row functions of the vector. At
    100 TB the relation is written partitioned by ``__cell`` (the
    `sim_topk_ivf_stored` layout) so probes prune at the storage
    level AND scan 16-byte codes instead of 256-byte vectors.

    Null / wrong-dimension vectors are dropped (mirroring both parent
    operators' filters). All worker-side code lives in the closure —
    no package module references (workers can't import the repo when
    the driver launches outside it).
    """
    n_subspaces, _, sub_dim = books.shape
    dim = n_subspaces * sub_dim
    id_type = corpus.schema[id_col].dataType.simpleString()
    bks = books
    cu = cent_unit

    def enc(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            vals = pdf["__v"].to_numpy()
            ids = pdf["__id"].to_numpy()
            out_id: list = []
            out_codes: list = []
            out_cell: list = []
            valid = [
                i for i in range(len(vals))
                if vals[i] is not None and len(vals[i]) == dim
            ]
            if valid:
                V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in valid])
                nrm = np.linalg.norm(V, axis=1, keepdims=True)
                Vu = V / np.where(nrm == 0.0, 1.0, nrm)
                # coarse cell: round-9 affinity, argmax = first max =
                # lowest cell on exact ties (the crk=1 oracle rule)
                cells = np.round(Vu @ cu.T, 9).argmax(axis=1) + 1
                codes = np.empty((len(valid), n_subspaces), dtype=np.int32)
                for s in range(n_subspaces):
                    sub = Vu[:, s * sub_dim : (s + 1) * sub_dim]
                    # squared L2 rounded to 9 before argmin; exact ties
                    # break to the lowest code index (encode_pq rule)
                    d2 = np.round(
                        (sub**2).sum(1)[:, None]
                        - 2.0 * (sub @ bks[s].T)
                        + (bks[s] ** 2).sum(1)[None, :],
                        9,
                    )
                    codes[:, s] = np.argmin(d2, axis=1)
                for j, i in enumerate(valid):
                    out_id.append(ids[i])
                    out_codes.append([int(c) for c in codes[j]])
                    out_cell.append(int(cells[j]))
            # object dtype throughout: a batch with ZERO valid rows
            # otherwise yields float64 columns, which Arrow refuses to
            # convert to array<int> (NumPyConverter list error)
            yield pd.DataFrame(
                {
                    "__nid": pd.Series(out_id, dtype="object"),
                    "__codes": pd.Series(out_codes, dtype="object"),
                    "__cell": pd.Series(out_cell, dtype="object"),
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), to_double(F.col(vec_col)).alias("__v")
    ).mapInPandas(enc, schema=f"__nid {id_type}, __codes array<int>, __cell int")


def ivfpq_adc_topk(
    index_df: DataFrame,
    books,
    cent_unit,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ADC top-k over an IVF-PQ index relation (:func:`encode_ivfpq`'s
    (__nid, __codes, __cell)): each query scores ONLY candidates whose
    cell is among its ``n_probe`` nearest — :func:`adc_topk`'s LUT
    gather with the cell prune applied as a mask inside the same
    shared map-side kernel (:func:`_mapside_topk`; the
    `lsh_topk_cosine_mapside` trick: broadcast the per-query probe-set
    matrix in the closure instead of exploding a probe join). Per
    Arrow batch: one LUT gather for the scores, one boolean gather for
    the mask; the exchange carries ≤ k·|queries|·partitions candidate
    rows.

    Probe cells are computed driver-side from the (broadcast-scale by
    contract, row-capped by :func:`_collect_queries`) query set with
    the exact :func:`ivf_assign` rounding rules — round-9 affinities,
    stable argsort, ties → lowest cell — so the DuckDB oracle's probe
    CTE reproduces them bit-for-bit.
    """
    import numpy as np

    n_subspaces, _, sub_dim = books.shape
    q_ids, Q = _collect_queries(
        queries, id_col, vec_col, "ivfpq_adc_topk", _MAX_QUERY_ROWS,
        dim=n_subspaces * sub_dim,
    )
    if not len(q_ids):
        return _empty_topk(index_df.sparkSession)
    Q = _unit_rows(Q)
    # probe matrix P[q, cell-1]: True iff cell is among the query's
    # n_probe nearest (round-9 affinity, stable argsort = cell asc ties)
    aff = np.round(Q @ cent_unit.T, 9)
    order = np.argsort(-aff, axis=1, kind="stable")
    n_cells = cent_unit.shape[0]
    P = np.zeros((len(q_ids), n_cells), dtype=bool)
    P[np.arange(len(q_ids))[:, None], order[:, : min(n_probe, n_cells)]] = True
    adc = _adc_scorer(Q, books)

    def score_batch(pdf):
        scored = adc(pdf)
        if scored is None:
            return None
        ids, scores = scored
        # the IVF prune: a candidate is visible to a query only if its
        # (single-assignment) cell is in the query's probe set
        cells = pdf["__cell"].to_numpy().astype(np.int64) - 1
        scores[~P[:, cells].T] = -np.inf
        return ids, scores

    return _mapside_topk(index_df, q_ids, k, score_batch)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 16,
    n_codes: int = 64,
    refine_iterations: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ composite ANN (FAISS ``IndexIVFPQ``): the coarse
    quantizer prunes WHICH vectors are scored (n_probe/n_cells of the
    corpus), PQ shrinks WHAT is read per scored vector (16 B codes vs
    256 B floats) — the two orthogonal ANN savings this engine
    implements separately (`sim_topk_ivf*`, `sim_topk_pq*`) composed
    the way production vector stores deploy them. Train = IVF seed
    centroids (deterministic first-by-id, refine 0 — the
    `sim_topk_ivf` coarse flavor) + PQ codebooks
    (:func:`train_pq_codebooks` defaults); add = one
    :func:`encode_ivfpq` pass; search = :func:`ivfpq_adc_topk`.
    Deterministic end to end, so the DuckDB oracle restates BOTH
    trainings, the joint encode, the probe join, and the ADC ranking.
    """
    from concurrent.futures import ThreadPoolExecutor

    # The two trainings are independent (coarse quantizer vs codebooks,
    # each its own bounded TakeOrdered collect + driver-side numpy), so
    # their construction jobs OVERLAP from a 2-thread pool (guide §2.6:
    # actions are only sequential because driver code calls them
    # sequentially) — the same overlap pagerank's checkpoint jobs use.
    with ThreadPoolExecutor(max_workers=2) as pool:
        cent_f = pool.submit(
            lambda: train_ivf_centroids(
                corpus, id_col=id_col, vec_col=vec_col,
                n_cells=n_cells, refine_iterations=0, dim=dim,
            )
        )
        books_f = pool.submit(
            lambda: train_pq_codebooks(
                corpus, id_col=id_col, vec_col=vec_col,
                n_subspaces=n_subspaces, n_codes=n_codes,
                refine_iterations=refine_iterations,
            )
        )
        cent, books = cent_f.result(), books_f.result()
    if cent is None or books is None:
        return _empty_topk(corpus.sparkSession)
    index = encode_ivfpq(corpus, books, cent, id_col=id_col, vec_col=vec_col)
    return ivfpq_adc_topk(
        index, books, cent, queries,
        id_col=id_col, vec_col=vec_col, k=k, n_probe=n_probe,
    )


def mmr_rerank(
    vecs: dict[int, list[float]],
    query_id: int,
    cand_ids: list[int],
    *,
    lam: float,
    k: int,
) -> list[tuple[int, int, float, float]]:
    """Pure driver-side MMR greedy over a BOUNDED candidate pool:
    returns [(selection_rank, vec_id, rel_rounded, mmr_rounded)].
    Each pick maximizes lam·rel − (1−lam)·max-cos-to-selected, ties to
    the smallest vec_id. Determinism contract (shared with the SQL
    oracle that unrolls the same walk): dot products are the
    left-to-right fold of `dot`'s JVM expression, lam's complement is
    COMPUTED as (1 − lam), and emitted values round through BigDecimal
    HALF_UP — F.round's exact semantics. Re-ranking k rows is
    driver-scale by definition; callers gate the pool size."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def fold_dot(a: list, b: list) -> float:
        s = 0.0  # left-to-right fold — the engines' shared order
        for x, y in zip(a, b):
            s += x * y
        return s

    def r6(x: float) -> float:
        # Decimal(repr(x)) — the SHORTEST decimal representation, which
        # is BigDecimal.valueOf's contract and what F.round and DuckDB
        # ROUND both quantize from; Decimal(x) would expand the exact
        # binary value and can land a half-case on the other side
        # (e.g. 0.1234565 → …6 exact vs …7 shortest-repr, ADVICE r11)
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    qv = vecs[query_id]
    qn = math.sqrt(fold_dot(qv, qv))
    norm = {i: math.sqrt(fold_dot(v, v)) for i, v in vecs.items()}
    rel = {i: fold_dot(vecs[i], qv) / (norm[i] * qn) for i in cand_ids}

    selected: list[int] = []
    out: list[tuple[int, int, float, float]] = []
    remaining = set(cand_ids)
    while remaining and len(selected) < k:
        best_score, best_id = None, None
        for vid in sorted(remaining):  # ascending: strict > keeps min id
            pen = max(
                (fold_dot(vecs[vid], vecs[s]) / (norm[vid] * norm[s])
                 for s in selected),
                default=0.0,
            )
            score = lam * rel[vid] - (1 - lam) * pen
            if best_score is None or score > best_score:
                best_score, best_id = score, vid
        out.append((len(selected) + 1, best_id, r6(rel[best_id]),
                    r6(best_score)))
        selected.append(best_id)
        remaining.discard(best_id)
    return out
