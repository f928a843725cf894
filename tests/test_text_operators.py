"""Semantics unit tests for the text / similarity / multimodal operator
cores on hand-built fixtures (SURVEY.md §5 item 2 pattern, applied to
the M4 layer)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from new_kafka_consumer_to_hadoop_hdfs_spark.operators.multimodal import (
    documents_as_assets,
    extract_features,
    fake_decode_features,
)
from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
    cosine,
    to_double,
    topk_cosine,
)
from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
    char_shingles,
    jaccard,
    lsh_candidate_pairs,
    minhash_signature,
    prefix_filter_pairs,
    simhash64,
    simhash_near_pairs,
    whitespace_tokens,
    word_shingles,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different content about spark engines"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (5, "x"),  # shorter than any shingle
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _shingled(docs):
    return docs.select(
        "doc_id", word_shingles(whitespace_tokens(F.col("text")), 3).alias("sh")
    ).filter(F.size("sh") > 0)


def test_shingles_short_text_empty(spark, docs):
    rows = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.size(word_shingles(whitespace_tokens(F.col("text")), 3)).alias("n"),
        ).collect()
    }
    assert rows[5] == 0  # 1 token < n → no shingles, no crash
    assert rows[1] == 7  # 9 tokens → 7 trigrams


def test_minhash_identical_sets_identical_signatures(spark, docs):
    sh = _shingled(docs)
    sigs = {
        r.doc_id: tuple(r.sig)
        for r in sh.select(
            "doc_id", minhash_signature(F.col("sh"), 16).alias("sig")
        ).collect()
    }
    assert sigs[1] == sigs[4]  # same shingle set → same signature
    agree_12 = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree_12 > agree_13  # similar docs agree on more slots
    assert agree_13 == 0  # disjoint shingle sets should agree nowhere


def test_lsh_candidates_find_near_and_exact_dups(spark, docs):
    sh = _shingled(docs)
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in lsh_candidate_pairs(sh, "doc_id", "sh").collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs and (2, 4) in pairs  # near-dups collide
    assert not any(3 in p for p in pairs)  # unrelated doc stays alone


def test_prefix_filter_exact_recall(spark, docs):
    """Prefix filtering must find EVERY pair above threshold (no recall
    loss) — verified against the brute-force crossJoin."""
    sh = docs.select(
        "doc_id", char_shingles(F.col("text"), 5).alias("sh")
    ).filter(F.size("sh") > 0)
    t = 0.5
    a = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sb"))
    brute = {
        (r.da, r.db)
        for r in a.join(b, F.col("da") < F.col("db"))
        .withColumn("j", jaccard(F.col("sa"), F.col("sb")))
        .filter(F.col("j") >= t)
        .collect()
    }
    cand = {
        (r.doc_id_a, r.doc_id_b)
        for r in prefix_filter_pairs(sh, "doc_id", "sh", threshold=t).collect()
    }
    assert brute <= cand  # completeness: candidates ⊇ true pairs
    assert brute  # fixture actually has qualifying pairs


def test_simhash_properties(spark, docs):
    sigs = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", simhash64(whitespace_tokens(F.col("text"))).alias("s")
        ).collect()
    }
    assert sigs[1] == sigs[4]  # identical text → identical simhash
    ham_12 = bin((sigs[1] ^ sigs[2]) & (2**64 - 1)).count("1")
    ham_13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    assert ham_12 < ham_13  # near-dup closer in Hamming space

    sig_df = docs.select(
        "doc_id", simhash64(whitespace_tokens(F.col("text"))).alias("s")
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in simhash_near_pairs(sig_df, "doc_id", "s", max_hamming=3).collect()
    }
    assert pairs.get((1, 4)) == 0  # exact dup at distance 0


def test_cosine_matches_python(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0], [0.5, 1.0, 0.0])],
        "id long, a array<float>, b array<float>",
    )
    got = df.select(
        cosine(to_double(F.col("a")), to_double(F.col("b"))).alias("c")
    ).first()["c"]
    expect = 0.5 / (math.sqrt(5.0) * math.sqrt(1.25))
    assert abs(got - expect) < 1e-12


def test_topk_cosine_excludes_self_and_ranks(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.05]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter(F.col("vec_id") == 0)
    out = topk_cosine(vecs, q, k=2).collect()
    assert [r.neighbor_id for r in out] == [3, 1]  # closest first
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in out)
    assert [r.rank for r in out] == [1, 2]


def test_ivf_topk_recall_against_exact(spark, sf_dir):
    """IVF probe search must be a subset-approximation of exact top-k:
    every returned neighbor's cosine is real, ranks are consistent, and
    recall@10 against the exact operator is substantial."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        ivf_topk_cosine,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = topk_cosine(e, q, k=10).collect()
    approx = ivf_topk_cosine(e, q, k=10, n_cells=16, n_probe=4).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
    # scores must agree exactly with the true cosine wherever both found
    exact_by_pair = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_by_pair:
            assert abs(r.cos_sim - exact_by_pair[(r.query_id, r.neighbor_id)]) < 1e-9


def test_connected_components_chain_clique_singleton(spark):
    """Min-label propagation: a 4-chain (needs >1 round), a triangle,
    and an isolated node each resolve to their component minimum."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.graph import (
        connected_components_min_label,
    )

    nodes = spark.createDataFrame([(i,) for i in range(9)], "id long")
    edges = spark.createDataFrame(
        # chain 1-3-5-7 (written so propagation takes multiple rounds),
        # triangle 2-4-6; node 8 and 0 isolated
        [(7, 5), (5, 3), (3, 1), (2, 4), (4, 6), (2, 6)],
        "src long, dst long",
    )
    labels = {
        r.node: r.label
        for r in connected_components_min_label(nodes, edges).collect()
    }
    assert labels == {0: 0, 1: 1, 3: 1, 5: 1, 7: 1, 2: 2, 4: 2, 6: 2, 8: 8}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The cluster mode: ``checkpoint_dir`` switches per-round lineage
    truncation from executor-local blocks to reliable
    ``DataFrame.checkpoint`` files in the given directory (survives
    executor loss at scale). Same labels as the local mode, and the
    checkpoint dir must actually receive RDD checkpoint data."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.graph import (
        connected_components_min_label,
    )

    ckpt = str(tmp_path / "cc_ckpt")
    caller_ckpt = str(tmp_path / "caller_ckpt")
    sc = spark.sparkContext
    sc.setCheckpointDir(caller_ckpt)
    nodes = spark.createDataFrame([(i,) for i in range(9)], "id long")
    edges = spark.createDataFrame(
        [(7, 5), (5, 3), (3, 1), (2, 4), (4, 6), (2, 6)],
        "src long, dst long",
    )
    labels = {
        r.node: r.label
        for r in connected_components_min_label(
            nodes, edges, checkpoint_dir=ckpt
        ).collect()
    }
    assert labels == {0: 0, 1: 1, 3: 1, 5: 1, 7: 1, 2: 2, 4: 2, 6: 2, 8: 8}
    import pathlib

    written = list(pathlib.Path(ckpt).rglob("*"))
    assert any(p.is_file() for p in written), "no reliable checkpoint files"
    # Session-global checkpoint dir must be RESTORED, not clobbered
    # (ADVICE r4): the caller's configured tree survives the loop.
    # (Spark nests a fresh UUID subdir on every setCheckpointDir call,
    # so compare the caller's root, not the exact leaf.)
    after = sc._jsc.sc().getCheckpointDir()  # noqa: SLF001
    assert after.isDefined() and pathlib.Path(caller_ckpt).name in pathlib.Path(
        after.get()
    ).parts, f"checkpoint dir clobbered: {after}"


def test_connected_components_ignores_foreign_endpoints(spark):
    """An edge endpoint absent from the node set (e.g. pairs computed
    before an upstream quality filter dropped the doc) must not become
    a component label: nodes {5, 9} linked only through missing node 1
    still label as min(5, 9), and 1 never appears in the output."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.graph import (
        connected_components_min_label,
    )

    nodes = spark.createDataFrame([(5,), (9,)], "id long")
    edges = spark.createDataFrame([(5, 1), (1, 9)], "src long, dst long")
    labels = {
        r.node: r.label
        for r in connected_components_min_label(nodes, edges).collect()
    }
    assert labels == {5: 5, 9: 9}


def test_salted_aggregate_matches_plain(spark, sf_dir):
    """Salted two-phase aggregation must equal the direct groupBy for
    every algebraic aggregate, regardless of bucket count."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.skew import (
        salted_aggregate,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderkey"
    )
    salted = salted_aggregate(
        o,
        ["o_orderstatus"],
        [
            ("sum", F.col("o_totalprice").cast("decimal(18,2)"), "total"),
            ("count", F.col("o_orderkey"), "n"),
            ("min", F.col("o_totalprice"), "lo"),
            ("max", F.col("o_totalprice"), "hi"),
        ],
        salt_buckets=7,
    )
    plain = o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        F.count("o_orderkey").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    with pytest.raises(ValueError):
        salted_aggregate(o, ["o_orderstatus"], [("avg", "o_totalprice", "a")])


def test_multimodal_roundtrip(spark, docs):
    assets = documents_as_assets(
        docs.withColumnRenamed("doc_id", "doc_id").withColumn(
            "n_chars", F.length("text")
        )
    )
    feats = {r.asset_id: r for r in extract_features(assets).collect()}
    # deterministic stub: recompute one row in plain Python
    text = DOCS[0][1].encode()
    expect = fake_decode_features(text, "text/fake-image")
    got = feats[1]
    assert (got.width, got.height, got.n_frames) == (
        expect["width"],
        expect["height"],
        expect["n_frames"],
    )
    assert len(got.feature) == 16
    assert abs(sum(got.feature) - 1.0) < 1e-6  # histogram normalized


def test_prefix_filter_positional_boundary_pair(spark):
    """Regression for the positional-filter alpha rounding: a pair at
    EXACTLY the threshold (|a|=31, |b|=32, overlap 28 → Jaccard
    28/35 = 0.8) must survive candidate generation at t=0.8. A
    float-first alpha (ceil(t/(1+t)·s) with t/(1+t) rounded up)
    computes 29 > the true minimum 28 and drops it."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        jaccard_verify_elements,
        prefix_filter_candidate_pairs,
    )

    rows = [(1, h) for h in range(31)] + [(2, h) for h in range(3, 35)]
    ex = spark.createDataFrame(rows, "doc_id long, __h long")
    cands = prefix_filter_candidate_pairs(ex, "doc_id", threshold=0.8)
    assert [(r.doc_id_a, r.doc_id_b) for r in cands.collect()] == [(1, 2)]
    verified = jaccard_verify_elements(
        cands, ex, "doc_id", threshold=0.8
    ).collect()
    assert len(verified) == 1 and abs(verified[0].jaccard - 0.8) < 1e-12


def test_simhash_signatures_match_expression_form(spark, docs):
    """The Arrow bulk path and the pure-expression form must produce
    bit-identical signatures (integer votes — no float slack), and the
    bulk path must drop empty-token docs like the explode form did."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        simhash_signatures,
    )

    spark_docs = docs.union(
        docs.sparkSession.createDataFrame([(6, "")], "doc_id long, text string")
    )
    toks = spark_docs.select(
        "doc_id", whitespace_tokens(F.col("text")).alias("t")
    )
    expr_sigs = {
        r.doc_id: r.s
        for r in toks.filter(F.size("t") > 0)
        .select("doc_id", simhash64(F.col("t")).alias("s"))
        .collect()
    }
    bulk_sigs = {
        r.doc_id: r.simhash
        for r in simhash_signatures(toks, "doc_id", "t").collect()
    }
    assert bulk_sigs == expr_sigs
    assert 6 not in bulk_sigs  # empty-token doc dropped, not scored


def test_simhash_md5_60bit_matches_python_reference(spark, docs):
    """The oracle-portable (60-bit, md5-prefix) SimHash must equal an
    independent pure-Python recomputation bit for bit — this is the
    contract the DuckDB oracle for dedup_simhash relies on (token hash
    = int of the first 15 md5 hex chars, ±1 votes per bit, signature
    bit b set iff the vote is strictly positive)."""
    import hashlib

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        md5_token_hash60,
        simhash_signatures,
    )

    toks = docs.select("doc_id", whitespace_tokens(F.col("text")).alias("t"))
    got = {
        r.doc_id: r.simhash
        for r in simhash_signatures(
            toks, "doc_id", "t", n_bits=60, hash_expr=md5_token_hash60
        ).collect()
    }

    def ref_sig(tokens):
        votes = [0] * 60
        for tk in tokens:
            h = int(hashlib.md5(tk.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    expected = {
        r.doc_id: ref_sig(r.t)
        for r in toks.collect()
        if len(r.t) > 0
    }
    assert got == expected
    assert all(0 <= s < (1 << 60) for s in got.values())

    # pigeonhole completeness at the 60-bit width: the 4-chunk
    # equi-join must recover EXACTLY the brute-force Hamming ≤ 3 pairs
    sig_df = spark.createDataFrame(
        [(k, v) for k, v in got.items()], "doc_id long, simhash long"
    )
    bucketed = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_near_pairs(
            sig_df, "doc_id", "simhash", max_hamming=3, n_bits=60
        ).collect()
    }
    ids = sorted(got)
    brute = {
        (a, b, bin(got[a] ^ got[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(got[a] ^ got[b]).count("1") <= 3
    }
    assert bucketed == brute


def test_int8_topk_tracks_exact_cosine(spark, sf_dir):
    """Quantized scoring must stay within the rounding-error bound of
    the float path: per-pair |cos_int8 - cos_float| small, and top-10
    neighbor overlap high (quantization reshuffles ranks only where
    neighbors are nearly tied)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        topk_cosine_int8,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = topk_cosine(e, q, k=10).collect()
    quant = topk_cosine_int8(e, q, k=10).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    quant_pairs = {(r.query_id, r.neighbor_id) for r in quant}
    overlap = len(exact_pairs & quant_pairs) / len(exact_pairs)
    assert overlap >= 0.8, f"int8 top-k diverged from float top-k: {overlap}"
    # 127-level max-abs quantization of d-dim vectors perturbs a unit
    # dot product by O(1/127); 0.02 is a loose ceiling for dim=64
    exact_by_pair = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in quant:
        if (r.query_id, r.neighbor_id) in exact_by_pair:
            err = abs(r.cos_sim - exact_by_pair[(r.query_id, r.neighbor_id)])
            assert err < 0.02, f"quantization error too large: {err}"


def test_quantize_int8_integer_components_and_zero_vector(spark):
    """Quantized components are integers in [-127, 127]; the max-abs
    element maps to ±127 exactly; an all-zero vector survives (maps to
    zeros, no division blowup)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])], "id long, v array<double>"
    )
    out = df.select("id", quantize_int8(F.col("v")).alias("q"))
    assert dict(out.dtypes)["q"] == "array<tinyint>"  # true int8 in flight
    rows = {r.id: r.q for r in out.collect()}
    assert rows[1] == [64, -127, 32]  # round(.5*127)=64 (half-up), max-abs → -127
    assert rows[2] == [0, 0, 0]
    assert all(isinstance(x, int) and -127 <= x <= 127 for x in rows[1])


def test_contamination_hits_semantics(spark):
    """A corpus doc sharing an n-gram with ANY benchmark doc is
    reported once with the distinct shared-gram count; clean docs and
    sub-n docs don't appear; duplicated benchmark grams don't double-
    count."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        contamination_hits,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta y"),   # 1 shared 4-gram (in both bench docs)
            (2, "beta gamma delta epsilon tail"), # 1 shared 4-gram (bench 101)
            (3, "totally different words here"),  # clean
            (4, "alpha beta"),                    # < n tokens → no grams
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n_benchmark_grams
        for r in contamination_hits(corpus, bench, "doc_id", "text", n=4).collect()
    }
    assert out == {1: 1, 2: 1}


# A bucket length so wide that |v̂·g/w| < 5e-10 rounds to 0 in every
# table: every pair collides, so the LSH map-side form must answer
# exactly like the exact kernel and the window twin.
_ALL_COLLIDE = 1e10


def _mapside_op(name):
    import functools

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators import similarity

    op = getattr(similarity, name)
    if name == "lsh_topk_cosine_mapside":
        return functools.partial(op, bucket_length=_ALL_COLLIDE)
    return op


@pytest.mark.parametrize("op", ["topk_cosine_mapside", "lsh_topk_cosine_mapside"])
def test_mapside_topk_matches_window_with_boundary_ties(spark, op):
    """Map-side pruning must survive score ties at the selection
    boundary across partitions: duplicate vectors produce equal
    cosines, and the (cos desc, id asc) winner must match the window
    twin exactly — a value-only partition that drops the id-preferred
    tie would diverge here."""
    mapside = _mapside_op(op)

    # vec 0 = query; vecs 1..8 are four tied pairs (identical vectors),
    # k=3 cuts through the middle pair of a tie group
    rows = [(0, [1.0, 0.0])]
    dup = [[0.9, 0.1], [0.9, 0.1], [0.7, 0.3], [0.7, 0.3],
           [0.5, 0.5], [0.5, 0.5], [0.1, 0.9], [0.1, 0.9]]
    rows += [(i + 1, v) for i, v in enumerate(dup)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)
    q = df.filter(F.col("vec_id") == 0)
    want = [(r.query_id, r.neighbor_id, r.cos_sim, r.rank)
            for r in topk_cosine(df, q, k=3).orderBy("rank").collect()]
    got = [(r.query_id, r.neighbor_id, r.cos_sim, r.rank)
           for r in mapside(df, q, k=3).orderBy("rank").collect()]
    assert got == want
    assert [g[1] for g in got] == [1, 2, 3]  # tie at rank 2/3 → smaller id first


def test_ivf_kmeans_refinement_recall_and_determinism(spark, sf_dir):
    """Lloyd-refined IVF must stay a valid subset-approximation (scores
    exact where found, recall not collapsed) and be deterministic
    across runs (rounded centroid updates)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        ivf_topk_cosine,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = {(r.query_id, r.neighbor_id): r.cos_sim
             for r in topk_cosine(e, q, k=10).collect()}
    run1 = ivf_topk_cosine(e, q, k=10, n_cells=16, n_probe=4,
                           refine_iterations=2).collect()
    run2 = ivf_topk_cosine(e, q, k=10, n_cells=16, n_probe=4,
                           refine_iterations=2).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))  # deterministic
    pairs = {(r.query_id, r.neighbor_id) for r in run1}
    recall = len(pairs & set(exact)) / len(exact)
    assert recall >= 0.3, f"refined-IVF recall collapsed: {recall}"
    for r in run1:
        if (r.query_id, r.neighbor_id) in exact:
            assert abs(r.cos_sim - exact[(r.query_id, r.neighbor_id)]) < 1e-9


@pytest.mark.parametrize("op", ["topk_cosine_mapside", "lsh_topk_cosine_mapside"])
def test_mapside_topk_no_self_pair_leak_under_k(spark, op):
    """A query with fewer than k scoreable neighbors must NOT emit a
    self-pair with a sentinel score (regression: nan_to_num's default
    ±inf rewrite turned the -inf self-pair marker into a finite
    'score')."""
    mapside = _mapside_op(op)

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") == 0)
    rows = mapside(df, q, k=10).collect()
    assert {r.neighbor_id for r in rows} == {1, 2}  # no self, no sentinel
    assert all(r.cos_sim > -2.0 for r in rows)


def test_cosine_pairs_max_rows_guard_raises(spark):
    """The brute-force pair scan must refuse oversized corpora with a
    loud error naming the LSH scale path — not OOM the driver
    (round-5 guard: VERDICT r4 item 5)."""
    import pytest

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        cosine_pairs,
    )

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="lsh_cosine_pairs"):
        cosine_pairs(df, threshold=0.5, max_rows=5)
    # At exactly the cap it must work.
    out = cosine_pairs(df.limit(5), threshold=-1.0, max_rows=5)
    assert out.count() == 10  # C(5,2) pairs at threshold -1


def test_cosine_pairs_ragged_dimensions_raise(spark):
    """Mixed vector dimensions are undefined for cosine — fail loudly
    instead of silently dropping whichever length the first collected
    row didn't have (ADVICE r4)."""
    import pytest

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        cosine_pairs,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 5.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        cosine_pairs(df, threshold=0.5)


def test_lsh_topk_query_corpus_dimension_mismatch_raises(spark):
    """A query set whose vector width differs from the corpus must fail
    loudly — before round 8's review pass it bucketed to NULL and read
    as 'no neighbors found' (the corpus-side ragged check existed, the
    cross-side one didn't)."""
    import pytest

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        lsh_topk_cosine,
    )

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="query vectors are 2-dimensional"):
        lsh_topk_cosine(corpus, queries, k=5)
    # ragged queries raise through the shared probe too
    ragged_q = spark.createDataFrame(
        [(9, [1.0, 0.0, 0.0]), (10, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        lsh_topk_cosine(corpus, ragged_q, k=5)


def test_cosine_pairs_null_and_empty_vectors_dropped(spark):
    """NULL / empty vectors keep the expression-form drop semantics:
    excluded from pairing, everything else still paired."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        cosine_pairs,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, []), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    rows = cosine_pairs(df, threshold=0.5).collect()
    assert [(r.vec_id_a, r.vec_id_b) for r in rows] == [(0, 3)]


def test_span_duplication_semantics(spark):
    """Two byte-identical docs must score dup_fraction 1.0 against each
    other; a doc sharing no 11-char span with anything scores 0.0 —
    the winnowing guarantee (shared substring >= k+w-1 always collides
    on >= 1 fingerprint) driving a removal-ranking signal."""
    import pandas as pd

    from new_kafka_consumer_to_hadoop_hdfs_spark.plans.llm import (
        dedup_span_duplication,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "zw qx vr kp lm on ab cd ef gh ij kl mn op qr st uv wx yz ba"),
        ],
        "doc_id long, text string",
    )

    # The registered query loads from sf_dir; exercise the same plan
    # body against a synthetic frame through a temp view-less path:
    # replicate the plan inline (winnow -> share count -> rollup).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)
    shared = F.count(F.when(F.col("__nd") >= 2, 1))
    out = (
        fps.withColumn(
            "__nd", F.count("*").over(Window.partitionBy("fingerprint"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            shared.alias("n_shared"),
            F.round(shared.cast("double") / F.count("*"), 6).alias(
                "dup_fraction"
            ),
        )
    ).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_fraction"] == 1.0
    assert out.loc[2, "dup_fraction"] == 1.0
    assert out.loc[3, "dup_fraction"] == 0.0
    assert (out["n_shared"] <= out["n_fingerprints"]).all()
    assert isinstance(out, pd.DataFrame)


def test_winnow_arrow_twin_is_byte_identical(spark, sf_dir):
    """`winnow_fingerprints_arrow` (round 9: per-partition gram-memo
    md5 + uint32 sliding mins) must emit EXACTLY the expression form's
    (id, fingerprint) set — the md5 oracle contract rides on both. Run
    over the real fixture corpus plus hand-made edge docs (too-short,
    exactly-one-window, empty, null, newline-spanning grams — the
    DOTALL contract)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_fingerprints,
        winnow_fingerprints_arrow,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    edge = spark.createDataFrame(
        [
            (9001, "0123456789a"),   # len 11 = k+w-1: exactly one window
            (9002, "0123456789"),    # len 10: one gram short -> no rows
            (9003, ""),              # empty
            (9004, None),            # null
            (9005, "line one\nline two and more text"),  # \n inside grams
            (9006, "aaaaaaaaaaaaaaaaaaaaaa"),            # degenerate repeat
        ],
        "doc_id long, text string",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").unionByName(edge)
    a = winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)
    b = winnow_fingerprints_arrow(docs, "doc_id", "text", k=8, w=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the short/empty/null docs must be absent from BOTH
    present = {r.doc_id for r in b.filter(F.col("doc_id") >= 9001).select("doc_id").distinct().collect()}
    assert present == {9001, 9005, 9006}


def test_winnow_memo_byte_budget_never_changes_output(spark):
    """The gram-memo is bounded by approximate BYTES (VERDICT r9 task
    5: grams are k chars with caller-chosen k, so the old 2^20-ENTRY
    cap left entries×gram-size unbounded). Clearing must only ever
    cost re-hashing, never correctness: run the arrow twin under a
    STARVATION budget (1 byte — the memo clears after every document)
    across pathological gram lengths (k up to 256, grams ~32× the
    default) and require byte-identical rows vs both the default
    budget and the expression form."""
    import random

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_fingerprints,
        winnow_fingerprints_arrow,
    )

    rng = random.Random(10)
    # repetitive alphabet → heavy memo hits; long texts → many grams
    docs = spark.createDataFrame(
        [
            (i, "".join(rng.choice("abcdef ") for _ in range(2000)))
            for i in range(24)
        ]
        + [(100, "x" * 300)],  # degenerate: one distinct gram per k
        "doc_id long, text string",
    ).repartition(4)
    for k in (8, 64, 256):
        expr = winnow_fingerprints(docs, "doc_id", "text", k=k, w=4)
        starved = winnow_fingerprints_arrow(
            docs, "doc_id", "text", k=k, w=4, memo_budget_bytes=1
        )
        dflt = winnow_fingerprints_arrow(docs, "doc_id", "text", k=k, w=4)
        assert starved.exceptAll(dflt).count() == 0
        assert dflt.exceptAll(starved).count() == 0
        assert starved.exceptAll(expr).count() == 0
        assert expr.exceptAll(starved).count() == 0


def test_winnow_guarantee_holds_for_both_hash_families(spark):
    """The winnowing local-sampling guarantee — any shared substring of
    length >= k+w-1 yields >= 1 shared fingerprint — depends only on
    hash determinism, so it must hold under BOTH the oracle-portable
    md5 default and the production xxhash64 knob (which exists because
    the per-gram hash dominates this operator: 2.79 s md5 vs 1.46 s
    xxhash64 at sf0.1)."""
    from pyspark.sql import functions as F

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_fingerprints,
    )

    shared_span = "a very specific shared span here"  # len 32 >= k+w-1
    docs = spark.createDataFrame(
        [
            (1, f"prefix one {shared_span} suffix alpha"),
            (2, f"other beginning {shared_span} different tail"),
            (3, "zw qx vr kp lm on ab cd ef gh ij kl mn op qr st uv"),
        ],
        "doc_id long, text string",
    )
    for kw in ({}, {"hash_expr": lambda g: F.xxhash64(g)}):
        rows = winnow_fingerprints(docs, "doc_id", "text", k=8, w=4, **kw).collect()
        fps = {did: set() for did in (1, 2, 3)}
        for r in rows:
            fps[r.doc_id].add(r.fingerprint)
        assert fps[1] & fps[2], "shared span must collide on >=1 fingerprint"
        assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_zipf_slope_negative_and_bounded(spark, sf_dir):
    """Frequency must not increase with rank: the fitted slope is <= 0
    for every language, and n_types matches the distinct vocabulary."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.plans.llm import text_zipf_slope

    rows = text_zipf_slope(spark, sf_dir).collect()
    assert rows, "no languages"
    for r in rows:
        assert r.zipf_slope <= 0.0, r
        assert r.n_types > 0


def test_lsh_cosine_pairs_recall_and_exactness(spark, sf_dir):
    """The native random-projection LSH must (a) never emit a false
    positive (verification is exact), (b) score every emitted pair
    identically to the brute-force twin, and (c) keep recall high on
    the fixture corpus (measured 0.98 at sf0.01/sf0.1 with the default
    4 tables — assert a loose floor so hash-family regressions are
    loud without flaking on seed sensitivity)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        cosine_pairs,
        lsh_cosine_pairs,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_id_a, r.vec_id_b): r.cos_sim
        for r in cosine_pairs(e, threshold=0.4).collect()
    }
    lsh = {
        (r.vec_id_a, r.vec_id_b): r.cos_sim
        for r in lsh_cosine_pairs(e, threshold=0.4, seed=42).collect()
    }
    assert exact, "fixture lost its qualifying pairs"
    false_pos = set(lsh) - set(exact)
    assert not false_pos, f"false positives: {sorted(false_pos)[:5]}"
    for pair, c in lsh.items():
        assert abs(c - exact[pair]) < 1e-9, (pair, c, exact[pair])
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall collapsed: {recall:.3f}"


def test_lsh_topk_cosine_recall_and_exactness(spark, sf_dir):
    """The native seeded LSH top-k (sim_topk_lsh's operator, replaced
    MLlib in round 8) must (a) emit only true cosines — every
    (query, neighbor, cos) it returns appears with the identical score
    in the exact twin's full ranking, (b) never rank a self-match or
    exceed k per query, and (c) keep recall@10 high on the fixture
    (measured 0.96 at sf0.01 with the default 4 tables / w=0.5 —
    assert a loose floor so hash-family regressions are loud without
    flaking on seed sensitivity)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        lsh_topk_cosine,
        topk_cosine,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact10 = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in topk_cosine(e, q, k=10).collect()
    }
    # the full exact ranking (large k) anchors score exactness for LSH
    # hits that fall outside the exact top-10
    exact_all = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in topk_cosine(e, q, k=10**6).collect()
    }
    lsh_rows = lsh_topk_cosine(e, q, k=10).collect()
    assert exact10 and lsh_rows
    per_query: dict = {}
    for r in lsh_rows:
        assert r.query_id != r.neighbor_id
        assert (r.query_id, r.neighbor_id) in exact_all
        assert abs(r.cos_sim - exact_all[(r.query_id, r.neighbor_id)]) < 1e-9
        per_query.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_query.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (qid, ranks)
        assert len(ranks) <= 10
    hits = sum(
        1 for key in ((r.query_id, r.neighbor_id) for r in lsh_rows)
        if key in exact10
    )
    recall = hits / len(exact10)
    assert recall >= 0.7, f"LSH top-k recall collapsed: {recall:.3f}"


def test_lsh_topk_mapside_matches_join_form(spark, sf_dir):
    """`lsh_topk_cosine_mapside` (round 9: broadcast-query single-pass
    twin) must emit EXACTLY the join form's rows — same buckets (shared
    floor(round-9) expression), same scores, same ties — at
    probe_width 0 AND 1, on the fixture plus degenerate corpus rows
    (null / empty / zero-norm vectors, which both forms drop)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        lsh_topk_cosine,
        lsh_topk_cosine_mapside,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    degenerate = spark.createDataFrame(
        [
            (900001, None),
            (900002, []),
            (900003, [0.0] * 64),
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = e.unionByName(degenerate)
    q = e.filter(F.col("vec_id") % 100 == 0)
    for pw in (0, 1):
        a = lsh_topk_cosine(e, q, k=10, probe_width=pw)  # join form raises on ragged; use clean corpus
        b = lsh_topk_cosine_mapside(corpus, q, k=10, probe_width=pw)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, pw
    # empty query side: the contract empty frame
    empty_q = e.filter(F.col("vec_id") < 0)
    assert lsh_topk_cosine_mapside(e, empty_q, k=10).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probe_width"):
        lsh_topk_cosine_mapside(e, q, probe_width=-1)


def test_lsh_topk_assume_dim_matches_probing_path(spark, sf_dir):
    """`assume_dim` (round 9: composite callers skip the ragged-probe
    job) must not change a single row when the assertion is true, and
    must reject nonsense widths eagerly."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        lsh_topk_cosine,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    a = lsh_topk_cosine(e, q, k=5)
    b = lsh_topk_cosine(e, q, k=5, assume_dim=64)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="assume_dim"):
        lsh_topk_cosine(e, q, k=5, assume_dim=0)


def test_lsh_topk_multiprobe_improves_recall(spark, sf_dir):
    """Multi-probe LSH (probe_width=1: each query also visits the ±1
    neighboring bucket per table) must dominate single-probe — its
    candidate set is a superset by construction, so recall@10 can only
    go up — while every emitted score stays a true cosine (subset of
    the exact full ranking with identical values)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.similarity import (
        lsh_topk_cosine,
        topk_cosine,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import load_table
    from pyspark.sql import functions as F

    import pytest

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    # one full exact scan: its rank column yields both the anchor
    # ranking and the top-10 reference set
    exact_rows = topk_cosine(e, q, k=10**6).collect()
    exact_all = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact_rows}
    exact10 = {
        (r.query_id, r.neighbor_id) for r in exact_rows if r.rank <= 10
    }

    def recall(probe_width):
        rows = lsh_topk_cosine(e, q, k=10, probe_width=probe_width).collect()
        for r in rows:
            assert abs(r.cos_sim - exact_all[(r.query_id, r.neighbor_id)]) < 1e-9
        hits = {(r.query_id, r.neighbor_id) for r in rows} & exact10
        return len(hits) / len(exact10)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0, (r0, r1)
    assert r1 >= 0.9, f"multi-probe recall should approach exact: {r1:.3f}"
    with pytest.raises(ValueError, match="probe_width"):
        lsh_topk_cosine(e, q, k=10, probe_width=-1)


def test_containment_finds_small_doc_inside_big_doc(spark):
    """The case Jaccard structurally misses: a short doc pasted whole
    into a much longer one has overlap coefficient 1.0 but Jaccard
    ≈ |A|/|B|, far below any useful threshold. The asymmetric prefix
    filter must surface it; the symmetric Jaccard prefix filter at the
    same 0.9 bar must not (documents the two operators' distinct
    semantics, not a defect in either)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        containment_candidate_pairs,
        overlap_verify_elements,
        prefix_filter_candidate_pairs,
        shingle_elements,
    )

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote), (2, quote + " " + filler), (3, filler)],
        "doc_id long, text string",
    )
    ex = shingle_elements(docs, "doc_id", "text", n=3)
    cands = containment_candidate_pairs(ex, "doc_id", threshold=0.9)
    got = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in overlap_verify_elements(
            cands, ex, "doc_id", threshold=0.9
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0, got
    # doc 3 ⊂ doc 2 as well (filler is a verbatim suffix of doc 2)
    assert (2, 3) in got and got[(2, 3)] == 1.0, got
    assert (1, 3) not in got
    jacc = set(
        (r.doc_id_a, r.doc_id_b)
        for r in prefix_filter_candidate_pairs(
            ex, "doc_id", threshold=0.9
        ).collect()
    )
    assert (1, 2) not in jacc, "Jaccard prefix filter should size-prune this pair"


def test_containment_boundary_threshold_exact_recall(spark):
    """A pair sitting exactly AT the threshold must survive the prefix
    filter's ceil arithmetic (the epsilon-backoff contract). 10 shingles
    in the small doc, 9 shared -> oc = 0.9 exactly at t=0.9."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        containment_candidate_pairs,
        overlap_verify_elements,
    )

    # synthetic element relation: doc 1 has elements 0..9, doc 2 has
    # 1..9 plus 100..140 (shares 9 of doc 1's 10 -> oc 0.9 w.r.t. doc 1)
    rows = [(1, h) for h in range(10)]
    rows += [(2, h) for h in range(1, 10)]
    rows += [(2, h) for h in range(100, 141)]
    ex = spark.createDataFrame(rows, "doc_id long, __h long")
    out = overlap_verify_elements(
        containment_candidate_pairs(ex, "doc_id", threshold=0.9),
        ex,
        "doc_id",
        threshold=0.9,
    ).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.containment) for r in out] == [(1, 2, 0.9)]


def test_bigram_surprisal_hand_computed(spark):
    """Tiny corpus where the bigram LM is computable by hand:
    C('a b')=3, C('b a')=1, C('b c')=1; contexts C(a .)=3, C(b .)=2.
    P(b|a)=1 -> surprisal 0; P(a|b)=P(c|b)=1/2 -> ln 2."""
    import math

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        bigram_surprisal_scores,
    )

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in bigram_surprisal_scores(df, "doc_id", "text").collect()
    }
    ln2 = math.log(2.0)
    assert set(out) == {1, 2}, "single-token doc must be omitted"
    assert out[1].n_bigrams == 3
    assert out[1].avg_surprisal == round(ln2 / 3, 6)
    assert out[1].max_surprisal == round(ln2, 6)
    assert out[2].n_bigrams == 2
    assert out[2].avg_surprisal == round(ln2 / 2, 6)
    assert out[2].max_surprisal == round(ln2, 6)


def test_bigram_surprisal_templated_text_scores_low(spark):
    """The gate's purpose: a doc assembled from the corpus's dominant
    template must score strictly lower mean surprisal than a doc of
    corpus-rare transitions."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        bigram_surprisal_scores,
    )

    template = "click here to subscribe now"
    rows = [(i, template) for i in range(10)]
    # Rare doc reuses the COMMON context words with unseen
    # continuations — the case the LM penalizes. (A doc of globally
    # unique words scores 0: its 1/1 transitions are 'predictable'
    # to a self-trained model; self-surprisal measures transition
    # oddity given context frequency, not vocabulary rarity.)
    rows.append((100, "click quantum here hedgehog to marble"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_surprisal for r in
           bigram_surprisal_scores(df, "doc_id", "text").collect()}
    assert out[0] < out[100]


def test_score_against_index_oov_escape(spark):
    """External-LM scoring with hand-computed counts. Reference
    'a b a c': C(a b)=C(b a)=C(a c)=1, contexts C(a .)=2, C(b .)=1,
    N=3 -> escape surprisal ln(4). Probe 'a b z q': 'a b' seen at
    -ln(1/2), 'b z' and 'z q' unseen."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        bigram_count_index,
        score_against_bigram_index,
    )

    ref = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
    index = bigram_count_index(ref, "text")
    n_total = index.agg(F.sum("__c2")).first()[0]
    assert n_total == 3
    probe = spark.createDataFrame([(9, "a b z q")], "doc_id long, text string")
    out = score_against_bigram_index(
        probe, "doc_id", "text", index, n_index_bigrams=int(n_total)
    ).collect()
    assert len(out) == 1
    r = out[0]
    ln2, ln4 = math.log(2.0), math.log(4.0)
    assert r.n_bigrams == 3 and r.n_oov == 2
    assert r.avg_surprisal == round((ln2 + 2 * ln4) / 3, 6)
    assert r.max_surprisal == round(ln4, 6)


def test_self_scoring_unchanged_by_index_refactor(spark):
    """bigram_surprisal_scores must equal index-scoring against its own
    corpus (zero OOV, identical values) — the self/external twins share
    one gram builder and count core."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        bigram_count_index,
        bigram_surprisal_scores,
        score_against_bigram_index,
    )

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    self_scores = {
        (r.doc_id, r.n_bigrams, r.avg_surprisal, r.max_surprisal)
        for r in bigram_surprisal_scores(df, "doc_id", "text").collect()
    }
    index = bigram_count_index(df, "text")
    n_total = index.agg(F.sum("__c2")).first()[0]
    ext = score_against_bigram_index(
        df, "doc_id", "text", index, n_index_bigrams=int(n_total)
    ).collect()
    assert all(r.n_oov == 0 for r in ext)
    ext_scores = {
        (r.doc_id, r.n_bigrams, r.avg_surprisal, r.max_surprisal) for r in ext
    }
    assert ext_scores == self_scores


def test_empty_bigram_index_raises(spark):
    """Scoring against an empty reference LM must fail fast, not score
    every OOV bigram as 'perfectly predictable' (escape ln(1) = 0)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        bigram_count_index,
        score_against_bigram_index,
    )

    ref = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    index = bigram_count_index(ref, "text")
    probe = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty"):
        score_against_bigram_index(
            probe, "doc_id", "text", index, n_index_bigrams=0
        )


# --- Span excision (round 14) -----------------------------------------


def _py_excise(texts: dict, k: int = 8, w: int = 4) -> dict:
    """Naive reference: winnow per doc, find fingerprints shared by
    >= 2 docs, cut every char covered by a duplicated window."""
    import hashlib

    L = k + w - 1
    fps = {}
    wins = {}
    for did, t in texts.items():
        hs = [
            hashlib.md5(t[i : i + k].encode()).hexdigest()[:8]
            for i in range(len(t) - k + 1)
        ]
        if len(hs) < w:
            wins[did] = []
            continue
        wins[did] = [
            (j + 1, min(hs[j : j + w])) for j in range(len(hs) - w + 1)
        ]
        fps[did] = {fp for _, fp in wins[did]}
    shared = {
        fp
        for did, s in fps.items()
        for fp in s
        if sum(1 for o, so in fps.items() if o != did and fp in so) >= 1
    }
    out = {}
    for did, t in texts.items():
        cov = set()
        for j, fp in wins[did]:
            if fp in shared:
                cov.update(range(j, j + L))  # 1-based chars j..j+L-1
        out[did] = "".join(
            c for p, c in enumerate(t, start=1) if p not in cov
        )
    return out


def test_excise_spans_planted_duplicates(spark):
    """A span planted in two documents is cut from BOTH; text outside
    any shared window survives; a doc sharing nothing is untouched."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        excise_duplicated_spans,
    )

    boiler = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    texts = {
        1: "alpha unique opening. " + boiler + " trailing one.",
        2: "totally different body! " + boiler + " closing words.",
        3: "this document shares nothing with the others at all.",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.clean_text, r.n_cut)
        for r in excise_duplicated_spans(df, "doc_id", "text").collect()
    }
    expect = _py_excise(texts)
    for did in texts:
        assert got[did][0] == expect[did], did
        assert got[did][1] == len(texts[did]) - len(expect[did])
    assert boiler not in got[1][0] and boiler not in got[2][0]
    assert got[3] == (texts[3], 0)


@given(
    st.lists(
        st.text(
            st.characters(min_codepoint=97, max_codepoint=102),
            min_size=0,
            max_size=60,
        ),
        min_size=2,
        max_size=5,
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_excise_spans_matches_reference(spark, raws):
    """Differential gate on a tiny low-entropy alphabet (maximizes
    shared substrings): the distributed fold must equal the naive
    per-char reference on every document, including fully-excised and
    too-short-to-fingerprint ones."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        excise_duplicated_spans,
    )

    texts = dict(enumerate(raws))
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: r.clean_text
        for r in excise_duplicated_spans(df, "doc_id", "text").collect()
    }
    expect = _py_excise(texts)
    assert got == expect


def test_excise_spans_idempotent_on_fixture(spark, sf_dir):
    """Substring dedup settles: re-running the excision on its own
    output cuts (almost) nothing — duplicated spans were removed from
    EVERY document carrying them, so the only possible second-pass
    cuts are coincidental k-gram collisions created at cut seams.
    On the fixture corpus there are none."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        excise_duplicated_spans,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    once = excise_duplicated_spans(d, "doc_id", "text").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    cut_first = excise_duplicated_spans(d, "doc_id", "text").agg(
        F.sum("n_cut")
    ).first()[0]
    assert cut_first > 0, "fixture corpus must contain duplicated spans"
    twice = excise_duplicated_spans(once, "doc_id", "text")
    assert twice.agg(F.sum("n_cut")).first()[0] == 0


def test_winnow_windows_arrow_equivalence(spark, sf_dir):
    """The Arrow memoized position-aware winnow must emit byte-identical
    (doc_id, j, fp) rows to the expression form over the real corpus —
    the same gate winnow_fingerprints_arrow carries."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_windows,
        winnow_windows_arrow,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    a = {tuple(r) for r in winnow_windows(d, "doc_id", "text").collect()}
    # the arrow twin emits the md5-prefix VALUE as a long; format()
    # recovers the expression form's hex string exactly
    b = {
        (r.doc_id, r.j, format(r.fp, "08x"))
        for r in winnow_windows_arrow(d, "doc_id", "text").collect()
    }
    assert a == b and a


def test_winnow_windows_arrow_starved_memo(spark):
    """A starvation budget forces constant memo clearing — output must
    not change (clearing costs re-hashing, never rows)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_windows_arrow,
    )

    df = spark.createDataFrame(
        [(1, "abcabcabcabcabc"), (2, "the quick brown fox!")],
        "doc_id long, text string",
    )
    full = {
        tuple(r)
        for r in winnow_windows_arrow(df, "doc_id", "text").collect()
    }
    starved = {
        tuple(r)
        for r in winnow_windows_arrow(
            df, "doc_id", "text", memo_budget_bytes=1
        ).collect()
    }
    assert full == starved and full


def test_excise_cut_paths_agree(spark, sf_dir):
    """The expression fold and the Arrow cut must produce identical
    cleaned documents over the real corpus (the query runs arrow; the
    oracle semantics are pinned by the expr differential tests)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        excise_duplicated_spans,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    a = {
        tuple(r)
        for r in excise_duplicated_spans(
            d, "doc_id", "text", cut="expr"
        ).collect()
    }
    b = {
        tuple(r)
        for r in excise_duplicated_spans(
            d, "doc_id", "text", cut="arrow"
        ).collect()
    }
    assert a == b and a


def test_parallelism_floor_guard(spark):
    """The r14 scale-adaptive parallelism floor: a starved input (fewer
    partitions than defaultParallelism) is repartitioned up to it; an
    input already at/above the target is returned UNCHANGED (the
    production-scale no-op guarantee), and row content is preserved."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.parallel import (
        parallelism_floor,
    )

    target = spark.sparkContext.defaultParallelism
    starved = spark.range(0, 100, 1, 1)
    floored = parallelism_floor(starved)
    assert floored.rdd.getNumPartitions() == target
    assert sorted(r.id for r in floored.collect()) == list(range(100))

    wide = spark.range(0, 100, 1, target + 4)
    same = parallelism_floor(wide)
    # at/above the floor: the exact same plan object, no added exchange
    assert same is wide


def test_winnow_window_groups_match_flat(spark, sf_dir):
    """`winnow_window_groups_arrow` (r14) must be exactly
    `winnow_windows_arrow` grouped by (id, fp) with ascending start
    arrays — the grouped relation span excision consumes."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        winnow_window_groups_arrow,
        winnow_windows_arrow,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.files import (
        load_table,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    flat = (
        winnow_windows_arrow(docs, "doc_id", "text", k=8, w=4)
        .groupBy("doc_id", "fp")
        .agg(F.array_sort(F.collect_list("j")).alias("starts"))
    )
    grouped = winnow_window_groups_arrow(docs, "doc_id", "text", k=8, w=4)
    a = {(r.doc_id, r.fp, tuple(r.starts)) for r in flat.collect()}
    b = {(r.doc_id, r.fp, tuple(r.starts)) for r in grouped.collect()}
    assert a == b and a
    # within-group starts must arrive ascending straight from the worker
    bad = grouped.filter(
        F.col("starts") != F.array_sort(F.col("starts"))
    ).count()
    assert bad == 0


def test_bigram_counts_window_matches_join_form(spark):
    """`_bigram_counts` (r14 window form) must produce the same
    (__gram, __c2, __c1) rows as the two-aggregate join form it
    replaced: C(w1·) per bigram == the sum of C(w1 w2) over the
    bigrams sharing its first word."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        _bigram_counts,
        _doc_bigrams,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a b"),
            (3, "c c c c"),
            (4, "solo"),  # < 2 tokens: contributes no bigrams
        ],
        ["doc_id", "text"],
    )
    grams = _doc_bigrams(docs, "doc_id", "text").select("__gram")
    got = {
        (r["__gram"], r["__c2"], r["__c1"])
        for r in _bigram_counts(grams).collect()
    }
    # join-form reference, restated inline
    cb = grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__c2"))
    w1 = F.split(F.col("__gram"), " ").getItem(0)
    cw = cb.groupBy(w1.alias("__w1")).agg(F.sum("__c2").alias("__c1"))
    ref = {
        (r["__gram"], r["__c2"], r["__c1"])
        for r in cb.withColumn("__w1", w1)
        .join(cw, "__w1")
        .drop("__w1")
        .collect()
    }
    assert got == ref and got
    # spot-check one context total by hand: "a b" ×3, "b a" ×1,
    # "b c" ×1 → C(a·) = 3, C(b·) = 2
    by_gram = {g: (c2, c1) for g, c2, c1 in got}
    assert by_gram["a b"] == (3, 3)
    assert by_gram["b c"] == (1, 2)


def test_gram_multiset_counts_matches_agg(spark):
    """`gram_multiset_counts` (r14 zero-shuffle Arrow fold) must equal
    the grouped-aggregate form it replaced in text_repetition_stats:
    per document, (distinct grams, max occurrence count, occurrences
    of repeated grams) over non-distinct bigrams."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        gram_multiset_counts,
        word_grams,
        whitespace_tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # grams: ab ba ab ba → nd=2 mx=2 dup=4
            (2, "x y z"),            # xy yz → nd=2 mx=1 dup=0
            (3, "r r r r"),          # rr ×3 → nd=1 mx=3 dup=3
            (4, "one two"),          # single gram → nd=1 mx=1 dup=0
        ],
        ["doc_id", "text"],
    )
    toks = docs.select(
        "doc_id", whitespace_tokens(F.col("text")).alias("__t")
    ).filter(F.size("__t") >= 2)
    got = {
        (r["doc_id"], r["__s"]["nd"], r["__s"]["mx"], r["__s"]["dup"])
        for r in toks.select(
            "doc_id", gram_multiset_counts(word_grams(F.col("__t"), n=2)).alias("__s")
        ).collect()
    }
    # grouped-aggregate reference, restated inline
    ex = toks.select("doc_id", F.explode(word_grams(F.col("__t"), n=2)).alias("__g"))
    counts = ex.groupBy("doc_id", "__g").agg(F.count(F.lit(1)).alias("__c"))
    ref = {
        (r["doc_id"], r["nd"], r["mx"], r["dup"])
        for r in counts.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.max("__c").alias("mx"),
            F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias("dup"),
        )
        .collect()
    }
    assert got == ref and got
    assert (1, 2, 2, 4) in got and (3, 1, 3, 3) in got


def test_df_salting_hot_gram_exact(spark):
    """The salted two-phase document-frequency count (the r15 hot-key
    guard, VERDICT r14 item 1) must produce the SAME candidate pairs as
    the single count window on a corpus with a genuinely hot gram —
    one shingle shared by 50% of documents — for every salt setting,
    while its plan spreads that gram's posting list over (h, salt)
    groups instead of one window partition."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        _attach_document_frequency,
        containment_candidate_pairs,
        prefix_filter_candidate_pairs,
        shingle_elements,
    )

    # 20 near-dup pairs (docs 2k / 2k+1 share a 20-token base — Jaccard
    # 18/22 ≈ 0.82, containment 18/19 ≈ 0.947); every EVEN doc carries
    # the hot trigram, so one shingle sits in 50% of the corpus
    hot = "hot hot gram"
    rows = []
    for k in range(20):
        base = " ".join(f"p{k}w{j}" for j in range(20))
        rows.append((2 * k, hot + " " + base))
        rows.append((2 * k + 1, base + " tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ex = shingle_elements(docs, "doc_id", "text", n=3)

    # exact __df equality on the hot corpus, all salt settings
    base = {
        (r["doc_id"], r["__h"]): r["__df"]
        for r in _attach_document_frequency(ex, "doc_id", salt_groups=1).collect()
    }
    assert max(base.values()) == 20  # the hot gram IS hot: 50% of docs
    for g in (2, 8, 64):
        salted = {
            (r["doc_id"], r["__h"]): r["__df"]
            for r in _attach_document_frequency(
                ex, "doc_id", salt_groups=g
            ).collect()
        }
        assert salted == base, f"salt_groups={g} changed __df"

    # candidate sets (incl. carried sizes) identical, both generators
    for fn, t in (
        (prefix_filter_candidate_pairs, 0.6),
        (containment_candidate_pairs, 0.9),
    ):
        unsalted = sorted(
            map(tuple, fn(ex, "doc_id", threshold=t, salt_groups=1).collect())
        )
        assert unsalted, "hot-gram fixture must produce candidates"
        salted = sorted(
            map(tuple, fn(ex, "doc_id", threshold=t, salt_groups=8).collect())
        )
        assert salted == unsalted, fn.__name__

    # plan property of the df computation itself: the element relation
    # is partially aggregated map-side and exchanged on (__h, __salt),
    # and the only window partitioned by __h ALONE consumes the
    # aggregated per-salt partials (sum(__cp)) — never the raw posting
    # list, so the hot gram's occurrences never converge on one task.
    # (The candidate SELF-JOIN still exchanges prefixes on __h, which
    # is a join partition — AQE skew-split applies there, unlike
    # windows.)
    salted_plan = (
        _attach_document_frequency(ex, "doc_id", salt_groups=8)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "partial_count" in salted_plan, salted_plan  # map-side combine
    assert "hashpartitioning(__h" in salted_plan
    for line in salted_plan.splitlines():
        for frag in line.split("windowspecdefinition(")[1:]:
            if frag.startswith("__h") and ", __salt" not in frag.split(
                "specifiedwindowframe"
            )[0]:
                assert "sum(__cp" in line, (
                    "__h-alone window over the raw element relation:\n"
                    + salted_plan
                )

    # session-conf opt-in reaches the plan without a code change
    spark.conf.set("spark.nkch.df.saltGroups", "4")
    try:
        conf_plan = prefix_filter_candidate_pairs(
            ex, "doc_id", threshold=0.6
        )._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "__salt" in conf_plan
    finally:
        spark.conf.unset("spark.nkch.df.saltGroups")


def test_gram_multiset_counts_null_array(spark):
    """A NULL gram array must count as empty (nd=mx=dup=0), not raise
    Counter(None) in the executor — the operator is public API even
    though every current caller filters size >= 2 first (ADVICE r14)."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        gram_multiset_counts,
    )

    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, None), (3, [])],
        "doc_id long, g array<string>",
    )
    got = {
        r["doc_id"]: (r["s"]["nd"], r["s"]["mx"], r["s"]["dup"])
        for r in df.select(
            "doc_id", gram_multiset_counts(F.col("g")).alias("s")
        ).collect()
    }
    assert got == {1: (2, 2, 2), 2: (0, 0, 0), 3: (0, 0, 0)}


@pytest.mark.parametrize(
    "op", ["topk_cosine_mapside", "lsh_topk_cosine_mapside", "adc_topk", "ivfpq_adc_topk"]
)
def test_mapside_topk_refuses_oversized_query_set(spark, op, monkeypatch):
    """The broadcast-query operators ship the query matrix in every
    task closure, so an over-cap query relation must refuse at plan
    construction (limit(max+1) short-circuits the scan) instead of
    OOMing — the bloom_prefilter(max_bits=...) contract style (VERDICT
    r14 item 5). topk_cosine_mapside takes the cap as max_query_rows;
    the others share the module constant."""
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    books = similarity.train_pq_codebooks(
        vecs, n_subspaces=2, n_codes=2, refine_iterations=0
    )
    cent = similarity.train_ivf_centroids(vecs, n_cells=2)
    default = similarity._MAX_QUERY_ROWS

    def search(cap):
        if op == "topk_cosine_mapside":
            return similarity.topk_cosine_mapside(vecs, vecs, k=2, max_query_rows=cap)
        monkeypatch.setattr(similarity, "_MAX_QUERY_ROWS", cap)
        if op == "lsh_topk_cosine_mapside":
            return similarity.lsh_topk_cosine_mapside(vecs, vecs, k=2)
        if op == "adc_topk":
            return similarity.adc_topk(similarity.encode_pq(vecs, books), books, vecs, k=2)
        index = similarity.encode_ivfpq(vecs, books, cent)
        return similarity.ivfpq_adc_topk(index, books, cent, vecs, k=2)

    with pytest.raises(ValueError, match="max_query_rows"):
        search(3)
    # under the cap the guarded plan is the same operator, same results
    out = search(6)
    base = search(default)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_similarity_driver_collects_are_a_closed_list():
    """Every driver collect (``.collect()`` / ``.toPandas()``) in
    operators/similarity.py, by enclosing top-level function. A new
    site fails here: route a broadcast-query collect through
    ``_collect_queries`` (row-capped), or add the site with its bound."""
    import ast
    import collections
    import pathlib

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators import similarity

    tree = ast.parse(pathlib.Path(similarity.__file__).read_text())
    sites = collections.Counter(
        getattr(top, "name", "<module>")
        for top in tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("collect", "toPandas")
    )
    assert sites == {
        "_probe_dims": 1,  # one row per (side, distinct width)
        "_collect_queries": 1,  # limit(max_rows + 1), then refuse
        "cosine_pairs": 1,  # limit(max_rows + 1), then refuse
        "train_ivf_centroids": 2,  # n_cells seeds; n_cells·dim sums per round
        "lsh_topk_cosine": 1,  # join form's query side, not yet capped
        "train_pq_codebooks": 2,  # limit(train_sample), twice if ragged
    }
